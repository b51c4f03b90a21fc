"""Self-tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench/tests

The last two tests run the benchmark itself three times (about three
minutes, plus a build the first time).
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import run  # noqa: E402
import stats  # noqa: E402


def span(id_, parent, name, start, end):
    return {"id": id_, "parent": parent, "name": name, "start": start, "end": end}


class PercentileRule(unittest.TestCase):
    def test_p75_of_40_keeps_10_beyond(self):
        xs = list(range(40, 0, -1))  # 40..1, unsorted on purpose
        value, beyond = stats.percentile(xs, 75)
        self.assertEqual((value, beyond), (30, 10))
        self.assertEqual(stats.tail_percentile(xs), 30)

    def test_p75_with_fewer_than_10_beyond_is_refused(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(39)))

    def test_p75_of_many_samples(self):
        value, beyond = stats.percentile(range(1, 1001), 75)
        self.assertEqual((value, beyond), (750, 250))


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [span(1, 0, "bench.unit", 0.0, 10.0),
                 span(2, 1, "queries.build", 1.0, 4.0),
                 span(3, -1, "exec.task", 3.0, 6.0),   # overlaps span 2
                 span(4, -1, "exec.task", 5.0, 6.0),   # inside span 3's time
                 span(5, -1, "exec.task", 8.0, 12.0)]  # runs past its parent
        spans = stats.assign_parents(spans)
        # a task holds no span, and span 5 fits in none
        self.assertEqual([s["parent"] for s in spans], [0, 1, 1, 1, 0])
        own = stats.self_times(spans)
        # span 1's children cover [1,4] + [3,6] + [5,6] = [1,6]
        self.assertAlmostEqual(own[1], 10.0 - 5.0)
        self.assertAlmostEqual(own[2], 3.0)
        by_layer = stats.layer_self_times(spans)
        self.assertAlmostEqual(by_layer["bench"], 5.0)
        self.assertAlmostEqual(by_layer["queries"], 3.0)
        self.assertAlmostEqual(by_layer["exec"], 3.0 + 1.0 + 4.0)

    def test_listener_spans_nest_innermost(self):
        spans = [span(1, 0, "bench.unit", 0.0, 10.0),
                 span(2, -1, "stream.batch", 1.0, 5.0),
                 span(3, -1, "stream.addBatch", 2.0, 4.0),
                 span(4, -1, "sinks.merge", 2.5, 3.5),
                 span(5, -1, "stream.batch", 5.0, 9.0)]
        parents = {s["id"]: s["parent"] for s in stats.assign_parents(spans)}
        self.assertEqual(parents, {1: 0, 2: 1, 3: 2, 4: 3, 5: 1})

    def test_union_length_clips(self):
        self.assertAlmostEqual(
            stats.union_length([(0, 2), (1, 3), (5, 20)], 1, 10), 2 + 5)


class Ratios(unittest.TestCase):
    def test_write_amp(self):
        self.assertAlmostEqual(stats.write_amp(10 * 2**20, 4 * 2**20), 2.5)
        with self.assertRaises(ValueError):
            stats.write_amp(1, 0)

    def test_failed_ratio(self):
        self.assertAlmostEqual(stats.failed_ratio(3, 40), 0.075)
        self.assertEqual(stats.failed_ratio(0, 18000), 0.0)
        for bad in ((1, 0), (5, 4), (-1, 4)):
            with self.assertRaises(ValueError):
                stats.failed_ratio(*bad)


class EndToEndMetrics(unittest.TestCase):
    def test_failed_unit_is_left_out_of_wall_s(self):
        raw = {"unit_walls_s": [40.0, 3.0, 42.0], "unit_ok": [True, False, True],
               "op_s": [float(i) for i in range(1, 121)], "vm_hwm_kb": 2048}
        m = run.end_to_end(raw, 20.0, failed=1, attempted=120)
        self.assertAlmostEqual(m["wall_s"][0], 41.0)
        self.assertAlmostEqual(m["throughput_per_s"][0], len(run.QUERY_MIX) / 41.0)
        self.assertAlmostEqual(m["op_p75_s"][0], 90.0)
        self.assertAlmostEqual(m["ok_ratio"][0], 119 / 120)

    def test_every_unit_failed_still_reports_wall_s(self):
        raw = {"unit_walls_s": [3.0], "unit_ok": [False],
               "op_s": [1.0] * 40, "vm_hwm_kb": 2048}
        self.assertAlmostEqual(run.end_to_end(raw, 20.0, 40, 40)["wall_s"][0], 3.0)


class OutputCheck(unittest.TestCase):
    def test_seeds_give_different_flight_sets(self):
        a, b = run.flight_plan(1), run.flight_plan(2)
        self.assertEqual(a, run.flight_plan(1))
        feed = lambda plan: {f for f, _, role in plan if role == "feed"}
        self.assertEqual(len(feed(a)), run.BATCH_FLIGHTS)
        self.assertFalse(feed(a) & feed(b))

    def test_flight_mismatches_names_the_wrong_flight(self):
        import pyarrow as pa
        check = run.load_check()
        good = pa.table({"flight_id": [1, 2, 3], "approach_id": [1, 1, 1],
                         "landing_type": ["go-around", "stop-and-go", "touch-and-go"]})
        bad = pa.table({"flight_id": [1, 2], "approach_id": [1, 1],
                        "landing_type": ["go-around", "touch-and-go"]})
        self.assertEqual(run.flight_mismatches(check, good, good), set())
        self.assertEqual(run.flight_mismatches(check, bad, good), {2, 3})
        retyped = good.set_column(1, "approach_id", pa.array([1, 1, 1], pa.int32()))
        self.assertIsNone(run.flight_mismatches(check, retyped, good))


class EndToEnd(unittest.TestCase):
    def test_two_seeds_both_pass_the_output_check(self):
        for seed in (101, 102):
            r = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", "flagship_batch",
                 "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                cwd=BENCH.parent, capture_output=True, text=True, timeout=900)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            result = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertTrue(result["correct"], result)
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], run.BATCH_FLIGHTS)

    def test_a_query_that_throws_is_counted_and_the_run_reports(self):
        # a name SparkEntry does not define makes that query throw
        script = ("import sys; sys.path.insert(0, 'perfbench'); "
                  "sys.argv = ['run.py', '--workload', 'query_mix', '--seed', '7', "
                  "'--seconds', '1', '--trace', '0']; import run; "
                  "run.QUERY_MIX[run.QUERY_MIX.index('q19_nulldrop')] = 'q00_undefined'; "
                  "run.main()")
        r = subprocess.run([sys.executable, "-c", script], cwd=BENCH.parent,
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("failed: q00_undefined: java.util.NoSuchElementException", r.stderr)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual((result["attempted"], result["failed"]), (40, 1))
        self.assertFalse(result["correct"])
        self.assertAlmostEqual(result["metrics"]["ok_ratio"]["value"], 39 / 40)
        self.assertGreater(result["metrics"]["op_p75_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
