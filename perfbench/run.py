#!/usr/bin/env python3
"""graft's benchmark: one workload, one fresh JVM, outputs checked.

    python3 perfbench/run.py --workload flagship_batch --seed 1 \\
        --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):
  flagship_batch   parquet fleet feed -> ApproachPipeline -> collect;
                   its traced run also streams a small feed through
                   ApproachStream into Sinks.mergeApproachesTable
  query_mix        40 SparkEntry.queries entries in a seeded order

The first run in a checkout builds graft and the harness with sbt
(offline) into target/ and .bench_build/. flagship_batch's inputs are
landed once per seed, by a JVM of their own, under
.bench_build/perfbench/inputs; the measured JVM then starts cold. Each
run works in a scratch directory under .bench_build/perfbench/runs and
removes it at the end. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}; --trace 0 gives
the end-to-end metrics, --trace 1 the per-layer ones and writes the
spans to .bench_build/perfbench/traces.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402

ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"
SF_DIR = Path.home() / "testdata" / "sf0.01"
HEAP = "3g"
THREADS = os.cpu_count() or 1
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Sizes of the landed inputs; BENCHMARK.json gives the reasoning.
BATCH_FLIGHTS = 3000
BATCH_SPAN_S = 4 * 3600
STREAM_WAVES = 4
STREAM_WAVE_FLIGHTS = 30
STREAM_WAVE_GAP_S = 1800
# Landed seeds kept; the oldest beyond this are removed.
INPUTS_KEPT = 8

# Forty queries. The nine heaviest of the mix first planned (q31 q47 q78
# q80 q85 q101 q123 q127 q158) together outlast a run's budget, and
# q123_align_recall's DuckDB oracle alone runs past 20 s; nine light
# relational entries take their place, so that p75 keeps 10 beyond it.
QUERY_MIX = """q02_filter_project q05_sortmerge_join q09_window_rank
q10_window_frame q12_topk q14_distinct_agg q16_geodesy q17_worklist_anti
q27_cube q29_percentiles q48_bucketed_join q53_asof_join q55_pivot
q67_zorder q77_bloom_prejoin q89_quantile_sketch q99_full_outer
q106_key_skew q30_exact_dedup q36_tokens q49_simhash64 q73_jsonl_roundtrip
q98_cohorts q102_setops_all q92_orc_roundtrip q143_url_canonicalize
q40_cosine_topk q69_pq_encode q71_ivfpq_search q129_codec_decode
q136_archive_explode q146_audio_pitch q154_tfrecord q04_broadcast_join
q06_semi_join q07_anti_join q08_rollup q13_setops q19_nulldrop
q54_range_join""".split()

WORKLOADS = ("flagship_batch", "query_mix")

# Per-layer metrics of layers a workload never runs; they read 0 there.
# Any other per-layer metric a traced run did not measure is an error.
NOT_RUN = {
    "flagship_batch": ("queries.relational_s", "queries.text_s",
                       "queries.vector_s", "queries.multimodal_s"),
    "query_mix": ("stream.", "sinks."),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def preflight(workload):
    """Exits non-zero with one message naming the first missing
    prerequisite."""
    missing = None
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        missing = f"graft sources (build.sbt and src/main/scala/graft under {ROOT})"
    elif not (ROOT / "tools/check.py").is_file():
        missing = "tools/check.py (the oracle comparison rules)"
    elif shutil.which("java") is None:
        missing = "java on PATH"
    elif workload == "query_mix" and not (SF_DIR / "lineitem.parquet").exists():
        missing = f"the test data at {SF_DIR}"
    else:
        for mod in ("duckdb", "pyarrow"):
            if importlib.util.find_spec(mod) is None:
                missing = f"Python module {mod}"
                break
    if missing:
        sys.exit(f"perfbench: prerequisite missing: {missing}")


# ---- build ------------------------------------------------------------

def source_stamp():
    h = hashlib.sha1()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src/main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file()
            and p.suffix in (".scala", ".sbt", ".properties", ".json", ".java"))
        for p in files:
            if "target" in p.relative_to(ROOT).parts:
                continue
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    stamp, cp_file, stamp_file = source_stamp(), STATE / "classpath.txt", STATE / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: prerequisite missing: compiled classes (and no sbt to build them)")
    STATE.mkdir(parents=True, exist_ok=True)
    repos = Path.home() / ".sbt" / "repositories"
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        sbt_opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: prerequisite missing: compiled classes (sbt build timed out)")
    lines = [ln for ln in r.stdout.splitlines()
             if os.pathsep in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        sys.exit("perfbench: prerequisite missing: compiled classes (sbt build failed)")
    log(f"built in {time.time() - t0:.0f} s")
    # inputs landed by the old build may differ from the new one's
    shutil.rmtree(STATE / "inputs", ignore_errors=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ---- JVM --------------------------------------------------------------

def jvm(classpath, main, run_dir, args, timeout=JVM_TIMEOUT_S):
    """Runs `main` of the harness in a fresh JVM confined to run_dir.
    Returns the launch time in epoch ms."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={tmp / 'derby.log'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main,
            "--threads", str(THREADS), "--scratch", str(run_dir)] + args
    launched = time.time() * 1000.0
    with open(run_dir / f"{main}.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = (run_dir / f"{main}.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    return launched


# ---- inputs -----------------------------------------------------------

def flight_plan(seed):
    """Seeded flight ids and start offsets in seconds: (flight, offset,
    role). The feed's flights start anywhere in a four-hour window. The stream probe's flights come in waves, so that
    a wave's approaches reach the sink together while every micro-batch
    carries input."""
    rng = random.Random(f"flagship_batch:{seed}")
    n_stream = STREAM_WAVES * STREAM_WAVE_FLIGHTS
    ids = rng.sample(range(1, 10 ** 9), BATCH_FLIGHTS + n_stream)
    plan = [(f, rng.randrange(BATCH_SPAN_S), "feed") for f in ids[:BATCH_FLIGHTS]]
    plan += [(f, (i // STREAM_WAVE_FLIGHTS) * STREAM_WAVE_GAP_S + rng.randrange(120), "stream")
             for i, f in enumerate(ids[BATCH_FLIGHTS:])]
    return plan


def landed_inputs(seed, classpath, run_dir):
    """The seed's landed inputs: its flight plan, and the batch feed
    that Land makes from it in a JVM of its own. Landed once per seed
    and kept, so no run's measured JVM pays for them."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cache = STATE / "inputs"
    inputs = cache / f"seed{seed}"
    if inputs.is_dir():
        return inputs
    staging = cache / f"seed{seed}.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    plan = flight_plan(seed)
    pq.write_table(pa.table({"flight": [p[0] for p in plan],
                             "offset": [p[1] for p in plan],
                             "role": [p[2] for p in plan]}),
                   staging / "flights.parquet")
    t0 = time.time()
    try:
        jvm(classpath, "graft.perfbench.Land", run_dir / "land", ["--inputs", str(staging)])
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    log(f"landed seed {seed} in {time.time() - t0:.1f} s")
    staging.rename(inputs)
    others = sorted((p for p in cache.iterdir() if p != inputs),
                    key=lambda p: p.stat().st_mtime)
    for old in others[:max(0, len(others) - (INPUTS_KEPT - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return inputs


# ---- output checks ----------------------------------------------------

def load_check():
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_connection(tmp):
    import duckdb
    con = duckdb.connect()
    con.execute("SET memory_limit='6GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=2")
    return con


def compare(check, spark_tbl, duck_tbl, con, sql):
    """None if the outputs agree under tools/check.py's rules, else why."""
    nested = {c: t for c, t in check.schema_classes(spark_tbl).items()
              if t.startswith(("list", "struct", "map"))}
    if nested:
        return f"nested output columns {nested}"
    scols, srows = check.table_rows(spark_tbl)
    dcols, drows = check.table_rows(duck_tbl)
    if scols != dcols:
        return f"columns spark={scols} duck={dcols}"
    if check.schema_classes(spark_tbl) != check.schema_classes(duck_tbl):
        return "column types differ"
    if sorted(srows, key=repr) != sorted(drows, key=repr):
        return f"rows differ (spark {len(srows)}, duck {len(drows)})"
    return check.pandas_parity(spark_tbl, con, sql)


def flight_mismatches(check, spark_tbl, duck_tbl):
    """Flight ids whose approach rows differ from the oracle's."""
    scols, srows = check.table_rows(spark_tbl)
    dcols, drows = check.table_rows(duck_tbl)
    if scols != dcols or check.schema_classes(spark_tbl) != check.schema_classes(duck_tbl):
        log(f"result schema differs from the q20 oracle: {scols} vs {dcols}")
        return None
    i = scols.index("flight_id")

    def by_flight(rows):
        out = {}
        for r in rows:
            out.setdefault(r[i], []).append(r)
        return {k: sorted(v, key=repr) for k, v in out.items()}
    s, d = by_flight(srows), by_flight(drows)
    return {f for f in set(s) | set(d) if s.get(f) != d.get(f)}


def check_flagship(raw, out_dir, inputs, tmp):
    """(attempted, failed) in flights. Each pass's flights are checked
    against the q20 closed form through the first pass's result and the
    pass's own differences from it; the stream probe's flights against
    the batch path."""
    import pyarrow.parquet as pq
    check = load_check()
    flights = raw["flights_per_unit"]
    units = len(raw["unit_ok"])
    attempted = flights * units + raw.get("stream_flights", 0)
    failed = flights * raw["unit_ok"].count(False) + len(raw.get("stream_differing", []))
    if raw.get("stream_differing"):
        log(f"{len(raw['stream_differing'])} stream flights differ from the batch path")
    if not (out_dir / "batch_result").exists():
        return attempted, attempted
    con = duck_connection(tmp)
    con.execute("CREATE VIEW events AS SELECT flight AS user_id FROM "
                f"read_parquet('{inputs / 'flights.parquet'}') WHERE role = 'feed'")
    sql = json.loads((out_dir / "oracle_sql.json").read_text())["q20_approaches"]
    bad = flight_mismatches(check, pq.read_table(out_dir / "batch_result"),
                            con.execute(sql).fetch_arrow_table())
    if bad is None:
        return attempted, attempted
    if bad:
        log(f"{len(bad)} flights differ from the q20 oracle, e.g. {sorted(bad)[:5]}")
    for diff in raw["differing"]:
        if diff:
            log(f"{len(diff)} flights differ between passes, e.g. {diff[:5]}")
        failed += len(bad | set(diff))
    return attempted, failed


def check_queries(raw, out_dir, tmp):
    """(attempted, failed) in queries: a query fails if it threw or its
    output differs from the DuckDB oracle."""
    import pyarrow.parquet as pq
    check = load_check()
    con = duck_connection(tmp)
    for t in check.TABLES:
        p = SF_DIR / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    units = len(raw["unit_ok"])
    threw = [f["op"] for f in raw["failures"]]
    failed = 0
    for name in QUERY_MIX:
        if name not in oracles:
            expected, oracle_error = None, "no oracle"
        else:
            try:
                expected = con.execute(oracles[name]).fetch_arrow_table()
            except Exception as e:  # an oracle error fails the query, logged below
                expected, oracle_error = None, f"oracle error {e}"
        for unit in range(units):
            qdir = out_dir / f"q{unit}" / name
            if not qdir.exists():
                why = "threw" if name in threw else "no output"
            elif expected is None:
                why = oracle_error
            else:
                why = compare(check, pq.read_table(qdir), expected, con, oracles[name])
            if why:
                log(f"{name} (pass {unit}): {why}")
                failed += 1
    return len(QUERY_MIX) * units, failed


# ---- metrics ----------------------------------------------------------

def end_to_end(raw, setup_s, failed, attempted):
    """The end-to-end metrics. A unit that failed part-way is left out
    of wall_s unless every unit failed; its operations still count in
    the percentiles, and its failures in ok_ratio."""
    walls = raw["unit_walls_s"]
    wall = statistics.median([w for w, ok in zip(walls, raw["unit_ok"]) if ok] or walls)
    work = raw.get("samples_per_unit", len(QUERY_MIX))
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "throughput_per_s": (work / wall, "1/s"),
        "op_p50_s": (statistics.median(raw["op_s"]), "s"),
        "op_p75_s": (stats.tail_percentile(raw["op_s"]), "s"),
        "ok_ratio": (1.0 - stats.failed_ratio(failed, attempted), "ratio"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }


def per_layer(raw, failed, attempted):
    layer = dict(raw["layer"])
    spans = raw["spans"]
    lo, hi = raw["window"]
    tasks = [(s["start"], s["end"]) for s in spans if s["name"] == "exec.task"]
    layer["exec.no_task_s"] = (hi - lo) - stats.union_length(tasks, lo, hi)
    for k, v in raw["setup"].items():
        layer.setdefault(k, v)
    written = raw.get("sink_written_bytes", 0.0)
    table = raw.get("sink_table_bytes", 0)
    layer["sinks.written_mb"] = written / 1048576.0
    layer["sinks.write_amp"] = stats.write_amp(written, table) if table else 0.0
    layer["trace.wall_s"] = raw["unit_walls_s"][0]
    layer["failed_ratio"] = stats.failed_ratio(failed, attempted)
    return layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    preflight(a.workload)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath = build()
    run_dir = STATE / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = run_dir / "out"
    out_dir.mkdir(parents=True)
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(run_dir / "raw.json"),
            "--outdir", str(out_dir)]
    try:
        inputs = None
        if a.workload == "flagship_batch":
            inputs = landed_inputs(a.seed, classpath, run_dir)
            args += ["--inputs", str(inputs)]
        else:
            order = list(QUERY_MIX)
            random.Random(f"query_mix:{a.seed}").shuffle(order)
            args += ["--sf", str(SF_DIR), "--queries", ",".join(order)]
        launched = jvm(classpath, "graft.perfbench.Harness", run_dir, args)
        raw = json.loads((run_dir / "raw.json").read_text())
        if a.workload == "query_mix":
            attempted, failed = check_queries(raw, out_dir, run_dir / "tmp")
        else:
            attempted, failed = check_flagship(raw, out_dir, inputs, run_dir / "tmp")
        for f in raw["failures"]:
            log(f"failed: {f['op']}: {f['message']}")
        setup_s = (raw["setup_end_ms"] - launched) / 1000.0
        if a.trace:
            metrics = per_layer(raw, failed, attempted)
            report_trace(a, raw, metrics)
            missing = [m["name"] for m in spec["per_layer"] if m["name"] not in metrics
                       and not m["name"].startswith(NOT_RUN[a.workload])]
            if missing:
                sys.exit(f"perfbench: per-layer metrics not measured: {missing}")
            out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        else:
            metrics = end_to_end(raw, setup_s, failed, attempted)
            out = {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def report_trace(a, raw, metrics):
    """Writes the spans and prints the three layers with most self time
    in the timed unit (the layer probes after it are left out)."""
    lo, hi = raw["window"]
    by_layer = stats.layer_self_times(
        [s for s in raw["spans"] if lo <= s["start"] and s["end"] <= hi])
    top = sorted(by_layer.items(), key=lambda kv: -kv[1])[:3]
    d = STATE / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{a.workload}-seed{a.seed}.json"
    path.write_text(json.dumps({"workload": a.workload, "seed": a.seed,
                                "self_time_s": by_layer, "spans": raw["spans"]}))
    print(f"[trace] {a.workload}: top self time " +
          ", ".join(f"{k} {v:.3f} s" for k, v in top) +
          f"; traced wall_s {metrics['trace.wall_s']:.3f} s; spans in {path}")


if __name__ == "__main__":
    main()
