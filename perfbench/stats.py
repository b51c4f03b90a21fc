"""The benchmark's own arithmetic: percentiles, span self time, the
sink's write amplification and the failure ratio. Pure functions, so
perfbench/tests can hold them to hand-computed values.
"""
import math

# A tail percentile is reported only with at least this many samples
# beyond it.
TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p < 100) of `values`, and the
    number of samples strictly beyond its rank."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def tail_percentile(values):
    """The p75 the benchmark reports. p75 is the highest percentile that
    keeps TAIL_BEYOND samples beyond it once there are 40 samples; with
    fewer, p75 would rest on too few and this raises."""
    value, beyond = percentile(values, 75)
    if beyond < TAIL_BEYOND:
        raise ValueError(f"p75 of {len(values)} samples has {beyond} beyond it, "
                         f"fewer than {TAIL_BEYOND}")
    return value


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    covered, reach = 0.0, lo
    for s, e in sorted(intervals):
        a, b = max(s, reach), min(e, hi)
        if b > a:
            covered += b - a
            reach = b
    return covered


def assign_parents(spans):
    """Gives each span with parent -1 (measured by a listener) the
    innermost other span that contains it in time and has another name:
    parallel tasks overlap without nesting, and a task holds no span. Of
    two spans over the same interval, the one recorded first is the
    outer."""
    def outer(o, s):
        return (o["start"] <= s["start"] and s["end"] <= o["end"]
                and o["name"] != s["name"]
                and (o["end"] - o["start"], -o["id"]) > (s["end"] - s["start"], -s["id"]))
    out = []
    for s in spans:
        if s["parent"] == -1:
            holders = [o for o in spans if o["name"] != "exec.task" and outer(o, s)]
            s = dict(s, parent=min(holders, key=lambda o: (o["end"] - o["start"], -o["id"]))["id"]
                     if holders else 0)
        out.append(s)
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover. Children may overlap one another."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_self_times(spans):
    """Self time summed by layer, the span name's first component."""
    spans = assign_parents(spans)
    own = self_times(spans)
    by_layer = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + own[s["id"]]
    return by_layer


def write_amp(written_bytes, table_bytes):
    """Bytes the sink wrote over all merges per byte of the final table."""
    if table_bytes <= 0:
        raise ValueError("write amplification of an empty table")
    return written_bytes / table_bytes


def failed_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted

