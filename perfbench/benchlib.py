"""Statistics, span and metric helpers for the graft benchmark.

Pure functions only, so they can be tested without Spark; `run.py` uses
them to turn the harness's raw result file into metrics.
"""
import json
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def supported_percentile(n, beyond=10):
    """The highest of p50/p75/p90/p95/p99 that leaves at least `beyond`
    samples above it among `n`, or None when not even p50 does."""
    best = None
    for q in (50, 75, 90, 95, 99):
        if n * (100 - q) / 100.0 >= beyond:
            best = q
    return best


def quartile_spread(values):
    """Distance between the first and third quartile, as a share of the
    median, with quartiles as `statistics.quantiles(values, n=4)` gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans):
    """Self time of each span in nanoseconds: its duration minus the part of
    its interval that its direct children cover (overlapping children
    count once, and child time outside the parent is ignored)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], start), min(c["end_ns"], end))
                     for c in children.get(s["id"], []))
        covered = 0
        cur_s = cur_e = None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start) - covered
    return out


def expected_metrics(bench, trace):
    """Name -> unit of the metrics a run must report: every end-to-end
    metric without tracing, every per-layer metric with it."""
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


def validate_metrics(metrics, bench, trace):
    """Problems with a run's metrics against BENCHMARK.json: missing or
    unexpected names, wrong units, or values that are not finite numbers."""
    want = expected_metrics(bench, trace)
    problems = []
    for name in sorted(set(want) - set(metrics)):
        problems.append(f"missing metric {name}")
    for name in sorted(set(metrics) - set(want)):
        problems.append(f"metric {name} is not in BENCHMARK.json")
    for name, m in sorted(metrics.items()):
        if name in want and m.get("unit") != want[name]:
            problems.append(f"metric {name} has unit {m.get('unit')}, expected {want[name]}")
        v = m.get("value")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"metric {name} has value {v!r}")
    return problems


def load_benchmark(path):
    with open(path) as f:
        return json.load(f)
