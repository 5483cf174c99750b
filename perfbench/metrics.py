"""Turns one raw run record (written by the JVM side) into the benchmark's
metrics, and checks it for correctness.

Pure functions only, so the self-tests can drive them with synthetic
records."""

import math
import statistics

# The percentiles a latency tail may be reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(xs, q):
    """Linear-interpolated quantile of xs at q in [0, 1] (0.0 if empty)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile that has at least ten of n samples beyond it
    (None when n < 20: even the median would have fewer than ten)."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def op_failures(items, golden):
    """Names the failed ops of an op-list run: an exception, a missing
    golden digest, or a digest that differs from the golden one."""
    out = []
    for it in items:
        want = golden.get(it["name"])
        if it.get("error"):
            out.append("%s: %s" % (it["name"], it["error"]))
        elif want is None:
            out.append("%s: no golden digest" % it["name"])
        elif it["digest"] != want:
            out.append("%s: digest %s != golden %s"
                       % (it["name"], it["digest"], want))
    return out


def event_latencies(items):
    """Open-loop latency of each emitted event, from its scheduled creation
    to the end of the batch that emitted it (seconds), and the number of
    events never emitted."""
    lat = [(it["done_ms"] - it["sched_ms"]) / 1e3
           for it in items if it.get("done_ms") is not None]
    return lat, sum(1 for it in items if it.get("done_ms") is None)


def summarize(rec, golden):
    """Returns (end-to-end metrics, failures, attempted, failed, and the
    latencies the percentiles came from)."""
    w = rec["workload"]
    items = rec["items"]
    failures = list(rec.get("failures") or [])
    if w == "analytic_mix":
        bad = op_failures(items, golden.get(w, {}))
        failures = bad + failures
        failed_names = {f.split(":")[0] for f in bad}
        per_op = {}
        for it in items:
            if it["name"] not in failed_names:
                per_op.setdefault(it["name"], []).append(
                    it["build_s"] + it["action_s"])
        lat = [statistics.median(v) for v in per_op.values()]
        attempted = len(items)
        failed = sum(1 for it in items if it["name"] in failed_names)
    elif w == "table_commit":
        lat = [it["s"] for it in items if not it.get("error")]
        attempted = len(items) + 1  # the calls plus the final-state check
        failed = min(attempted, len(failures))
    elif w == "rc_stream":
        lat, missing = event_latencies(items)
        attempted = len(items)
        other = [f for f in failures if "never emitted" not in f]
        failed = min(attempted, missing + len(other))
    else:
        raise ValueError("unknown workload %r" % w)
    metrics = {
        "setup_s": rec["setup_s"],
        "wall_s": rec["wall_s"],
        "p50_s": quantile(lat, 0.5),
    }
    return metrics, failures, max(1, attempted), failed, lat
