#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark runs.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run results as written by run.py under
perfbench/.work/results: one JSON file per run, named
`<workload>-<seed>-<trace>.json`, holding the run's final output line.
Traced runs are ignored. For every workload and end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the share of
(parent, change) pairs the change won (pairs matched by seed, ties count
for neither side), and a verdict against the metric's bound:

  improved    the change won at least 90 % of the pairs and the medians
              differ by more than the parent's interquartile range
  regressed   the change's median is worse than the parent's by more than
              the bound
  unchanged   neither of the above, with both spreads within the bound
  unresolved  a side's interquartile range, as a share of its median,
              is wider than the bound; then every change run beating
              (losing to) every parent run still reads improved
              (regressed)
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: {metric: value}}} of the untraced runs in d."""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        parts = f[:-5].rsplit("-", 2)
        if len(parts) != 3 or parts[2] != "0":
            continue
        with open(os.path.join(d, f)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        res = json.loads(lines[-1])
        out.setdefault(parts[0], {})[parts[1]] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(a, b, bound, lower_is_better=True):
    """Returns (verdict, share of pairs the change won). a and b are lists
    of the parent's and the change's values, paired by position."""
    sign = 1.0 if lower_is_better else -1.0
    pairs = list(zip(a, b))
    won = sum(1 for x, y in pairs if sign * (y - x) < 0)
    share = won / len(pairs) if pairs else 0.0
    qa, qb = quartiles(a), quartiles(b)
    spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
    spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else float("inf")
    worse = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    all_worse = min(sign * y for y in b) > max(sign * x for x in a)
    if max(spread_a, spread_b) > bound:
        if all_better:
            return "improved", share
        if all_worse:
            return "regressed", share
        return "unresolved", share
    if share >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]) and worse < 0:
        return "improved", share
    if worse > bound:
        return "regressed", share
    return "unchanged", share


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(argv[1]), load(argv[2])
    print("%-15s %-12s %30s %30s %6s  %s" % (
        "workload", "metric", "parent q1/med/q3", "change q1/med/q3",
        "won", "verdict"))
    for w in sorted(set(a) & set(b)):
        seeds = sorted(set(a[w]) & set(b[w]))
        for m in spec["end_to_end"]:
            name = m["name"]
            xa = [a[w][s][name] for s in seeds if name in a[w][s]]
            xb = [b[w][s][name] for s in seeds if name in b[w][s]]
            if not xa or not xb:
                continue
            v, share = verdict(xa, xb, m["bound"], m["better"] == "lower")
            qa, qb = quartiles(xa), quartiles(xb)
            print("%-15s %-12s %30s %30s %5.0f%%  %s" % (
                w, name, "%.4g/%.4g/%.4g" % qa, "%.4g/%.4g/%.4g" % qb,
                100 * share, v))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
