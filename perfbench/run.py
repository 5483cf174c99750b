#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload analytic_mix --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt and generates the input corpora; both are
cached under perfbench/.work (keyed by a hash of the sources) and are not
part of any metric. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1. The
exit code is 0 only when every output was correct.

Other modes:
    --selftest        run the benchmark's own tests
    --record-golden   record the op digests of this tree into golden.json
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("analytic_mix", "table_commit", "rc_stream")
DEADLINE_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_hash():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
        + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness once per source state; returns the
    classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources at %s/src/main/scala"
                         "/graft; run from the root of a graft checkout"
                         % ROOT)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("perfbench: sbt and java are required")
    # one record of the last build: the class directories hold whatever
    # was compiled last, so a classpath is reused only for that source state
    cp_file = os.path.join(WORK, "classpath.txt")
    key = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            built, cp = (fh.read().split("\n", 1) + [""])[:2]
        if built == key:
            return cp.strip()
    os.makedirs(WORK, exist_ok=True)
    log("building engine and harness")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log("built in %.0f s" % (time.time() - t0))
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(key + "\n" + cp)
    return cp


def jvm(cp, args, timeout, log_name, props=()):
    cmd = ["java"] + ["-D" + p for p in props]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(WORK, "logs", log_name), "w") as errf:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=errf, stderr=errf)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: %s timed out" % args[0])
    if rc != 0:
        raise SystemExit("perfbench: %s failed (exit %d), see %s"
                         % (args[0], rc, os.path.join(WORK, "logs", log_name)))


def ensure_data(cp):
    if os.path.exists(os.path.join(WORK, "data", "_DONE")):
        return
    log("generating input corpora")
    jvm(cp, ["gen", WORK], 600, "gen.log")


def load_golden():
    with open(os.path.join(HERE, "golden.json")) as fh:
        return json.load(fh)


def run_workload(cp, workload, seed, seconds, trace, deadline, props=()):
    out = os.path.join(WORK, "runs", "%s-%d-%d.json" % (workload, seed, trace))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    jvm(cp, ["run", WORK, workload, str(seed), str(seconds), str(trace), out],
        deadline, "%s-%d-%d.log" % (workload, seed, trace), props)
    with open(out) as fh:
        return json.load(fh)


def declared_units(kind):
    """{metric name: unit} of BENCHMARK.json's `end_to_end` or
    `per_layer` list."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    ap.add_argument("--rate", type=int,
                    help="rc_stream offered events/s (saturation sweeps)")
    a = ap.parse_args()
    if a.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
        sys.exit(0 if ok else 1)
    cp = build()
    ensure_data(cp)
    if a.record_golden:
        record_golden(cp)
        return
    if a.workload is None:
        ap.error("--workload is required")
    # the build and the corpora (first run in a checkout) are outside the
    # run's deadline
    props = ["perfbench.rate=%d" % a.rate] if a.rate else []
    rec = run_workload(cp, a.workload, a.seed, a.seconds, a.trace,
                       DEADLINE_S, props)
    e2e, failures, attempted, failed, lat = metrics.summarize(
        rec, load_golden())
    for f in failures:
        log("FAILED " + f)
    if a.trace:
        units = declared_units("per_layer")
        layers = rec.get("layers") or {}
        layers["harness.fail_frac"] = failed / attempted
        layers["latency.p90_s"] = metrics.quantile(lat, 0.9)
        layers["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
        out = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
               for n, u in units.items()}
        trace_file = os.path.join(WORK, "traces", "%s-%d.json"
                                  % (a.workload, a.seed))
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump({"spans": rec.get("spans"), "layers": layers}, fh)
    else:
        tail = metrics.tail_percentile(len(lat))
        log("%s: n=%d p50=%.4fs %s fail_frac=%.4f" % (
            a.workload, len(lat), e2e["p50_s"],
            "p%g=%.4fs" % (tail, metrics.quantile(lat, tail / 100.0))
            if tail else "(too few samples for a tail)", failed / attempted))
        units = declared_units("end_to_end")
        for k, v in e2e.items():
            print("%s %.6f %s" % (k, v, units[k]))
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    line = json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": out})
    res = os.path.join(WORK, "results", "%s-%d-%d.json"
                       % (a.workload, a.seed, a.trace))
    os.makedirs(os.path.dirname(res), exist_ok=True)
    with open(res, "w") as fh:
        fh.write(line + "\n")
    print(line)
    sys.exit(0 if failed == 0 else 1)


def record_golden(cp):
    """Runs the op workload twice (different seeds, so different orders)
    and records the digests that repeat. Ops that fail or do not repeat
    are listed under "unstable"."""
    golden = {}
    for w in ("analytic_mix",):
        runs = [run_workload(cp, w, seed, 1, 0, 900) for seed in (101, 202)]
        seen = {}
        for r in runs:
            for it in r["items"]:
                seen.setdefault(it["name"], set()).add(
                    it["digest"] if not it.get("error") else "ERROR")
        golden[w] = {n: next(iter(d)) for n, d in sorted(seen.items())
                     if len(d) == 1 and "ERROR" not in d}
        golden.setdefault("unstable", {})[w] = sorted(
            n for n, d in seen.items() if len(d) != 1 or "ERROR" in d)
    with open(os.path.join(HERE, "golden.json"), "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log("golden.json written; unstable: %s" % golden["unstable"])


if __name__ == "__main__":
    main()
