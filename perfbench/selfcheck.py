#!/usr/bin/env python3
"""Self-checks of the benchmark itself (not of graft).

    python3 perfbench/selfcheck.py [--workloads a,b] [--seed N]

1. BENCHMARK.json obeys the benchmark contract (names, units, bounds).
2. The tail rule: the highest percentile with at least ten samples
   beyond it.
3. Per workload, two traced runs with one seed repeat every count exactly
   (policy decisions, rows captured per tick, planted pairs, index
   version), a run with another seed changes them, and each traced run
   reports exactly the per_layer metrics of BENCHMARK.json.
4. In a directory holding only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.
Exits non-zero on the first failed check.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def tail_rule():
    check(metrics.tail(list(range(19))) is None, "tail: 19 samples have no tail")
    check(metrics.tail(list(range(20))) == (50.0, 9), "tail: 20 samples give p50")
    check(metrics.tail([float(i) for i in range(100)])[0] == 90.0, "tail: 100 samples give p90")
    check(metrics.tail(list(range(1000)))[0] == 99.0, "tail: 1000 samples give p99")
    check(metrics.tail(list(range(10000)))[0] == 99.9, "tail: 10000 samples give p99.9")
    for n in (20, 57, 100, 333, 1000):
        p, v = metrics.tail(list(range(n)))
        check(sum(1 for x in range(n) if x > v) >= 10, f"tail: p{p:g} of {n} has 10 beyond")


def traced(workload, seed, spec):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True)
    check(r.returncode == 0, f"{workload} seed {seed}: traced run succeeds")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    want = {m["name"] for m in spec["per_layer"]}
    check(set(res["metrics"]) == want, f"{workload} seed {seed}: per_layer metrics reported")
    path = os.path.join(ROOT, ".perfbench", "out", f"raw-{workload}-{seed}-trace1.json")
    with open(path) as fh:
        return json.load(fh)["counts"]


def bare_directory():
    d = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    t0 = time.time()
    r = subprocess.run(["python3", "perfbench/run.py", "--workload", "cdc_replicate",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=d, capture_output=True, text=True, timeout=180)
    shutil.rmtree(d, ignore_errors=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    check(r.returncode != 0 and not last.startswith("{") and time.time() - t0 < 180,
          "bare directory: exits non-zero without a result")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=101)
    args = ap.parse_args()
    spec = metrics.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    check(True, "BENCHMARK.json obeys the contract")
    tail_rule()
    bare_directory()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    for w in names:
        a = traced(w, args.seed, spec)
        b = traced(w, args.seed, spec)
        c = traced(w, args.seed + 1, spec)
        check(bool(a) and a == b, f"{w}: counts repeat exactly under seed {args.seed}: {a}")
        check(a != c, f"{w}: counts change under seed {args.seed + 1}: {c}")


if __name__ == "__main__":
    main()
