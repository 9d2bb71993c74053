#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds N]

Runs perfbench/run.py once per seed (untraced), then prints, per metric,
the median of the runs and the spread: the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median, next
to the metric's bound from BENCHMARK.json. A spread above a third of its
bound (setup_s excepted) marks the benchmark as not yet steady. Results
are also written to .perfbench/out/spread-<workload>.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = args.seconds or spec["run_seconds"]
    runs = []
    for s in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(s), "--seconds", str(secs),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: run failed (exit {r.returncode})\n{r.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(last)
        runs.append(res)
        print(f"seed {s}: " + " ".join(f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()),
              flush=True)
    steady = True
    report = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        ok = m["name"] == "setup_s" or spread < m["bound"] / 3
        steady &= ok
        report[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"], "values": vals}
        print(f"{m['name']:<24} median {med:12.6g}  spread {spread:7.4f}  "
              f"bound {m['bound']:.3f}  {'ok' if ok else 'NOT STEADY'}")
    os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "out", f"spread-{args.workload}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
