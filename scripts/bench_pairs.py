#!/usr/bin/env python3
"""Alternating-pairs comparison of two checkouts on one workload.

    python3 scripts/bench_pairs.py --workload W --parent DIR --change DIR \\
        [--seeds 1-5]

For each seed it runs `perfbench/run.py --trace 0` once in each checkout,
for BENCHMARK.json's `run_seconds`: the parent first on odd seeds, the
change first on even ones, so a drift in the machine's load falls on
both sides alike. It then prints, per end_to_end metric of BENCHMARK.json:

  - each pair's parent and change value;
  - each side's median, and the spread of the parent's runs (the distance
    between its first and third quartile);
  - the median delta as a share of the parent's median, next to the
    metric's bound, with `WORSE` where the delta is past the bound in the
    metric's bad direction, and the number of pairs the change won.

It exits non-zero when any run fails or reports incorrect output. It
reads BENCHMARK.json (from the change checkout) and runs each checkout's
perfbench/ as it is; it edits neither. `--seeds` takes `1-5` or `1,3,8`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """One untraced run; returns (ok, result dict or None, stderr tail)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    result = None
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    ok = proc.returncode == 0 and result is not None and result.get("correct") is True
    return ok, result, proc.stderr[-2000:]


def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--seeds", default="1-5")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = spec["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    values = {m["name"]: {"parent": [], "change": []} for m in spec["end_to_end"]}
    pairs, failures = [], []
    for s in seeds(args.seeds):
        order = ["parent", "change"] if s % 2 == 1 else ["change", "parent"]
        pair = {}
        for side in order:
            ok, result, err = run(sides[side], args.workload, s, secs)
            pair[side] = result
            if not ok:
                failures.append((side, s))
                print(f"seed {s} {side}: run failed or output incorrect", file=sys.stderr)
                print(err, file=sys.stderr)
            if result:
                print(f"seed {s} {side}: correct={result.get('correct')} "
                      f"attempted={result.get('attempted')} failed={result.get('failed')}",
                      flush=True)
        if all(pair.get(side) for side in sides):
            pairs.append(s)
            for name in values:
                for side in sides:
                    values[name][side].append(pair[side]["metrics"][name]["value"])

    print(f"\n{args.workload}: {len(pairs)} pair(s), seeds {pairs}")
    summary = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par, chg = values[name]["parent"], values[name]["change"]
        if not par:
            continue
        mp, mc = statistics.median(par), statistics.median(chg)
        delta = (mc - mp) / mp if mp else 0.0
        worse = delta > m["bound"] if lower else delta < -m["bound"]
        wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
        summary[name] = {"parent_median": mp, "change_median": mc, "delta": delta,
                         "bound": m["bound"], "parent_iqr": quartile_spread(par),
                         "change_wins": wins, "pairs": len(par),
                         "parent": par, "change": chg}
        print(f"{name:22s} parent {mp:12.4f} change {mc:12.4f}  delta {delta:+8.2%} "
              f"(bound {m['bound']:.0%}{', WORSE' if worse else ''})  "
              f"parent IQR {quartile_spread(par):.4f}  change better in {wins}/{len(par)}")
        print("    pairs: " + "  ".join(f"{s}: {p:.4f} -> {c:.4f}"
                                       for s, p, c in zip(pairs, par, chg)))
    print(json.dumps({"workload": args.workload, "seeds": pairs,
                      "failed_runs": [f"{side}:{s}" for side, s in failures],
                      "metrics": summary}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
