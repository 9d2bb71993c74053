#!/usr/bin/env bash
# Standing per-round sf1 measurement (VERDICT r14 ask #4): the 10x point
# has caught a real super-linear row three rounds running (rep_gate r13,
# version_bump r14, dedup_incremental r15), so every round archives one
# load-gated single-pass sf1 line in BENCH_HISTORY.jsonl.
#
# Bakes in the operational lessons PLANS.md learned the expensive way:
#   - SPARK_DRIVER_MEM=32g — the default 8 GiB heap OOM-killed the sf1
#     dedup phase (r14), and a dying JVM leaks its ~25 GB blockmgr spill
#     dir in /tmp;
#   - the leaked-spill sweep below, which otherwise disk-starves the
#     NEXT attempt ("No space left on device");
#   - fixture generated on demand via graft.GenSf (10x key-shifted
#     union of the driver's sf0.1 tables — bench-only data, gitignored).
#
# Usage: scripts/bench_sf1.sh   (from anywhere; runs in the repo root)
set -eu
cd "$(dirname "$0")/.."

SF1="$PWD/.benchdata/sf1"
if [ ! -d "$SF1" ]; then
  echo "[bench_sf1] generating $SF1 (10x of /root/testdata/sf0.1)"
  SPARK_DRIVER_MEM=32g sbt -batch \
    "Test/runMain graft.GenSf /root/testdata/sf0.1 $SF1 10"
fi

# sweep spill/blockmgr dirs leaked by previously KILLED local-mode runs
# (a live run would hold them open; this script assumes it is the only
# Spark on the box, which the load gate below enforces in spirit)
rm -rf /tmp/blockmgr-* 2>/dev/null || true

# pass count defaults to the standing single-pass line; the round-17
# headline-split protocol (VERDICT r16 #5: three sf1 passes, steady
# spread <= ~8%) runs it with SPARK_GRAFT_BENCH_RUNS=3
SPARK_DRIVER_MEM=32g \
SPARK_GRAFT_SF_DIR="$SF1" \
SPARK_GRAFT_BENCH_RUNS="${SPARK_GRAFT_BENCH_RUNS:-1}" \
  sbt -batch 'runMain graft.Bench'
