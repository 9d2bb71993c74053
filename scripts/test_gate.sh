#!/usr/bin/env bash
# Round-end test gate: the snapshot commit must demonstrably post-date a
# green FULL-suite run on the same code it commits. Round 11 shipped a
# red suite because the gate was convention, not mechanism — this is the
# mechanism. Usage:
#
#   scripts/test_gate.sh "commit message"
#
#   1. stages everything and records a digest of the staged code
#      (all blobs+paths under src/ + build.sbt — exactly what the
#      suite is about to test),
#   2. compiles the benchmark harness (perfbench/) against the staged
#      sources; on failure prints the tail and exits 1 WITHOUT
#      committing,
#   3. runs `sbt test`; on ANY failure prints the tail and exits 1
#      WITHOUT committing,
#   4. on green writes TEST_GATE.json {code_digest, ts, tests} and
#      commits it together with the staged work.
#
# Audit: at the snapshot commit,
#   git ls-files -s -- src build.sbt project | git hash-object --stdin
# must reproduce TEST_GATE.json's code_digest — proving the recorded
# green run saw the committed code AND build definition, not an
# earlier draft.
set -u
cd "$(dirname "$0")/.." || exit 1
msg="${1:?usage: scripts/test_gate.sh \"commit message\"}"

# `git add -A` below is ALSO the round-artifact sweep (VERDICT r12 ask
# #1): the driver writes BENCH_r*/CORRECTNESS_r*/LEAKCHECK/VERDICT/
# ADVICE and appends BENCH_HISTORY lines AFTER the round's final commit,
# so they are necessarily untracked when the next round opens — the
# first gated commit of a round picks them all up mechanically. Nothing
# round-shaped is gitignored except BENCH.json (regenerated per run)
# and .benchdata/ (locally generated scaled parquet).
git add -A
digest=$(git ls-files -s -- src build.sbt project | git hash-object --stdin)

# The benchmark harness (perfbench/) compiles graft's main sources
# together with its own (perfbench/build.sbt), so a public-API change can
# pass the suite and still break the benchmark's build. Compile it from
# an export of the STAGED tree, the way perfbench/run.py's build() does,
# and refuse to commit when it fails.
stage=$(mktemp -d)
git checkout-index -a --prefix="$stage/"
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
echo "[gate] compiling the benchmark harness against the staged sources"
if ! (cd "$stage/perfbench" && COURSIER_MODE=offline SPARK_HOME="$spark_home" \
      SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx2g}" \
      sbt --batch -Dsbt.log.noformat=true -Dsbt.server.forcestart=false compile) \
      >/tmp/test_gate_bench.log 2>&1; then
  echo "[gate] BENCHMARK HARNESS DOES NOT COMPILE — NOT committing. Failure tail:"
  tail -40 /tmp/test_gate_bench.log
  rm -rf "$stage"
  exit 1
fi
rm -rf "$stage"

echo "[gate] code digest $digest — running full suite"

if ! sbt -batch test >/tmp/test_gate.log 2>&1; then
  echo "[gate] SUITE RED — NOT committing. Failure tail:"
  tail -40 /tmp/test_gate.log
  exit 1
fi
summary=$(grep -E 'Tests: succeeded' /tmp/test_gate.log | tail -1 | sed 's/^\[info\] //')
ts=$(date -u +%Y-%m-%dT%H:%M:%SZ)
printf '{"code_digest":"%s","ts":"%s","tests":"%s"}\n' \
  "$digest" "$ts" "$summary" > TEST_GATE.json
echo "[gate] green: $summary"
git add TEST_GATE.json
git commit -m "$msg" -m "Test gate: full suite green on code digest $digest ($summary)"
