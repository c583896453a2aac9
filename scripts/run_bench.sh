#!/bin/bash
# Dev helper: run graft.Bench outside sbt (fast iteration).
# Usage: scripts/run_bench.sh [sfDir] [cpus]
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=${1:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${2:-$(nproc)}
# Heap: SPARK_DRIVER_MEM (the variable build.sbt's forked JVMs read), else
# half of MemTotal clamped to 2-8 GiB — the Tier-1 test sizing.
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
# Min-of-3 by default: at min-of-2 the per-query noise floor on this box
# (GC/JIT timing on sub-2s queries) exceeds the 1.5x/0.3s regression
# threshold and flags a different random query most runs.
export SPARK_GRAFT_BENCH_REPEATS=${SPARK_GRAFT_BENCH_REPEATS:-3}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Archive the previous per-query map so the regression gate below has a
# reference even though Bench overwrites BENCH_LOCAL.json — but never
# replace a full-suite reference with a SPARK_GRAFT_BENCH_ONLY subset
# run (the gate would then "pass" comparing only the subset), and never
# archive when this run itself is a subset (its output must not become
# the next full run's reference either).
if [ -z "${SPARK_GRAFT_BENCH_ONLY:-}" ] && [ -f BENCH_LOCAL.json ]; then
  cp BENCH_LOCAL.json BENCH_PREV.json
fi
# Capture rc without tripping set -e (a bare failing command would exit
# the script before the regression gate runs).
rc=0
out=$(mktemp)
trap 'rm -f "$out"' EXIT
java $ADD_OPENS -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench > "$out" || rc=$?
cat "$out"
# The summary must be the last line of the last 2,000 bytes, and JSON.
if ! tail -c 2000 "$out" | tail -n 1 | python3 -c \
    'import json, sys; json.loads(sys.stdin.read())' 2>/dev/null; then
  echo "run_bench.sh: the last stdout line is not a JSON summary" >&2
  if [ "$rc" -eq 0 ]; then rc=4; fi
fi
# Per-query regression gate (>=1.5x AND >=0.3s abs) -> BENCH_DELTA.json;
# FAILS the run (nonzero rc) on a non-empty regressions list so a
# regression can never ship silently; skipped for subset runs.
if [ -z "${SPARK_GRAFT_BENCH_ONLY:-}" ] && [ -f BENCH_PREV.json ]; then
  if ! python3 scripts/bench_delta.py BENCH_LOCAL.json BENCH_PREV.json; then
    if [ "$rc" -eq 0 ]; then rc=3; fi
  fi
fi
exit $rc
