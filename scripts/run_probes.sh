#!/bin/bash
# Run all six checked 1M-scale adversarial probes in sequence, each
# failing loudly (nonzero exit, propagated) on any documented-bound
# violation, and refresh the committed JSON twins:
#   CcProbe          — CC round counts on planted chain/star/random
#   LshCapProbe      — MinHash bucket cap end-to-end (candidates + CC)
#   SimhashCapProbe  — SimHash chunk cap end-to-end (candidates + CC)
#   IvfAppendProbe   — incremental ANN append (exactly-once, work, recall)
#   DriftRetrainProbe — committed drift-threshold retrain policy at 1M
#                     (log2 cadence, one generation, recall vs frozen twin)
#   IncCcProbe       — incremental CC (parity, batch-sized work, replay)
#   CurationStreamProbe — composed url/scrub/quality/near-dup ingest stream
#                     (exact per-stage growth, flat batch wall, replay=0)
# Total ~20-30 min on local[32]. Usage: scripts/run_probes.sh [probe...]
# (default: all six; pass probe class short names to run a subset).
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $ADD_OPENS -Xmx48g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp target/scala-2.13/classes:/opt/spark/jars/*"
source scripts/require_heap.sh
require_heap "$JAVA"
PROBES=${@:-CcProbe LshCapProbe SimhashCapProbe IvfAppendProbe DriftRetrainProbe IncCcProbe CurationStreamProbe}
declare -A OUT=( [CcProbe]=CC_PROBE.json [LshCapProbe]=LSH_CAP_PROBE.json \
  [SimhashCapProbe]=SIMHASH_CAP_PROBE.json [IvfAppendProbe]=IVF_APPEND_PROBE.json \
  [DriftRetrainProbe]=DRIFT_RETRAIN_PROBE.json \
  [IncCcProbe]=INC_CC_PROBE.json [CurationStreamProbe]=CURATION_STREAM_PROBE.json )
for p in $PROBES; do
  if [[ -z "${OUT[$p]:-}" ]]; then
    echo "unknown probe '$p' (expected one of: ${!OUT[@]})" >&2
    exit 2
  fi
  echo "=== graft.tools.$p -> ${OUT[$p]} ===" >&2
  if [ "$p" = CurationStreamProbe ]; then
    # verifyExact=true runs the planted workload twice (plain, then with
    # the exact-verify pass) so the committed JSON prices the verify
    # stage's per-batch margin alongside the standing exactness checks.
    $JAVA "graft.tools.$p" "${OUT[$p]}" 1000000 25000 4 true
  else
    $JAVA "graft.tools.$p" "${OUT[$p]}"
  fi
done
echo "all probes green" >&2
