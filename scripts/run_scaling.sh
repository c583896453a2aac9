#!/bin/bash
# Reproduce SCALING.md's measured sf0.1 -> sf1 ledger in one command:
#   1. deterministically generate sf1 (10x sf0.1) with graft.tools.GenData
#      if the target dir doesn't exist yet;
#   2. run graft.tools.ScalingLedger over the standing query set at both
#      scales (warm run2-of-2 per query, one JVM, local[32]);
#   3. print the paste-ready markdown table and write SCALING_LEDGER.json.
# Usage: scripts/run_scaling.sh [sf1Dir] [baseDir] [extra ScalingLedger args]
set -e
cd "$(dirname "$0")/.."
SF1=${1:-/tmp/graft_testdata/sf1}
BASE=${2:-/root/testdata/sf0.1}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $ADD_OPENS -Xmx24g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp target/scala-2.13/classes:/opt/spark/jars/*"
source scripts/require_heap.sh
require_heap "$JAVA"
# Regenerate unless the cached corpus carries the CURRENT generator
# version AND parameter stamp (see GenData.stamp): a corpus from an
# older generator, a different mult/source/vocab, or a crash mid-gen
# (no stamp) would make the ledger compare different distributions
# across scales and measure the generator delta, not scaling.
GEN_V=$(sed -n 's/.*GeneratorVersion\s*\(:\s*Int\)\?\s*=\s*\([0-9][0-9]*\).*/\2/p' \
  src/main/scala/graft/tools/GenData.scala | head -1)
if [ -z "$GEN_V" ]; then
  echo "run_scaling.sh: could not read GeneratorVersion from GenData.scala" \
    "— fix the sed pattern before trusting any cached corpus" >&2
  exit 1
fi
WANT_STAMP="v$GEN_V mult=10 src=$BASE zipf=0"
# `|| true`: a missing stamp file makes sed exit nonzero, and under
# `set -e` the bare assignment would kill the script right here — the
# first-run "generate if absent" path must survive the read failing.
HAVE_STAMP=$(sed -n '1p' "$SF1/_GEN_VERSION" 2>/dev/null || true)
if [ "$HAVE_STAMP" != "$WANT_STAMP" ]; then
  # Deletion guard: only auto-remove a directory this script's generator
  # provably owns — absent, empty, or carrying a _GEN_VERSION stamp. A
  # NON-EMPTY UNSTAMPED directory was never written by GenData (it
  # always stamps), so it is someone's real data — e.g. a swapped-args
  # invocation like `run_scaling.sh /root/testdata/sf0.1` would
  # otherwise silently delete source testdata. Fail loudly instead.
  if [ -d "$SF1" ] && [ -n "$(ls -A "$SF1" 2>/dev/null)" ] && [ ! -f "$SF1/_GEN_VERSION" ]; then
    echo "run_scaling.sh: $SF1 is non-empty and has no _GEN_VERSION stamp" \
      "— refusing to delete a directory GenData did not write. Remove it" \
      "manually if it really is a stale corpus (and check the argument" \
      "order: usage is run_scaling.sh [sf1Dir] [baseDir])." >&2
    exit 1
  fi
  echo "generating $SF1 (want stamp '$WANT_STAMP', have '${HAVE_STAMP:-none}')..." >&2
  rm -rf "$SF1"
  $JAVA graft.tools.GenData "$SF1" 10 "$BASE"
  # WANT_STAMP came from the SOURCE; GenData ran from COMPILED classes.
  # If they disagree (GeneratorVersion bumped without sbt compile), the
  # regenerated corpus is from the OLD generator — re-read the stamp the
  # generator actually wrote and refuse to measure against it.
  GOT_STAMP=$(sed -n '1p' "$SF1/_GEN_VERSION" 2>/dev/null || true)
  if [ "$GOT_STAMP" != "$WANT_STAMP" ]; then
    echo "run_scaling.sh: generated corpus stamped '$GOT_STAMP' but source" \
      "expects '$WANT_STAMP' — target/scala-2.13/classes is stale; run" \
      "'sbt compile' and retry" >&2
    exit 1
  fi
fi
exec $JAVA graft.tools.ScalingLedger "$BASE" "$SF1" 10 SCALING_LEDGER.json "${@:3}"
