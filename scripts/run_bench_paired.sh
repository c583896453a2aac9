#!/bin/bash
# Paired interleaved A/B bench: build a REFERENCE commit's classes in a
# throwaway copy of that commit (`git archive`, under $TMPDIR), then run
# every gate query on the reference build and the current build
# back-to-back in one wall-clock window (two BenchServe JVMs, one query
# in flight at a time) so ambient load cancels pairwise. Writes
# BENCH_PAIRED.json; exits nonzero on any >=1.5x AND >=0.3s paired
# regression.
#
# Usage: scripts/run_bench_paired.sh [refCommit] [sfDir] [cpus] [only,...]
#   refCommit default: the last round-close commit whose bench archive we
#   compare against (HEAD works for a self-calibration run: expect every
#   ratio ~1.0 — that run MEASURES the harness noise floor).
set -e
cd "$(dirname "$0")/.."
REF=${1:-HEAD}
SF=${2:-/root/testdata/sf0.1}
CPUS=${3:-$(nproc)}
ONLY=${4:-}

REFSHA=$(git rev-parse --short "$REF")
WT=${TMPDIR:-/tmp}/graft_paired_ref_$REFSHA

sbt -batch compile > /dev/null

if [ ! -d "$WT/target/scala-2.13/classes" ]; then
  rm -rf "$WT" && mkdir -p "$WT"
  git archive "$REFSHA" | tar -x -C "$WT"
  # The server main may postdate the reference commit: compile it INTO
  # the reference build (harness-side patch, identical bytes both sides;
  # it only touches SparkEntry.queries + ToolSession, stable since r12).
  cp src/main/scala/graft/BenchServe.scala "$WT/src/main/scala/graft/"
  # References whose ToolSession predates the zero-argument cpus() read
  # the core count the same way inline (bench_paired.py always sets it).
  if ! grep -q 'def cpus()' "$WT/src/main/scala/graft/ToolSession.scala"; then
    sed -i 's/ToolSession.cpus()/sys.env("SPARK_GRAFT_CPUS")/' \
      "$WT/src/main/scala/graft/BenchServe.scala"
  fi
  (cd "$WT" && sbt -batch compile > /dev/null)
fi

ARGS=(--sf "$SF" --cpus "$CPUS" --ref-label "$REFSHA")
# Subset runs must not clobber the committed full-suite artifact.
if [ -n "$ONLY" ]; then ARGS+=(--only "$ONLY" --out BENCH_PAIRED_SUBSET.json); fi
python3 scripts/bench_paired.py \
  "$WT/target/scala-2.13/classes" target/scala-2.13/classes "${ARGS[@]}"
