#!/bin/bash
# Diversity-scaled (Heaps-law) second-decade ledger for the operators the
# fixed-diversity generator was known to misrepresent (SCALING.md names the
# lesson twice: the jaccard fixture's shingle space saturated at ~30k so df
# grew with n, and contiguous Supplier#%09d serials densified their digit
# neighborhoods). Both sides are generated by the SAME generator settings —
# vocabulary V = 10000·mult^0.5 (Heaps β = 0.5), hash-scattered supplier
# names — so the ratio measures the OPERATOR under honest diversity growth,
# never a base-vs-generator distribution delta (the round-12 lesson).
#   base   = mult=1   (sf0.1-sized: 5k docs, 1k suppliers, V = 10,000)
#   scaled = mult=100 (500k docs, 100k suppliers, V = 100,000)
# Only documents + supplier are generated (the query set reads nothing
# else). Writes SCALING_LEDGER_HEAPS.json + prints the markdown table.
# Usage: scripts/run_scaling_heaps.sh [scaledDir] [baseDir]
set -e
cd "$(dirname "$0")/.."
SCALED=${1:-/tmp/graft_testdata/heaps100}
BASE=${2:-/tmp/graft_testdata/heaps1}
SRC=/root/testdata/sf0.1
VOCAB=10000
BETA=0.5
# embeddings included for hybrid_search_rrf (its BM25 side is the
# diversity-sensitive half; the vector side just needs a corpus to join).
TABLES=documents,embeddings,supplier
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $ADD_OPENS -Xmx48g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp target/scala-2.13/classes:/opt/spark/jars/*"
source scripts/require_heap.sh
require_heap "$JAVA"
GEN_V=$(sed -n 's/.*GeneratorVersion\s*\(:\s*Int\)\?\s*=\s*\([0-9][0-9]*\).*/\2/p' \
  src/main/scala/graft/tools/GenData.scala | head -1)
if [ -z "$GEN_V" ]; then
  echo "run_scaling_heaps.sh: could not read GeneratorVersion" >&2; exit 1
fi
gen() { # gen <dir> <mult>
  local DIR=$1 MULT=$2
  local WANT="v$GEN_V mult=$MULT src=$SRC zipf=$VOCAB heaps=$BETA tables=$TABLES"
  local HAVE
  HAVE=$(sed -n '1p' "$DIR/_GEN_VERSION" 2>/dev/null || true)
  if [ "$HAVE" != "$WANT" ]; then
    # Same deletion guard as run_scaling.sh: never auto-delete a
    # non-empty directory GenData didn't stamp.
    if [ -d "$DIR" ] && [ -n "$(ls -A "$DIR" 2>/dev/null)" ] && [ ! -f "$DIR/_GEN_VERSION" ]; then
      echo "run_scaling_heaps.sh: $DIR is non-empty and has no _GEN_VERSION" \
        "stamp — refusing to delete. Remove it manually." >&2
      exit 1
    fi
    echo "generating $DIR (want stamp '$WANT', have '${HAVE:-none}')..." >&2
    rm -rf "$DIR"
    $JAVA graft.tools.GenData "$DIR" "$MULT" "$SRC" "$VOCAB" "$BETA" "$TABLES"
    local GOT
    GOT=$(sed -n '1p' "$DIR/_GEN_VERSION" 2>/dev/null || true)
    if [ "$GOT" != "$WANT" ]; then
      echo "run_scaling_heaps.sh: generated corpus stamped '$GOT' but source" \
        "expects '$WANT' — run 'sbt compile' and retry" >&2
      exit 1
    fi
  fi
}
gen "$BASE" 1
gen "$SCALED" 100
# Round 16 (r14 ask #4): EVERY text-diversity-sensitive row gets its
# Heaps-honest second-decade number, not just the jaccard/fuzzy/minhash
# set — tfidf/bigram/BPE/boilerplate/commonness/BM25-RRF/simhash/CDC all
# read documents, which this fixture generates. The ledger tags each row
# fixture:"heaps" (and the default-fixture ledgers tag the same rows
# diversity_sensitive:true pointing here).
export GRAFT_LEDGER_FIXTURE=heaps
exec $JAVA graft.tools.ScalingLedger "$BASE" "$SCALED" 100 SCALING_LEDGER_HEAPS.json \
  dedup_ngram_jaccard jaccard_df_ledger \
  fuzzy_name_match fuzzy_block_ledger \
  dedup_minhash_lsh dedup_lsh_bucket_ledger \
  dedup_minhash_recall dedup_minhash_recall_r8 \
  tfidf_top_terms bigram_counts bigram_lm_scores bpe_token_counts \
  boilerplate_dict_train boilerplate_scrub dedup_token_yield \
  doc_commonness hybrid_search_rrf simhash_near_dup \
  simhash_recall simhash_recall_window simhash_recall_vc4 \
  simhash_recall_auto simhash_recall_noesc \
  simhash_bucket_ledger dedup_substring substring_scrub \
  sequence_pack_plan_bpe dedup_near_keep dedup_near_keep_verified \
  dedup_incremental_candidates
