#!/bin/bash
# Reproduce SCALING.md's 100x decade ledger (sf0.1 -> "sf10") in one
# command: generate a 100x corpus with graft.tools.GenData (same
# deterministic generator as the 10x ledger), then run
# graft.tools.ScalingLedger over the CURATED 100x query set at both
# scales. Writes SCALING_LEDGER_100X.json + prints the markdown table.
#
# The subset is the standing 10x set MINUS two rows excluded for a
# documented reason, not hidden (SCALING.md "100x decade" section):
#   dedup_ngram_jaccard_exact — the labeled quadratic ground-truth twin
#     (34.9x at 10x => ~35 min single query at 100x; the quadratic law
#     is already measured and documented at 10x, the scale path
#     dedup_ngram_jaccard IS in the 100x set)
#   session_overlap_pairs — output is intrinsically quadratic in
#     per-window user density (measured 100x output at 10x data =>
#     ~10,000x output at 100x, ~1.5B pairs; the 10x row + CONTRACTS §4
#     diagnosis already document the law)
# Usage: scripts/run_scaling_100x.sh [sf10Dir] [baseDir]
set -e
cd "$(dirname "$0")/.."
SF10=${1:-/tmp/graft_testdata/sf10}
BASE=${2:-/root/testdata/sf0.1}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 64g (was 48g: the r17 recall-evidence passes OOMd there): the 100x corpus is ~60M lineitem / 500k docs; the heavy dedup
# candidate sets and the 10,000-file binary ingest need more headroom
# than the 10x ledger's 24g.
JAVA="java $ADD_OPENS -Xmx64g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp target/scala-2.13/classes:/opt/spark/jars/*"
source scripts/require_heap.sh
require_heap "$JAVA"
GEN_V=$(sed -n 's/.*GeneratorVersion\s*\(:\s*Int\)\?\s*=\s*\([0-9][0-9]*\).*/\2/p' \
  src/main/scala/graft/tools/GenData.scala | head -1)
if [ -z "$GEN_V" ]; then
  echo "run_scaling_100x.sh: could not read GeneratorVersion" >&2; exit 1
fi
WANT_STAMP="v$GEN_V mult=100 src=$BASE zipf=0"
HAVE_STAMP=$(sed -n '1p' "$SF10/_GEN_VERSION" 2>/dev/null || true)
if [ "$HAVE_STAMP" != "$WANT_STAMP" ]; then
  # Same deletion guard as run_scaling.sh: never auto-delete a
  # non-empty directory GenData didn't stamp.
  if [ -d "$SF10" ] && [ -n "$(ls -A "$SF10" 2>/dev/null)" ] && [ ! -f "$SF10/_GEN_VERSION" ]; then
    echo "run_scaling_100x.sh: $SF10 is non-empty and has no _GEN_VERSION" \
      "stamp — refusing to delete. Remove it manually (and check the" \
      "argument order: usage is run_scaling_100x.sh [sf10Dir] [baseDir])." >&2
    exit 1
  fi
  echo "generating $SF10 (want stamp '$WANT_STAMP', have '${HAVE_STAMP:-none}')..." >&2
  rm -rf "$SF10"
  $JAVA graft.tools.GenData "$SF10" 100 "$BASE"
  GOT_STAMP=$(sed -n '1p' "$SF10/_GEN_VERSION" 2>/dev/null || true)
  if [ "$GOT_STAMP" != "$WANT_STAMP" ]; then
    echo "run_scaling_100x.sh: generated corpus stamped '$GOT_STAMP' but" \
      "source expects '$WANT_STAMP' — run 'sbt compile' and retry" >&2
    exit 1
  fi
fi
exec $JAVA graft.tools.ScalingLedger "$BASE" "$SF10" 100 SCALING_LEDGER_100X.json \
  web_pipeline dedup_cc_components dedup_keep_best doc_commonness \
  dedup_cc_keep simhash_near_dup bigram_counts hybrid_search_rrf \
  dup_cluster_sizes dedup_token_yield bigram_lm_scores \
  tfidf_top_terms binary_file_ingest dedup_near_keep \
  q8_market_share q21_waiting_supplier \
  dedup_minhash_lsh dedup_substring substring_scrub knn_ivf_p1k \
  knn_ivf_pq_residual_p1k knn_ivf_pq_residual_autoc_p1k kmeans_centroids bpe_token_counts \
  fuzzy_name_match boilerplate_dict_train boilerplate_scrub \
  crawl_curation_pipeline dedup_incremental_candidates \
  dedup_minhash_recall dedup_minhash_recall_r8 \
  dedup_ngram_jaccard domain_cap_sample quality_model_filter \
  url_canonicalize url_dedup \
  knn_ivf_incremental_p1k dedup_lsh_bucket_ledger \
  sequence_pack_plan sequence_pack_plan_bpe \
  simhash_bucket_ledger fuzzy_block_ledger dedup_cc_incremental \
  quality_train_sampled quality_sampled_agreement jaccard_df_ledger \
  session_topk_overlaps
