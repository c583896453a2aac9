package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What two or more gate families use: the testdata table reader, the
  * trained-artifact memo, and the recall contracts' counting tail. */
object Shared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // --- persisted trained artifacts (graft.io.ModelStore) ----------------
  //
  // Train-once / search-many: every trained artifact (BPE dictionary,
  // k-means coarse quantizer, PQ codebooks, the coded ANN indexes) is a
  // versioned ParquetWarehouse table keyed by a metadata fingerprint of
  // the corpus it was trained on. Queries read the artifact — a small
  // parquet scan, not a training lineage; training runs exactly once per
  // (corpus, params) and is itself surfaced as oracle-checked queries
  // (kmeans_centroids, pq_train_codebooks, bpe_train_dict). The in-JVM
  // memo below only skips repeated store lookups within one session.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // get + putIfAbsent, NOT computeIfAbsent: training one artifact may
  // itself request another (pqResIndex trains against pqResBooks), and a
  // reentrant computeIfAbsent on the same map throws "Recursive update"
  // the first time a fresh corpus resolves the nested artifact (hit on
  // the sf1 scaling corpus; the gate corpora masked it by training the
  // inner artifact first). Racing threads may both call getOrTrain —
  // that layer is idempotent (per-key locked, fingerprint-versioned).
  private[graft] def model(s: SparkSession, dir: String, name: String,
      corpus: String)(train: => DataFrame): DataFrame = {
    val key = s"$dir|$name"
    val cached = modelCache.get(key)
    if (cached != null) cached
    else {
      val df = graft.io.ModelStore(s).getOrTrain(name,
        graft.io.ModelStore.fingerprint(s, Seq(s"$dir/$corpus.parquet")))(
        train)
      val prev = modelCache.putIfAbsent(key, df)
      if (prev != null) prev else df
    }
  }

  /** The recall contracts' counting tail in ONE pass (r22, guide §1.2):
    * `(count(exact), count(bounded), |exact ∩ bounded|)` as a single
    * row. The r21 shape ran three aggregation legs (two counts plus a
    * left-semi intersect feeding a third) crossJoined back together;
    * tagging each side and grouping by the whole row computes all
    * three facts from one exchange over the union. max-per-flag ≡ set
    * membership — and the distinct-count sums equal the plain counts —
    * ONLY because both inputs are DUPLICATE-FREE and null-free (on
    * duplicate-free inputs INTERSECT's set-distinct is a no-op; on
    * null-free columns null-safe and plain equality coincide): callers
    * must argue uniqueness at the call site, and every contract using
    * this is additionally pinned by the DuckDB oracle's counts at both
    * scales. In-JVM A/B over the simhash_recall frames: 0.42 → 0.25 s
    * min-of-5 (ratio 0.60). coalesce keeps the empty-input value 0
    * (sum over no rows is null where count is 0). */
  private[graft] def contractCounts(exact: DataFrame, bounded: DataFrame,
      boundedName: String): DataFrame = {
    val cols = exact.columns.toSeq.map(col)
    exact.withColumn("__e", lit(1)).withColumn("__c", lit(0))
      .unionByName(
        bounded.withColumn("__e", lit(0)).withColumn("__c", lit(1)))
      .groupBy(cols: _*)
      .agg(max(col("__e")).as("__he"), max(col("__c")).as("__hc"))
      .agg(coalesce(sum(col("__he")), lit(0L)).as("n_exact"),
        coalesce(sum(col("__hc")), lit(0L)).as(boundedName),
        coalesce(sum(col("__he") * col("__hc")), lit(0L)).as("n_hit"))
  }
}
