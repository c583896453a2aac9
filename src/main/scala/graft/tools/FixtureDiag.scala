package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostics behind SCALING.md's 100x-decade claims — re-runnable so
  * the numbers quoted there are commands, not prose:
  *
  *   graft.tools.FixtureDiag ledgers <dir>...
  *     Print the CONTENT of the three guard-ledger gate queries
  *     (simhash_bucket_ledger, dedup_lsh_bucket_ledger,
  *     fuzzy_block_ledger) at each corpus dir — e.g. that the SimHash
  *     chunk cap fires at the 100x corpus (n_over_cap = 401, max
  *     population 59,823 vs the 1,024 cap) while staying dormant at
  *     both oracle scales.
  *
  *   graft.tools.FixtureDiag jaccard-df <dir>...
  *     Shingle document-frequency statistics of the realistic-vocab
  *     Jaccard fixture (the same context-hash remap as
  *     SparkEntry.realisticVocabDocs, sans the ~5% planted copies):
  *     distinct shingles, max/median df, and Σdf² — the candidate-pair
  *     upper bound driving `dedup_ngram_jaccard`'s 100x ratio. Measured
  *     sf0.1 → 100x: distinct 27,901 → 30,508 (the fixture's context
  *     space SATURATES), median df 9 → 803, Σdf² 2.86 M → 19.9 B.
  */
object FixtureDiag {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: FixtureDiag <ledgers|jaccard-df> <dir>...")
    val mode = args.head
    val dirs = args.tail.toSeq
    val spark = graft.ToolSession.local(graft.ToolSession.cpus())
    try mode match {
      case "ledgers" =>
        for (dir <- dirs; q <- Seq("simhash_bucket_ledger",
            "dedup_lsh_bucket_ledger", "fuzzy_block_ledger",
            "jaccard_df_ledger")) {
          println(s"=== $q @ $dir ===")
          graft.SparkEntry.queries(q)(spark, dir).show(20, false)
        }
      case "jaccard-df" =>
        import graft.functions.TextFunctions.{hash60, normalized, tokens, wordBigrams}
        for (dir <- dirs) {
          val docs = spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), tokens(normalized(col("text"))).as("__toks"))
            .select(col("doc_id"), array_join(
              transform(sequence(lit(1), size(col("__toks"))), i =>
                concat(lit("w"), pmod(hash60(concat_ws("_",
                  when(i === 1, lit("^")).otherwise(element_at(col("__toks"), i - 1)),
                  element_at(col("__toks"), i))), lit(4096L)))), " ").as("text"))
          val sh = docs.select(col("doc_id"),
              explode(array_distinct(wordBigrams(col("text")))).as("shs"))
            .select(col("doc_id"), xxhash64(col("shs")).as("sh"))
          println(s"=== jaccard-df @ $dir ===")
          sh.groupBy("sh").count()
            .agg(count(lit(1)).as("distinct_shingles"),
              max(col("count")).as("max_df"),
              expr("percentile_approx(count, 0.5)").as("median_df"),
              sum(col("count") * col("count")).as("sum_df_sq"))
            .show(false)
        }
      case other =>
        sys.error(s"unknown mode '$other' (expected ledgers|jaccard-df)")
    } finally spark.stop()
  }
}
