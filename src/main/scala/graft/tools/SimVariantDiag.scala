package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Measurement-first diagnostic for the r18→r19 question: can the
  * simhash variant stage ESCALATE over-[[DedupOps.SimMaxBucket]]
  * variant buckets to the exact rescue AUTOMATICALLY — per bucket, at
  * candidate time — admitting the honest-diversity buckets (where the
  * blanket ×4 lever bought Heaps-100× recall 0.891 → 1.000) while
  * rejecting the near-agreement-saturated ones (where the same lever
  * exhausted 77 GB of shuffle on the sf10 fixture)?
  *
  * This tool does NOT decide; it measures the two candidate
  * per-bucket statistics on BOTH committed fixtures so the rule is
  * chosen on numbers (the vc4 discipline):
  *
  *   - GEOMETRY: mean Hamming distance from each bucket member to the
  *     bucket's bitwise-majority centroid. If over-cap buckets are
  *     coherent near-balls of the caller's search radius, clique work
  *     ≈ true output and escalation is honest; if they are diffuse
  *     24-bit coincidence clouds, the quadratic join is mostly
  *     discarded pairs.
  *   - WORK/YIELD: per-bucket admitted join work (vn²/2) and, on a
  *     deterministic sample of buckets, the TRUE pair yield
  *     (pairs within maxHamming) / (vn²/2) — the ground truth the
  *     geometry statistic tries to predict cheaply.
  *
  * Usage: graft.tools.SimVariantDiag <dir> [label] — dir holds
  * documents.parquet (e.g. /tmp/graft_testdata/heaps100, sf10).
  * Prints one markdown table per statistic; no JSON (this is a
  * design-time instrument, not a standing gate artifact). */
object SimVariantDiag {

  private def shr(x: Column, n: Column) = call_function("shiftright", x, n)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir
    val maxHamming = 8
    val spark = graft.ToolSession.local(graft.ToolSession.cpus())

    val sig = DedupOps.simhash(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .localCheckpoint(true)

    // Same construction as simhashCandidatesFromSig's variant stage at
    // production caps: distinct sims → (c, chunk) bands → over-cap
    // bands expand 13 variant keys per other-chunk.
    val chunks = sig.select(col("simhash")).distinct()
      .select(col("simhash"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk",
        shr(col("simhash"), col("c").cast("int") * 12).bitwiseAND(4095L))
    val ck = chunks.withColumn("__k",
      count(lit(1)).over(Window.partitionBy(col("c"), col("chunk"))))
    val flips = array((0L +: (0 until 12).map(b => 1L << b)).map(lit): _*)
    val vk = ck.filter(col("__k") > DedupOps.SimMaxBucket)
      .select(col("simhash"), col("c"), col("chunk"),
        explode(sequence(lit(0), lit(3))).as("c2"))
      .filter(col("c2") =!= col("c"))
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        explode(flips).as("__flip"))
      .withColumn("vkey",
        shr(col("simhash"), col("c2").cast("int") * 12).bitwiseAND(4095L)
          .bitwiseXOR(col("__flip")))
      .drop("__flip")
      .localCheckpoint(true)

    // Per-bucket population + bitwise-majority centroid + mean member
    // distance to it, for every over-variantCap bucket (the escalation
    // candidates) — 48 bit-sum aggregates per bucket, over-cap subset
    // only, so the diagnostic's own work is bounded by the bucket
    // count the ledger already reports (294 on heaps100 / 4,084 sf10).
    val bitCols = (0 until 48).map(b =>
      sum(shr(col("simhash"), lit(b)).bitwiseAND(1L)).as(s"__b$b"))
    val grouped = vk
      .groupBy(col("c"), col("chunk"), col("c2"), col("vkey"))
      .agg(count(lit(1)).as("vn"), bitCols: _*)
      .filter(col("vn") > DedupOps.SimMaxBucket)
    val centroid = grouped.withColumn("centroid",
      (0 until 48).map(b =>
        when(col(s"__b$b") * 2 > col("vn"), lit(1L << b))
          .otherwise(lit(0L))).reduce(_ + _))
      .select(col("c"), col("chunk"), col("c2"), col("vkey"),
        col("vn"), col("centroid"))
      .localCheckpoint(true)
    val dists = vk.join(centroid, Seq("c", "chunk", "c2", "vkey"))
      .withColumn("dist",
        bit_count(col("simhash").bitwiseXOR(col("centroid"))))
      .groupBy(col("c"), col("chunk"), col("c2"), col("vkey"))
      .agg(first(col("vn")).as("vn"), avg(col("dist")).as("mean_dist"),
        expr("percentile_approx(dist, 0.9)").as("p90_dist"))
      .localCheckpoint(true)

    val nBuckets = dists.count()
    println(s"\n## SimVariantDiag [$label]: " +
      s"$nBuckets over-variantCap buckets (vn > ${DedupOps.SimMaxBucket})\n")
    println("| bucket class | count | sum vn^2/2 (join pairs) |")
    println("|---|---|---|")
    Seq(
      ("vn <= 4096, mean_dist <= 8" ->
        (col("vn") <= 4096 && col("mean_dist") <= 8)),
      ("vn <= 4096, mean_dist in (8, 16]" ->
        (col("vn") <= 4096 && col("mean_dist") > 8 && col("mean_dist") <= 16)),
      ("vn <= 4096, mean_dist > 16" ->
        (col("vn") <= 4096 && col("mean_dist") > 16)),
      ("vn > 4096 (never escalated)" -> (col("vn") > 4096))
    ).foreach { case (name, pred) =>
      val r = dists.filter(pred)
        .agg(count(lit(1)), sum(col("vn") * col("vn") / 2)).head()
      println(s"| $name | ${r.getLong(0)} | ${Option(r.get(1)).getOrElse(0L)} |")
    }
    println("\n| mean_dist percentile over buckets | value |")
    println("|---|---|")
    val pcts = dists.agg(
      expr("percentile_approx(mean_dist, array(0.1,0.5,0.9,0.99))"),
      min(col("mean_dist")), max(col("mean_dist")),
      min(col("vn")), max(col("vn"))).head()
    println(s"| p10/p50/p90/p99 | ${pcts.getSeq[Double](0).map(d => f"$d%.1f").mkString("/")} |")
    println(s"| min/max mean_dist | ${pcts.getDouble(1)}%.1f".replace("%.1f", f"${pcts.getDouble(1)}%.1f") + f" / ${pcts.getDouble(2)}%.1f |")
    println(s"| min/max vn | ${pcts.getLong(3)} / ${pcts.getLong(4)} |")

    // Ground truth on a deterministic sample of escalation candidates
    // (vn <= 4096): true-pair yield of the full bucket clique. Sample
    // by bucket-key hash so reruns pick the same buckets.
    val sample = dists.filter(col("vn") <= 4096)
      .withColumn("__h", pmod(xxhash64(col("c"), col("chunk"), col("c2"),
        col("vkey")), lit(1000L)))
      .orderBy(col("__h")).limit(16)
      .select(col("c"), col("chunk"), col("c2"), col("vkey"),
        col("vn"), col("mean_dist"))
      .localCheckpoint(true)
    val sm = vk.join(sample, Seq("c", "chunk", "c2", "vkey"))
      .select(col("c"), col("chunk"), col("c2"), col("vkey"),
        col("simhash"))
    val yields = sm.as("x").join(sm.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.c2") === col("y.c2") && col("x.vkey") === col("y.vkey") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.c").as("c"), col("x.chunk").as("chunk"),
        col("x.c2").as("c2"), col("x.vkey").as("vkey"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("h"))
      .groupBy(col("c"), col("chunk"), col("c2"), col("vkey"))
      .agg(count(lit(1)).as("pairs"),
        sum(when(col("h") <= maxHamming, 1L).otherwise(0L)).as("true_pairs"))
      .join(sample, Seq("c", "chunk", "c2", "vkey"))
      .select(col("vn"), col("mean_dist"), col("pairs"), col("true_pairs"),
        (col("true_pairs").cast("double") / col("pairs")).as("yield"))
      .orderBy(col("mean_dist"))
    println("\n| sampled bucket vn | mean_dist | clique pairs | true pairs (h<=8) | yield |")
    println("|---|---|---|---|---|")
    yields.collect().foreach { r =>
      println(f"| ${r.getLong(0)} | ${r.getDouble(1)}%.1f | ${r.getLong(2)} | ${r.getLong(3)} | ${r.getDouble(4)}%.4f |")
    }
    spark.stop()
  }
}
