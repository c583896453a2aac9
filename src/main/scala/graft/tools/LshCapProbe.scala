package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** End-to-end adversarial near-dedup probe: the worst corpus the LSH
  * candidate stage can face — k byte-identical documents that (by
  * hypothesis) SKIPPED the exact-dedup pass — at ~100x the spec-fixture
  * size, checked against the documented bounds:
  *
  *   1. candidate pairs stay LINEAR: the (band,bkey) cap degrades each
  *      mega-bucket from clique (k²/2 pairs) to a signature-ordered
  *      path, so distinct pairs ≤ bands·(k−1) (and ≈ k−1 in practice:
  *      identical signatures order identically in every band);
  *   2. every planted pair carries est_jaccard = 1.0 (signature-ordered
  *      path ⇒ within-family edges are identical-signature pairs), so
  *      any downstream threshold keeps them;
  *   3. [[DedupOps.connectedComponents]] over those path edges still
  *      collapses the family to ONE component of size k, in
  *      HookDelay + O(log2 n) rounds — class hooking + shortcut absorbing
  *      exactly the path depth the cap introduced;
  *   4. honest documents mixed into the same corpus (unique texts)
  *      contribute ~zero candidates and land in singleton components.
  *
  * Usage: graft.tools.LshCapProbe [jsonOut] [k] [honest]
  * Emits a markdown table + JSON twin; FAILS (nonzero exit) on any
  * bound violation — a check, not just a measurement. */
object LshCapProbe {

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("LSH_CAP_PROBE.json")
    val k = if (args.length > 1) args(1).toLong else 1000000L
    val honest = if (args.length > 2) args(2).toLong else 100000L
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    // ids [0, k): one byte-identical family; ids [k, k+honest): unique
    // 12-word texts derived from hashed ids (distinct shingle sets, so
    // bucket collisions are the ≈ rows²/2⁶⁵ hash-collision noise).
    val dup = spark.range(0, k).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again")
        .as("text"))
    val hon = spark.range(k, k + honest).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(1000000L)))): _*)
        .as("text"))
    val corpus = dup.unionByName(hon)

    val t0 = System.nanoTime()
    val cand = DedupOps.minhashCandidates(corpus, "doc_id", "text")
      .localCheckpoint(true)
    val nCand = cand.count()
    val candSecs = (System.nanoTime() - t0) / 1e9
    // Planted-family edges and their est floor; honest-side candidates.
    val fam = cand.filter(col("id_a") < k && col("id_b") < k)
    val nFam = fam.count()
    require(nFam >= k - 1, s"family pairs $nFam < ${k - 1}: path disconnected")
    val minEst = fam.agg(min(col("est_jaccard"))).head().getDouble(0)
    val nHon = cand.filter(col("id_a") >= k || col("id_b") >= k).count()

    val t1 = System.nanoTime()
    val (labels, rounds) = DedupOps.connectedComponentsWithRounds(
      corpus.select(col("doc_id")), cand, "doc_id")
    val sizes = labels.groupBy(col("component")).count()
    val famSize = sizes.agg(max(col("count"))).head().getLong(0)
    val nComps = sizes.count()
    val ccSecs = (System.nanoTime() - t1) / 1e9
    spark.stop()

    val pairBound = DedupOps.Bands.toLong * (k - 1)
    println(s"\n## LSH cap + CC end-to-end adversarial probe " +
      s"(k=$k identical docs + $honest honest, MaxBucket=" +
      s"${DedupOps.MaxBucket}, bands=${DedupOps.Bands}, local[$cpus])\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(f"| candidate pairs (clique would be ${k * (k - 1) / 2}) | $nCand | <= $pairBound | $candSecs%.2f |")
    println(s"| planted-family pairs | $nFam | >= ${k - 1} (path connectivity) | |")
    println(f"| min est_jaccard on family edges | $minEst%.2f | = 1.0 (survives any threshold) | |")
    println(s"| honest-side candidate pairs | $nHon | ~ 0 (hash-collision noise) | |")
    println(f"| CC rounds over the capped path | $rounds | HookDelay + O(log2 n) | $ccSecs%.2f |")
    println(s"| largest component | $famSize | = $k (family intact) | |")
    println(s"| total components | $nComps | = ${honest + 1} (honest docs singleton) | |")

    require(nCand <= pairBound + honest,
      s"candidate stage emitted $nCand pairs > path bound $pairBound (+$honest noise allowance)")
    require(minEst == 1.0, s"family edge est_jaccard $minEst != 1.0")
    require(famSize == k, s"family fragmented: largest component $famSize != $k")
    require(nComps == honest + 1,
      s"$nComps components != ${honest + 1}: honest docs merged or family split")

    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(
      f"""{"k":$k,"honest":$honest,"max_bucket":${DedupOps.MaxBucket},"bands":${DedupOps.Bands},"candidates":$nCand,"pair_bound":$pairBound,"family_pairs":$nFam,"min_est":$minEst%.3f,"honest_pairs":$nHon,"cc_rounds":$rounds,"largest_component":$famSize,"components":$nComps,"cand_secs":$candSecs%.3f,"cc_secs":$ccSecs%.3f}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
  }
}
