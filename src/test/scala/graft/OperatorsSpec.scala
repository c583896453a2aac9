package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.gate.{CurationGate, DedupGate, DedupSql, EventGate, SimilarityGate}

/** Behavior specs for the extension operator families (the end-to-end
  * value checks run via the DuckDB oracle; these cover semantics the
  * oracle can't express: recall bounds, tie-breaks, stub determinism). */
class OperatorsSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** The CC round law for n vertices: HookDelay neighbor-only rounds,
    * then ⌈log₂ n⌉ hook rounds (class count at least halves per round),
    * plus one convergence-detection round — valid on every topology. */
  private def ccRoundBound(n: Long): Int =
    DedupOps.HookDelay +
      (64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1))) + 1

  /** `n` honest documents with ids from `from`: unique 12-word texts of
    * hashed-id words, so no two share a shingle set. */
  private def honestDocs(from: Long, n: Long) =
    spark.range(from, from + n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(1000000L)))): _*)
        .as("text"))

  test("DedupOps.exact is last-write-wins per key") {
    import spark.implicits._
    val df = Seq((1, "a", 10), (1, "b", 20), (2, "c", 5)).toDF("id", "v", "ts")
    val out = DedupOps.exact(df, Seq(col("id")), Seq(col("ts").desc))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((1, "b"), (2, "c")))
  }

  test("planted near-duplicate is found by minhash, exact jaccard, and simhash") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + 1000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))

    // The testdata itself contains genuine near-duplicates (e.g. docs 8/12
    // at sf0.001), so assert the planted pairs are ALL found rather than
    // that nothing else is.
    val exact = DedupOps.ngramJaccard(planted, "doc_id", "text", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = docs.select("doc_id").collect()
      .map(r => { val i = r.getLong(0); (i, i + 1000) }).toSet
    assert(plantedPairs.subsetOf(exact),
      s"missing planted pairs: ${plantedPairs -- exact}")

    val mh = DedupOps.minhashCandidates(planted, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty, "minhash should surface some planted candidates")
    assert(mh.forall { case (a, b) => exact.contains((a, b)) || b - a == 1000 },
      s"minhash candidates should be real near-dups: ${mh -- exact}")

    val sh = DedupOps.simhashCandidates(planted, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Every planted pair that banding surfaces must have small hamming.
    assert(sh.forall(_._3 <= 8))
  }

  test("scalable forms match their window/naive twins exactly") {
    // exactAgg (partial-agg arg-min) ≡ exact (window row_number).
    val docs = Tables(spark, sf, "documents")
    val fp = Seq(graft.functions.TextFunctions.fingerprint(col("text")))
    val a = DedupOps.exactAgg(docs, fp, col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val w = DedupOps.exact(docs, fp, Seq(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(a == w)

    // prefix-filtered Jaccard ≡ naive inverted-index Jaccard.
    val base = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
    val planted = base.unionByName(base.select(
      (col("doc_id") + 1000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
    val naive = DedupOps.ngramJaccard(planted, "doc_id", "text", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefixed = DedupOps.ngramJaccardPrefix(planted, "doc_id", "text", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixed == naive,
      s"prefix filter changed results: only-naive=${naive -- prefixed} only-prefix=${prefixed -- naive}")
    val dense = DedupOps.ngramJaccardDense(planted, "doc_id", "text", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dense == naive,
      s"dense form changed results: only-naive=${naive -- dense} only-dense=${dense -- naive}")
  }

  test("ngramJaccardPrefix df cap: dormant = byte-identical, saturated = ledger'd degrade") {
    import spark.implicits._
    // Planted saturation: docs 0-9 share ONE bounded-vocab text (its 5
    // shingles reach df = 10), docs 10/11 are genuine near-dups over
    // rare (df <= 2) shingles. With the cap at 4, the common shingles
    // are over-cap and docs 0-9 have NO under-cap shingle to fill their
    // prefix — the exact degrade regime the guard exists for.
    val common = "the cat sat on the mat"
    val docs = ((0L until 10L).map(i => (i, common)) ++ Seq(
      (10L, "zebra quark flume nimbus octo pine"),
      (11L, "zebra quark flume nimbus octo"))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val truth = pairs(DedupOps.ngramJaccardDense(docs, "doc_id", "text", 0.4))
    assert(truth.size == 46, s"fixture drifted: ${truth.size} true pairs")

    // Dormant at the default cap (max df 10 << 256): byte-identical.
    val dormant = pairs(DedupOps.ngramJaccardPrefix(docs, "doc_id", "text", 0.4))
    assert(dormant == truth)

    // Saturated at cap 4: the rare-shingled pair survives, every lost
    // pair involves a degraded doc, and nothing false is emitted.
    val guarded = pairs(
      DedupOps.ngramJaccardPrefix(docs, "doc_id", "text", 0.4, maxDf = 4))
    assert(guarded == Set((10L, 11L, 0.8)),
      s"expected only the rare-shingle pair, got $guarded")
    assert(guarded.subsetOf(truth))
    assert((truth -- guarded).forall { case (a, b, _) => a < 10 && b < 10 },
      "every lost pair must be between degraded (all-over-cap) docs")

    // The ledger prices exactly that exposure.
    val led = DedupOps.jaccardDfLedger(docs, "doc_id", "text", 0.4, maxDf = 4)
      .collect().head
    assert(led.getLong(led.fieldIndex("n_shingles")) == 10)
    assert(led.getLong(led.fieldIndex("max_df")) == 10)
    assert(led.getLong(led.fieldIndex("n_over_cap")) == 5)
    assert(led.getLong(led.fieldIndex("n_docs_degraded")) == 10)

    // And at the default cap the same ledger certifies dormancy.
    val led2 = DedupOps.jaccardDfLedger(docs, "doc_id", "text", 0.4)
      .collect().head
    assert(led2.getLong(led2.fieldIndex("n_over_cap")) == 0)
    assert(led2.getLong(led2.fieldIndex("n_docs_degraded")) == 0)
  }

  test("simhashCandidates cap: dormant = byte-identical; saturated = deterministic " +
      "path degrade, connectivity preserved, loss quantified") {
    import spark.implicits._
    // Planted saturation: docs 0-9 share one text (identical simhash ⇒
    // every one of their 4 chunk buckets holds 10 > cap 4); docs 10-11
    // share another text (bucket population 2 — under cap).
    val docs = ((0L until 10L).map(i => (i, "the cat sat on the mat")) ++ Seq(
      (10L, "zebra quark flume nimbus octo pine"),
      (11L, "zebra quark flume nimbus octo pine"))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = pairs(DedupOps.simhashCandidates(docs, "doc_id", "text",
      maxHamming = 8, maxBucket = Int.MaxValue))
    assert(exact.size == 46, s"fixture drifted: ${exact.size} true pairs")

    // Dormant at the default cap (buckets of 10 << 1024): byte-identical.
    assert(pairs(DedupOps.simhashCandidates(docs, "doc_id", "text", 8)) == exact)

    // Saturated at cap 4: the over-cap family degrades from its 45-pair
    // clique to the 9 consecutive (simhash, id)-ordered path edges
    // (identical simhash ⇒ hamming 0 ⇒ all survive the filter); the
    // under-cap pair is untouched; nothing false is emitted.
    val capped = pairs(DedupOps.simhashCandidates(docs, "doc_id", "text",
      maxHamming = 8, maxBucket = 4))
    assert(capped == ((0L until 9L).map(i => (i, i + 1)).toSet + ((10L, 11L))),
      s"unexpected capped pairs: $capped")
    assert(capped.subsetOf(exact))
    assert((exact -- capped).forall { case (a, b) => a < 10 && b < 10 },
      "every lost pair must be inside the over-cap family")

    // The degrade loses PAIRWISE recall (9/45 inside the family) but
    // keeps family CONNECTIVITY — the documented contract: components
    // over capped edges equal components over the exact clique.
    def comps(p: Set[(Long, Long)]) = DedupOps.connectedComponents(
      docs.select(col("doc_id")), p.toSeq.toDF("id_a", "id_b"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps(capped) == comps(exact))

    // And the ledger prices exactly that exposure on the GROUP axis:
    // the banding sees only 2 distinct simhashes (no distinct-level
    // over-cap even at cap 4), while the 10-member identical-simhash
    // group is the over-cap path driver; zero at the production cap.
    val led = DedupOps.simhashBucketLedger(docs, "doc_id", "text", maxBucket = 4)
      .collect().head
    assert(led.getLong(led.fieldIndex("max_bucket")) <= 2)
    assert(led.getLong(led.fieldIndex("n_over_cap")) == 0)
    assert(led.getLong(led.fieldIndex("max_group")) == 10)
    assert(led.getLong(led.fieldIndex("n_over_cap_groups")) == 1)
    val led2 = DedupOps.simhashBucketLedger(docs, "doc_id", "text").collect().head
    assert(led2.getLong(led2.fieldIndex("n_over_cap")) == 0)
    assert(led2.getLong(led2.fieldIndex("n_over_cap_groups")) == 0)
  }

  test("simhash variant rescue is EXACT under a firing level-1 cap; " +
      "window degrade keeps precision 1.0 and a measured recall floor") {
    // The r16 recall contract's spec-side floor (VERDICT r15 #1): with
    // the distinct-sim bucket cap forced to fire EVERYWHERE (cap 2) but
    // the variant guard dormant, the 1-bit-flip variant join must
    // reproduce the exact candidate set bit-for-bit — recall 1.0 is
    // STRUCTURAL (pigeonhole: <= 8 differing bits over 3 free 12-bit
    // chunks leave some chunk within hamming 2), not dormancy.
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def pairs(mb: Int, vc: Int = DedupOps.SimMaxBucket,
        eb: Int = DedupOps.SimVariantEscalateBudget) =
      DedupOps.simhashCandidates(docs, "doc_id", "text", maxHamming = 8,
          maxBucket = mb, variantCap = vc, escalateBudget = eb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = pairs(Int.MaxValue)
    assert(exact.nonEmpty, "fixture has no hamming<=8 banded pairs")
    val rescued = pairs(2)
    assert(rescued == exact,
      s"variant rescue lost ${(exact -- rescued).size} / gained " +
        s"${(rescued -- exact).size} pairs under a level-1 cap of 2")
    // Both caps forced: the sorted-window degrade is the only lossy
    // stage. Precision stays structural (every emitted pair shares a
    // chunk and passed the hamming filter); recall floors, tightened
    // r17 to the measured values minus a band (r16 verdict ask #4):
    // this fixture measures 1.0 (the 4-rotation windows recover every
    // pair at cap 2 on sf0.001) — floor 0.9, so a deliberate 10-point
    // regression fails HERE even if code and oracle are changed
    // consistently; the gate rows pin 0.9203 at sf0.1/cap 32
    // (simhash_recall_window) and the dense near-ball spec below floors
    // the near-ball regime.
    val windowed = pairs(2, vc = 2, eb = 0)
    assert(windowed.subsetOf(exact), "window degrade emitted a false pair")
    assert(windowed.size * 10 >= exact.size * 9,
      s"window-degrade recall ${windowed.size}/${exact.size} below 0.9 floor " +
        "(this fixture measured 1.0 at r17)")
    // The COMMITTED DEFAULT at the same forced caps (r20 flip): the
    // over-cap work on this fixture fits the linear budget, so the
    // escalation must recover the exact set bit-for-bit.
    assert(pairs(2, vc = 2) == exact,
      "default budgeted escalation must reproduce the exact set on an " +
        "in-budget fixture")
  }

  test("budgeted variant-stage auto-escalation: prefix cut arithmetic; " +
      "covering budget reproduces the exact set; zero budget is the old pipeline") {
    // The cut is a pure prefix over ascending size classes — assert the
    // arithmetic the candidate pipeline and the near-ball spec both use.
    // Classes: 2 buckets of size 3 (work 2·3=6), 1 of 5 (10), 1 of 10 (45).
    val hist = Seq((3L, 2L), (5L, 1L), (10L, 1L))
    assert(DedupOps.escalationCut(hist, 2, 5L) == ((2L, 0L)),
      "a budget below the smallest class must admit nothing")
    assert(DedupOps.escalationCut(hist, 2, 6L) == ((3L, 6L)))
    assert(DedupOps.escalationCut(hist, 2, 16L) == ((5L, 16L)))
    assert(DedupOps.escalationCut(hist, 2, 17L) == ((5L, 16L)),
      "a class that does not fit must STOP the cut, not be skipped")
    assert(DedupOps.escalationCut(hist, 2, 61L) == ((10L, 61L)))
    // Classes at or below variantCap never count against the budget.
    assert(DedupOps.escalationCut(Seq((2L, 100L)) ++ hist, 2, 6L) == ((3L, 6L)))

    // End-to-end: with both caps forced to 2 the windows fire on this
    // corpus (previous spec); a budget that covers the whole over-cap
    // work must reproduce the exact candidate set bit-for-bit, and a
    // zero budget must equal the committed window pipeline exactly.
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def pairs(eb: Int) =
      DedupOps.simhashCandidates(docs, "doc_id", "text", maxHamming = 8,
          maxBucket = 2, variantCap = 2, escalateBudget = eb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = DedupOps.simhashCandidates(docs, "doc_id", "text",
        maxHamming = 8, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val windowed = pairs(0)
    val auto = pairs(1 << 20)
    assert(auto == exact,
      s"covering budget lost ${(exact -- auto).size} / gained " +
        s"${(auto -- exact).size} pairs vs the exact set")
    assert(windowed.subsetOf(auto),
      "escalation must only ADD pairs over the window pipeline")
    // Partial budgets (r22 leg pruning): the cut is a prefix over
    // ascending size classes, so results are MONOTONE in the budget —
    // each admitted class trades its window-degrade subset for the
    // full clique. Small budgets land in the remainder-non-empty
    // branch (winPairs legs kept); the chain pins the containment
    // sandwich window ⊆ partial ⊆ partial' ⊆ exact across it.
    val partials = Seq(1, 4, 64).map(pairs)
    (windowed +: partials :+ auto).sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi),
        s"budget escalation not monotone: ${lo.size} !⊆ ${hi.size}")
    }
  }

  test("simhash dense near-ball: lever and budgeted escalation are exact, windows keep it " +
      "one component; a saturated cloud admits no more work than its budget") {
    // The two adversarial regimes of the variant stage, planted as
    // signatures (text cannot plant them without inverting the hash),
    // with both caps forced to 64 so every guard fires at this size.
    val cap = 64
    def shl(v: org.apache.spark.sql.Column, bits: org.apache.spark.sql.Column) =
      call_function("shiftleft", v, bits.cast("int"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def cands(sig: org.apache.spark.sql.DataFrame, mb: Int = cap,
        vc: Int = cap, eb: Int = DedupOps.SimVariantEscalateBudget) =
      pairs(DedupOps.simhashCandidatesFromSig(sig, "doc_id", maxHamming = 8,
        maxBucket = mb, variantCap = vc, escalateBudget = eb))

    // Ball: chunks 2-3 pinned to one prefix, <= 4 hash-picked flips in
    // the low 24 bits, so EVERY ball pair is within hamming 8 and shares
    // a chunk — the exact output holds the whole clique. Random honest
    // signatures share the corpus.
    val nBall = 256L
    val ball = spark.range(0, nBall).select(col("id").as("doc_id"),
      lit(0x5a5a5a000000L).bitwiseOR((0 until 4).map(j =>
          shl(lit(1L), pmod(xxhash64(col("id"), lit(j)), lit(24))))
        .reduce(_ bitwiseOR _)).as("simhash"))
    val honest = spark.range(0, 300).select((col("id") + 1000000L).as("doc_id"),
      pmod(xxhash64(col("id"), lit(99)), lit((1L << 48) - 1)).as("simhash"))
    val sig = ball.unionByName(honest).localCheckpoint(true)
    val exact = cands(sig, mb = Int.MaxValue)
    val inBall = (p: (Long, Long)) => p._2 < nBall
    assert(exact.count(inBall) == nBall * (nBall - 1) / 2,
      "ball construction broke: exact set lacks part of the ball clique")
    // The per-call lever: a variant cap above the ball's distinct count
    // runs the pigeonhole-exact rescue everywhere — recall exactly 1.0.
    assert(cands(sig, vc = DedupOps.SimVariantCap, eb = 0) == exact)
    // Escalation opted out: the window degrade fires. Precision stays
    // structural, the ball stays ONE component over the window edges,
    // and recall keeps a floor.
    val window = cands(sig, eb = 0)
    assert(window.subsetOf(exact), "window degrade emitted a false pair")
    assert(window.size < exact.size, "the window regime did not fire")
    assert(window.size * 2 >= exact.size,
      s"window recall ${window.size}/${exact.size} below the 0.5 floor")
    import spark.implicits._
    val ballComps = DedupOps.connectedComponents(
      ball.select(col("doc_id")), window.filter(inBall).toSeq.toDF("id_a", "id_b"),
      "doc_id").agg(countDistinct(col("component"))).head.getLong(0)
    assert(ballComps == 1L, s"ball fragmented into $ballComps components")
    // The committed default: the ball's over-cap work fits the linear
    // budget, so the escalation admits it and recovers the exact set.
    val auto = cands(sig)
    assert(auto == exact,
      s"budgeted escalation lost ${(exact -- auto).size} ball pairs")

    // Saturated cloud: every signature agrees on chunk 0 and is within
    // one bit on chunk 1, the other 24 bits diffuse — huge variant
    // buckets, almost no true pairs. A small per-signature budget keeps
    // it box-sized; the rule bounds work for any budget: the over-cap
    // work must exceed the budget (else nothing is tested), the
    // smallest-first cut must admit at most the budget, and the
    // escalated run only adds pairs over the window run.
    val perSim = 16
    val cloud = spark.range(0, 1500).select(col("id").as("doc_id"),
      lit(0xABCL)
        .bitwiseOR(shl(lit(0x123L).bitwiseXOR(
          shl(lit(1L), pmod(xxhash64(col("id"), lit(7)), lit(12)))), lit(12)))
        .bitwiseOR(shl(pmod(xxhash64(col("id"), lit(8)), lit(1L << 24)), lit(24)))
        .as("simhash"))
      .localCheckpoint(true)
    // The pipeline's over-cap histogram, replayed: distinct signatures
    // -> over-cap (c, chunk) bands -> 13 variant keys per other chunk.
    val sims = cloud.select(col("simhash")).distinct()
    val nSims = sims.count()
    val chunkOf = (c: org.apache.spark.sql.Column) =>
      call_function("shiftright", col("simhash"), c.cast("int") * 12)
        .bitwiseAND(4095L)
    val flips = array((0L +: (0 until 12).map(b => 1L << b)).map(lit): _*)
    val hist = sims
      .select(col("simhash"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", chunkOf(col("c")))
      .withColumn("k", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("c", "chunk")))
      .filter(col("k") > cap)
      .select(col("simhash"), col("c"), col("chunk"),
        explode(sequence(lit(0), lit(3))).as("c2"))
      .filter(col("c2") =!= col("c"))
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        explode(flips).as("flip"))
      .select(col("c"), col("chunk"), col("c2"),
        chunkOf(col("c2")).bitwiseXOR(col("flip")).as("vkey"))
      .groupBy("c", "chunk", "c2", "vkey").agg(count(lit(1)).as("vn"))
      .filter(col("vn") > cap)
      .groupBy("vn").agg(count(lit(1)).as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val budget = perSim.toLong * nSims
    val workAll = hist.map { case (vn, nb) => nb * (vn * (vn - 1) / 2) }.sum
    val (cut, admitted) = DedupOps.escalationCut(hist, cap, budget)
    assert(workAll > budget, s"cloud work $workAll <= budget $budget: " +
      "the fixture no longer saturates")
    assert(admitted <= budget, s"admitted $admitted > budget $budget")
    assert(cut < hist.map(_._1).max, "the cut admitted every class")
    val cloudWin = cands(cloud, eb = 0)
    val cloudAuto = cands(cloud, eb = perSim)
    assert(cloudWin.subsetOf(cloudAuto),
      "escalation must only ADD pairs over the window pipeline")
  }

  test("simhashCandidatesFromSig rejects a signature frame that is not materialized") {
    // The escalation facts are measured from `sig` in their own driver
    // job; a lazy, non-deterministic `sig` could be recomputed
    // differently for the final query, so only a checkpointed frame
    // is accepted.
    val sig = DedupOps.simhash(Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(50), "doc_id", "text")
    val lazySig = intercept[IllegalArgumentException](
      DedupOps.simhashCandidatesFromSig(sig, "doc_id", 8))
    assert(lazySig.getMessage.contains("materialized"))
    intercept[IllegalArgumentException](
      DedupOps.simhashCandidatesFromSig(sig.localCheckpoint(false), "doc_id", 8))
    assert(DedupOps.simhashCandidatesFromSig(sig.localCheckpoint(true),
      "doc_id", 8).count() >= 0L)
  }

  test("connectedComponents collapses transitive chains; keepClusterMin keeps one per cluster") {
    import spark.implicits._
    // The ADVICE counter-example: edges (2,3) and (1,3) only. Pairwise
    // keep (no smaller partner) keeps {1, 2}; cluster-minimum keeps {1}.
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val comp = DedupOps.connectedComponents(docs, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    val keptCc = DedupOps.keepClusterMin(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptCc == Set(1L, 4L))
    val keptPairwise = DedupOps.keepAfterNearDedup(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptPairwise == Set(1L, 2L, 4L))

    // A long chain exercises multiple propagation rounds (diameter 5).
    val chainDocs = (10L to 15L).toDF("doc_id")
    val chain = (10L to 14L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComp = DedupOps.connectedComponents(chainDocs, chain, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chainComp == (10L to 15L).map(_ -> 10L).toMap)

    // globalNtile / globalRowNumber ≡ single-partition window forms.
    val orders = Tables(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val ord = Seq(col("o_totalprice"), col("o_orderkey"))
    val nt = AnalyticOps.globalNtile(orders, 4, ord, "q")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val ntw = orders.select(col("o_orderkey"),
        ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy(ord: _*)).as("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(nt == ntw)
    val rn = AnalyticOps.globalRowNumber(orders, ord)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val rnw = orders.select(col("o_orderkey"),
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(ord: _*))
          .cast("long").as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rn == rnw)
  }

  test("globalNtile partitions exactly with bucket sizes differing by at most one") {
    val orders = Tables(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val total = orders.count()
    for (n <- Seq(3, 5, 8)) {
      val counts = AnalyticOps.globalNtile(orders, n,
          Seq(col("o_totalprice"), col("o_orderkey")), "b")
        .groupBy("b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(counts.keySet == (1 to n).toSet, s"n=$n got ${counts.keySet}")
      assert(counts.values.sum == total)
      assert(counts.values.max - counts.values.min <= 1, s"n=$n sizes=$counts")
      // Buckets respect the sort order: max(value) of bucket i <= min of i+1.
      val bounds = AnalyticOps.globalNtile(orders, n,
          Seq(col("o_totalprice"), col("o_orderkey")), "b")
        .groupBy("b").agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      bounds.sliding(2).foreach {
        case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    }
  }

  test("wordBigrams: n-1 shingles, degenerate singleton, adjacency (generated cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val cases = (1 to 60).map { i =>
      val n = rnd.nextInt(8) + 1
      (i.toLong, (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val out = cases.toDF("id", "text")
      .select(col("id"), graft.functions.TextFunctions.wordBigrams(col("text")).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    cases.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val expected =
        if (toks.size <= 1) toks
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      assert(out(id) == expected, s"id=$id text='$text'")
    }
  }

  test("merge is idempotent for key-unique staged batches") {
    val target = Tables(spark, sf, "orders")
    val staged = target.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderstatus", lit("Z"))
    val once = LoadOps.merge(target, staged, "o_orderkey")
    val twice = LoadOps.merge(once, staged, "o_orderkey")
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("sketches: bloom filter and count-min over event users") {
    val events = Tables(spark, sf, "events")
    // Bloom: every present key must hit; absent keys mostly miss.
    val bloom = events.stat.bloomFilter("user_id", 1000, 0.03)
    val present = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    assert(present.forall(bloom.mightContain))
    val absentHits = (100000L to 101000L).count(bloom.mightContain)
    assert(absentHits < 100, s"bloom fp rate way off: $absentHits/1000")

    // Count-min: point estimates are always >= the true counts, and
    // close for hot keys.
    val cms = events.stat.countMinSketch("event_type",
      eps = 0.001, confidence = 0.99, seed = 42)
    val truth = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, n) =>
      val est = cms.estimateCount(k)
      assert(est >= n && est <= n + (events.count() * 0.01).toLong,
        s"count-min estimate for $k: $est vs true $n")
    }
  }

  test("scd2Merge keeps full history across generations") {
    import spark.implicits._
    import graft.operators.LoadOps
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    // Gen 1: id=1 updated.
    val g1 = LoadOps.scd2Merge(t0, Seq((1L, "a2")).toDF("id", "v"), "id",
      lit("2021-01-01"))
    // Gen 2: id=1 updated again, id=3 appears.
    val g2 = LoadOps.scd2Merge(g1, Seq((1L, "a3"), (3L, "c")).toDF("id", "v"),
      "id", lit("2022-01-01"))
    val rows = g2.orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString.take(4)).orNull)).toSeq
    assert(rows == Seq(
      (1L, "a", "2021"), (1L, "a2", "2022"), (1L, "a3", null),
      (2L, "b", null),
      (3L, "c", null)))
    // Exactly one current version per key.
    val current = g2.filter(col("valid_to").isNull).groupBy(col("id"))
      .count().collect().map(_.getLong(1))
    assert(current.forall(_ == 1L))
  }

  test("incremental minhash: new near-dup batch found against persisted signatures") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    // "Persisted" corpus signatures computed once.
    val corpusSig = DedupOps.minhashSignatureArr(docs, "doc_id", "text")
    // New arrivals: truncated copies of 10 corpus docs + genuinely new ids.
    val arrivals = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 5000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text"))
    val hits = DedupOps.minhashCandidatesAgainst(corpusSig, arrivals, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.nonEmpty)
    // Every flagged pair links an arrival to its source (or a genuine
    // near-dup of it, e.g. docs 8/12 in this slice).
    assert(hits.forall { case (c, n) => n >= 5000 && c < 40 }, hits.toString)
    assert(hits.exists { case (c, n) => n - c == 5000 }, hits.toString)
  }

  test("simhash is deterministic across partitionings") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 30)
    val a = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = DedupOps.simhash(docs.repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("lshKnn finds planted near-duplicates (recall >= 0.8)") {
    // Planted pairs at cosine ~0.992: P(one sign flip per plane) is a
    // few %, and multiprobe covers any single flip, so recall is high.
    val dir = "/root/testdata/sf0.01"
    val base = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding").as("vec"))
    val planted = base.select((col("vec_id") + 10000000L).as("probe_id"),
      concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("probe_vec"))
    val hits = SimilarityOps.lshKnn(planted, base, k = 3)
      .filter(col("vec_id") === col("probe_id") - 10000000L)
      .count()
    val nPairs = base.count()
    assert(hits >= (nPairs * 0.8).toLong, s"recall ${hits.toDouble / nPairs}")
    // Deterministic: identical result on re-run (fixed hyperplanes).
    val again = SimilarityOps.lshKnn(planted, base, k = 3)
      .filter(col("vec_id") === col("probe_id") - 10000000L).count()
    assert(again == hits)
  }

  test("ivfKnn recall@5 vs brute force is usable (> 0.5)") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceKnn(probes, corpus, 5))
    val approx = pairs(SimilarityOps.ivfKnn(probes, corpus, 5,
      centroidTarget = SimilarityGate.IvfCentroidTarget, nprobe = SimilarityGate.IvfNprobe))
    assert(exact.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.5, s"recall $recall")
  }

  test("ivfKnnTrained recall@5 is usable and not below the hash-seed IVF") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceKnn(probes, corpus, 5))
    val initial = SimilarityOps.ivfCentroids(corpus, SimilarityGate.KmeansK)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    val trained = pairs(SimilarityOps.ivfKnnTrained(probes, corpus, 5,
      graft.operators.ClusterOps.kmeans(corpus, initial, 2),
      nprobe = SimilarityGate.IvfNprobe))
    val recall = (exact & trained).size.toDouble / exact.size
    assert(recall > 0.5, s"trained recall $recall")
  }

  test("delNeighborhood expression == composed HOF form (as sets)") {
    // The custom expression must generate exactly the distinct-deletion
    // key set the composed nested-transform reference form defines —
    // on real names, short strings (L=0,1,2 edges), and repeated chars.
    import spark.implicits._
    val strs = Seq("Supplier#000000001", "", "a", "ab", "aaa", "abcab")
      .toDF("s")
    val both = strs.select(
      array_sort(DedupOps.delNeighborhood(col("s"))).as("fast"),
      array_sort(DedupOps.delNeighborhoodComposed(col("s"))).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("editCandidates covers every true dist<=2 pair (symmetric-delete soundness)") {
    // Ground truth by brute force on a small slice; the deletion-
    // neighborhood join must produce a SUPERSET (pigeonhole argument:
    // each of <=2 edits deletes at most one char per side).
    val sup = Tables(spark, "/root/testdata/sf0.01", "supplier")
      .select(col("s_suppkey"), col("s_name"))
    val corr = sup.select((col("s_suppkey") + 100000L).as("c_suppkey"),
      concat(substring(col("s_name"), 1, 2), expr("substring(s_name, 4)"))
        .as("c_name"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("s_suppkey", "c_suppkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(sup.crossJoin(corr)
      .filter(levenshtein(col("s_name"), col("c_name")) <= 2))
    val cand = pairs(DedupOps.editCandidates(sup, corr,
      "s_suppkey", "s_name", "c_suppkey", "c_name"))
    assert(truth.nonEmpty)
    assert(truth.subsetOf(cand),
      s"missed ${(truth -- cand).take(5)} of ${truth.size}")
  }

  test("duplicateSpans finds a shared span at DIFFERENT offsets (CDC alignment)") {
    import spark.implicits._
    // The content-defined-chunking property fixed-width chunking lacks:
    // boundaries depend only on local content, so a span shared by two
    // docs chunks identically even when its token offset differs.
    // Prefixes of different lengths (7 vs 19 tokens) shift the span; the
    // only chunk hashes that can collide are inside the shared span
    // (every other token is unique per doc).
    val shared = (1 to 80).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 7).map(i => s"apre$i").mkString(" ") + " " + shared),
      (2L, (1 to 19).map(i => s"bpre$i").mkString(" ") + " " + shared),
      (3L, (1 to 40).map(i => s"noise$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(docs, "doc_id", "text").collect()
    assert(spans.nonEmpty, "no duplicate spans found for an 80-token shared span")
    val byDoc = spans.groupBy(_.getLong(0))
    assert(byDoc.keySet == Set(1L, 2L), s"got docs ${byDoc.keySet}")
    // Same chunk hashes on both sides, at offsets differing by the
    // prefix-length delta (19 - 7 = 12) once chunking re-synchronizes.
    val h1 = spans.filter(_.getLong(0) == 1L).map(r => (r.getLong(3), r.getInt(1))).toMap
    val h2 = spans.filter(_.getLong(0) == 2L).map(r => (r.getLong(3), r.getInt(1))).toMap
    assert(h1.keySet == h2.keySet)
    assert(h1.keySet.forall(h => h2(h) - h1(h) == 12))
    // No span leaks outside the shared region and doc 3 contributes none.
    assert(spans.forall(_.getLong(4) == 2L))
  }

  test("cdcChunks is a lossless partition of each document") {
    // Chunks tile the token range exactly: starts/lengths reassemble to
    // 1..n with no gaps or overlaps, on real corpus text.
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .filter(col("doc_id") < 50)
    val bad = DedupOps.cdcChunks(docs, "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("tot"),
        min(col("start_tok")).as("first"),
        max(col("start_tok") + col("chunk_len")).as("endp"),
        count(lit(1)).as("nch"))
      .join(docs.select(col("doc_id"),
        size(split(graft.functions.TextFunctions.normalized(col("text")), " ")).as("n")),
        Seq("doc_id"))
      .filter(col("tot") =!= col("n") || col("first") =!= 1 ||
        col("endp") =!= col("n") + 1)
      .count()
    assert(bad == 0)
  }

  test("ivfCentroids count stays bounded near targetC (scale-safe broadcast)") {
    // The round-4 verdict flagged C ∝ N (id % 97): the centroid broadcast
    // and the O(N·C) assignment must NOT grow with the corpus. The hash
    // sample targets a FIXED C at any N: assert the sampled count is
    // within 3x of the target at two different corpus sizes.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val corpus = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      val c = SimilarityOps.ivfCentroids(corpus, SimilarityGate.IvfCentroidTarget).count()
      assert(c >= SimilarityGate.IvfCentroidTarget / 3 &&
        c <= SimilarityGate.IvfCentroidTarget * 3,
        s"$dir: $c centroids vs target ${SimilarityGate.IvfCentroidTarget}")
    }
  }

  test("ivfCentroids auto mode targets C = max(4, ceil(sqrt(N)))") {
    // The oracle mirrors the same formula, so a mirrored mistake would
    // pass the gate — this spec pins the INTENDED count independently:
    // the sampled centroid count must track ceil(sqrt(N)) (within the
    // hash-sample's 3x band) and GROW between the two corpus sizes.
    val counts = for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
      yield {
        val corpus = Tables(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("vec"))
        val n = corpus.count()
        val want = math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong)
        val c = SimilarityOps.ivfCentroids(corpus, SimilarityGate.IvfAutoC).count()
        assert(c >= want / 3 && c <= want * 3,
          s"$dir: $c centroids vs sqrt-target $want (N=$n)")
        c
      }
    assert(counts(1) > counts(0),
      s"auto C must grow with the corpus, got $counts")
  }

  test("embeddingNearDup finds a planted duplicate vector") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val planted = corpus.unionByName(
      corpus.filter(col("vec_id") === 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("vec")))
    val dups = SimilarityOps.embeddingNearDup(planted, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((100L, 1000100L)), s"got $dups")
  }

  test("resizeNearest samples the exact nearest-neighbor raster") {
    import spark.implicits._
    val text = "0123456789ABCDEF" + "GHIJKLMNOPQRSTUV" // 2 rows of 16 bytes
    val df = MultimodalOps.withBinaryColumn(
      Seq((1L, text)).toDF("doc_id", "text"), "text")
    val out = MultimodalOps.resizeNearest(df, "doc_id",
      srcW = 16, dstW = 8, dstH = 8).head()
    // Hand-computed index map: srcR = r*2 div 8, srcC = c*16 div 8.
    val bytes = text.getBytes("UTF-8")
    val px = for (r <- 0 until 8; c <- 0 until 8)
      yield bytes((r * 2 / 8) * 16 + (c * 16 / 8)).toInt
    val expMd5 = org.apache.commons.codec.digest.DigestUtils
      .md5Hex(px.mkString(","))
    assert(out.getAs[String]("raster_md5") == expMd5)
    assert(out.getAs[Double]("mean_px") == px.sum.toDouble / 64.0)
  }

  test("luhnValid accepts real checksums, rejects off-by-one digits") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val cases = Seq(
      ("4539148803436467", true), ("4539148803436468", false),
      ("79927398713", true), ("79927398710", false), // classic 11-digit pair
      ("0000000000000000", true))
    val out = cases.map(_._1).toDF("num")
      .select(col("num"), TextFunctions.luhnValid(col("num")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (n, exp) => assert(out(n) == exp, n) }
  }

  test("temperature mixture: smaller sources get higher keep rates") {
    val rows = SparkEntry.queries("mixture_temperature")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (n_src, thr)
      .sortBy(_._1)
    assert(rows.length >= 2)
    // alpha = 0.5 < 1: the keep threshold must be non-increasing in
    // source size — the whole point of temperature balancing.
    rows.sliding(2).foreach { case Array((n1, t1), (n2, t2)) =>
      assert(n1 == n2 || t1 >= t2, s"thr not monotone: ($n1,$t1) vs ($n2,$t2)")
    }
  }

  test("keepClusterBest keeps the max-quality member of each cluster") {
    import graft.functions.TextFunctions
    val base = Tables(spark, sf, "documents").filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.select(
      (col("doc_id") + 1000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
    val pairs = DedupOps.ngramJaccardDense(docs, "doc_id", "text", 0.4)
    val kept = DedupOps.keepClusterBest(docs, pairs, "doc_id",
      TextFunctions.qualityScore(col("text")))
    // Independently recompute the argmax per component: the kept member
    // must be the quality max (ties lowest id), one keeper per cluster.
    val comp = DedupOps.connectedComponents(
      docs.select(col("doc_id")), pairs, "doc_id")
    val best = docs.join(comp, "doc_id")
      .groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        struct(TextFunctions.qualityScore(col("text")), -col("doc_id")))
        .as("doc_id"))
    assert(kept.count() == comp.select("component").distinct().count())
    assert(kept.select("doc_id").exceptAll(best.select("doc_id")).count() == 0)
  }

  test("bm25: rare-term hits outrank common-term repetition; tf still counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common common common"),
      (3L, "common other words"),
      (4L, "other words entirely")).toDF("doc_id", "text")
    val out = TextOps.bm25Scores(docs, "doc_id", "text", Seq("common", "rare"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(4L)) // no query term, no score row
    assert(out(1L)._1 == 2 && out(2L)._1 == 1)
    // doc 1 hits the rare term (df=1, high idf): beats doc 2's extra
    // repetitions of the common term (df=3, low idf)…
    assert(out(1L)._2 > out(2L)._2)
    // …and among common-only docs of equal length, higher tf wins.
    assert(out(2L)._2 > out(3L)._2)
  }

  test("cleanHtml strips tags, unescapes entities exactly once, collapses space") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "<p>a &amp;lt; b</p>"), // encoded entity must NOT double-unescape
      (2L, "x  <br/>   y &nbsp; z"),
      (3L, "<a href=\"#\">link&quot;s</a>"),
      (4L, "plain")).toDF("id", "html")
    val out = df.select(col("id"), TextFunctions.cleanHtml(col("html")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a &lt; b")
    assert(out(2L) == "x y z")
    assert(out(3L) == "link\"s")
    assert(out(4L) == "plain")
  }

  test("bloomPrefilteredJoin equals the plain join and prunes the big side") {
    val small = Tables(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val big = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val bloomed = SkewOps.bloomPrefilteredJoin(big, small, "o_orderkey")
    val plain = big.join(small, "o_orderkey")
    assert(bloomed.count() == plain.count())
    assert(bloomed.exceptAll(plain).count() == 0 &&
      plain.exceptAll(bloomed).count() == 0)
    // The probe must appear in the plan (pushed to the big side) and the
    // sketch must actually prune: far fewer rows pass than exist.
    assert(bloomed.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("boilerplateScrub removes the planted footer, keeps unique content") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        concat_ws(" ", col("text"), lit(CurationGate.BoilerFooter)).as("text"))
    val out = TextOps.boilerplateScrub(docs, "doc_id", "text",
      CurationGate.BoilerTileWidth, CurationGate.BoilerMinDf)
    // Every doc carries the footer, so every doc must lose at least one
    // tile — but never all of them (the original text is unique).
    val bad = out.filter(col("n_kept") >= col("n_tiles") || col("n_kept") <= 0)
      .count()
    assert(bad == 0)
  }

  test("boilerplateScrubText above-cap path degrades to the anti-join with identical values") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        concat_ws(" ", col("text"), lit(CurationGate.BoilerFooter)).as("text"))
    val dictN = TextOps.boilerplateDict(docs, "doc_id", "text",
      CurationGate.BoilerTileWidth, CurationGate.BoilerMinDf).count()
    assert(dictN > 0, "dictionary empty — fallback test is vacuous")
    val fast = TextOps.boilerplateScrubText(docs, "doc_id", "text",
      CurationGate.BoilerTileWidth, CurationGate.BoilerMinDf)
    // maxDictTiles = 0 forces the distributed anti-join degradation the
    // broadcast cap would trigger at 16M tiles; values must be identical.
    val slow = TextOps.boilerplateScrubText(docs, "doc_id", "text",
      CurationGate.BoilerTileWidth, CurationGate.BoilerMinDf, maxDictTiles = 0)
    assert(fast.exceptAll(slow).count() == 0 &&
      slow.exceptAll(fast).count() == 0)
  }

  test("boilerplateScrub with an unreachable threshold is the identity") {
    import graft.functions.TextFunctions
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val out = TextOps.boilerplateScrub(docs, "doc_id", "text",
      CurationGate.BoilerTileWidth, minDf = 1000000)
    // No tile can reach the threshold: reconstruction must round-trip the
    // normalized text exactly (tiling is lossless).
    val mismatch = out
      .join(docs.select(col("doc_id"),
        md5(TextFunctions.normalized(col("text"))).as("orig_md5")), "doc_id")
      .filter(col("clean_md5") =!= col("orig_md5") ||
        col("n_kept") =!= col("n_tiles"))
      .count()
    assert(mismatch == 0)
  }

  test("tokenTiles tiling is lossless across widths and messy inputs") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "Beta", "GAMMA", "d", "épsilon", "x1")
    val docs = ((1 to 40).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (i % 3 == 0) "   " else " "))
    } :+ (98L, "single") :+ (99L, "  padded   both  ends  ")).toDF("doc_id", "text")
    for (width <- Seq(1, 3, 8, 50)) {
      // Reassembling ALL tiles in order must reproduce the normalized
      // text exactly — no token lost, duplicated, or reordered.
      val recon = TextOps.tokenTiles(docs, "doc_id", "text", width)
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg_text")))),
          x => x.getField("seg_text")), " ").as("recon"))
      val bad = recon
        .join(docs.select(col("doc_id"),
          TextFunctions.normalized(col("text")).as("norm")), "doc_id")
        .filter(col("recon") =!= col("norm")).count()
      assert(bad == 0, s"width=$width lost content")
    }
  }

  test("bigramLmScores ranks in-domain text above shuffled-vocab gibberish") {
    import spark.implicits._
    // 30 fluent docs repeat the same transitions; 1 gibberish doc uses
    // the same words in transitions the corpus never repeats.
    val fluent = (1 to 30).map(i => (i.toLong, "the cat sat on the mat and the dog ran"))
    val gib = Seq((99L, "mat the on dog and sat ran cat the mat on"))
    val docs = (fluent ++ gib).toDF("doc_id", "text")
    val scores = TextOps.bigramLmScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(99L) < scores(1L),
      s"gibberish ${scores(99L)} should score below fluent ${scores(1L)}")

    // Over maxModelRows the score join degrades from broadcast to
    // sort-merge — value-identical (the model guard trades plan shape,
    // never semantics).
    val merged = TextOps.bigramLmScores(docs, "doc_id", "text",
        maxModelRows = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(merged == scores, "merge fallback changed lm scores")
  }

  test("topKOverlapsPerSession: exact ranks, deterministic ties, candidate pruning semantics") {
    import spark.implicits._
    val sess = Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 01:00:00"), // long: 3600 s
      (2L, "2024-01-01 00:00:00", "2024-01-01 00:10:00"), // 600 s
      (3L, "2024-01-01 00:05:00", "2024-01-01 00:15:00")) // 600 s
      .toDF("user_id", "st", "en")
      .select(col("user_id"), col("st").cast("timestamp").as("session_start"),
        col("en").cast("timestamp").as("session_end"))
    def run(m: Int) = AnalyticOps.topKOverlapsPerSession(sess, "user_id",
        "session_start", "session_end", k = 2, bucketSec = 600L, candM = m)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getInt(5)))
      .toSet

    // Unpruned: true intersection seconds, ties (u2/u3 both overlap u1
    // for 600 s) break on partner user id.
    val exact = run(Int.MaxValue)
    assert(exact == Set(
      (1L, 2L, 600L, 1), (1L, 3L, 600L, 2),
      (2L, 1L, 600L, 1), (2L, 3L, 300L, 2),
      (3L, 1L, 600L, 1), (3L, 2L, 300L, 2)))

    // candM = 1: only the bucket's longest session (u1) is a candidate
    // partner — u2/u3 keep exactly their u1 row, u1 (whose partners
    // would all be shorter) gets none. The pruning is SEMANTICS, not a
    // best-effort cap: deterministic and oracle-replayable.
    assert(run(1) == Set((2L, 1L, 600L, 1), (3L, 1L, 600L, 1)))
  }

  test("kmeans refinement does not increase the clustering objective") {
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("vec"))
    val initial = SimilarityOps.ivfCentroids(corpus, 8)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))

    def sse(cents: org.apache.spark.sql.DataFrame): Double = {
      val d2 = aggregate(
        zip_with(col("vec"), col("cent_vec"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, x) => acc + x)
      corpus.crossJoin(broadcast(cents.select("cent_id", "cent_vec")))
        .groupBy(col("vec_id")).agg(min(d2).as("d2"))
        .agg(sum(col("d2"))).head().getDouble(0)
    }

    val one = ClusterOps.kmeans(corpus, initial, 1)
    val two = ClusterOps.kmeans(corpus, initial, 2)
    val (s0, s1, s2) = (sse(initial), sse(one), sse(two))
    // Lloyd is monotone with exact means; 2^24 fixed-point rounding can
    // nudge each step by at most a hair — allow 0.01%.
    assert(s1 <= s0 * 1.0001, s"iter1 $s1 vs seed $s0")
    assert(s2 <= s1 * 1.0001, s"iter2 $s2 vs iter1 $s1")
  }

  test("kmeans centroids are invariant to corpus partitioning") {
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("vec"))
    val initial = SimilarityOps.ivfCentroids(corpus, 8)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    def run(c: org.apache.spark.sql.DataFrame) =
      ClusterOps.kmeans(c, initial, 2)
        .select(col("cent_id"), col("n_members"),
          to_json(col("cent_vec")).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // Fixed-point integer sums are associative: any partitioning must
    // produce bit-identical centroids.
    assert(run(corpus) == run(corpus.repartition(7, col("vec_id") % 3)))
  }

  test("kmeansAssign maps every vector to exactly one live centroid") {
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("vec"))
    val initial = SimilarityOps.ivfCentroids(corpus, 8)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    val cents = ClusterOps.kmeans(corpus, initial, 2)
    val assigned = ClusterOps.kmeansAssign(corpus, cents)
    assert(assigned.count() == corpus.count())
    assert(assigned.select("vec_id").distinct().count() == corpus.count())
    val live = cents.select("cent_id").collect().map(_.getLong(0)).toSet
    val used = assigned.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(used.subsetOf(live))
  }

  test("semDedup drops the planted copy, keeps the lowest-id representative") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val planted = corpus.unionByName(
      corpus.filter(col("vec_id") === 100)
        .select((col("vec_id") + 1000000).as("vec_id"), col("vec")))
    val kept = SimilarityOps.semDedup(planted, 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // The exact copy shares vec 100's cluster and cosine 1.0 — the
    // higher id must be dropped, the original kept.
    assert(kept.contains(100L) && !kept.contains(1000100L))
    // Keep list is a subset of the corpus and nonempty.
    assert(kept.nonEmpty && kept.subsetOf(
      planted.select("vec_id").collect().map(_.getLong(0)).toSet))
  }

  test("semDedup keep list has no surviving near-dup pair within a cluster") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val thr = 0.9
    val kept = SimilarityOps.semDedup(corpus, thr)
    // Among survivors sharing a cluster, no pair may reach the threshold:
    // the drop rule removed every higher-id member of such a pair.
    val withVec = kept.join(corpus, "vec_id")
    val bad = withVec.as("x").join(withVec.as("y"),
        col("x.cent_id") === col("y.cent_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(SimilarityOps.cosine(col("x.vec"), col("y.vec")) >= thr)
      .count()
    assert(bad == 0, s"$bad surviving near-dup pairs")
  }

  test("asofJoin: right row at identical ts is visible (inclusive <=)") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val left = Seq((1L, ts0, 101L), (1L, ts1, 102L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, ts0, 201L)).toDF("user_id", "ts", "event_id")
    val out = AnalyticOps.asofJoin(left, right, "user_id", "ts", "ts", "event_id", "event_id")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getAs[Any]("asof_event_id"))).toSeq
    assert(out == Seq((101L, 201L), (102L, 201L)))
  }

  test("asofJoin: no prior right row yields null") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val left = Seq((1L, ts0, 101L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, ts1, 201L)).toDF("user_id", "ts", "event_id")
    val out = AnalyticOps.asofJoin(left, right, "user_id", "ts", "ts", "event_id", "event_id")
      .collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("asof_event_id")))
  }

  test("asofJoinForward: inclusive >=, next-not-previous, null when none follow") {
    import spark.implicits._
    val t9 = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val t10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t11 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val left = Seq((1L, t10, 101L), (1L, t11, 102L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, t9, 201L), (1L, t10, 202L)).toDF("user_id", "ts", "event_id")
    val out = AnalyticOps.asofJoinForward(left, right, "user_id", "ts", "ts",
        "event_id", "event_id")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getAs[Any]("asof_event_id"))).toSeq
    // 101 at t10 sees the same-ts 202 (inclusive >=, never the earlier 201);
    // 102 at t11 has nothing following -> null.
    assert(out == Seq((101L, 202L), (102L, null)))
  }

  test("asofJoinTolerance: stale matches fall to null, fresh ones survive") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:30:00") // 1800s after t0
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00") // 5400s after t1
    val left = Seq((1L, t1, 101L), (1L, t2, 102L)).toDF("user_id", "ts", "event_id")
    val right = Seq((1L, t0, 201L), (1L, t1, 202L)).toDF("user_id", "ts", "event_id")
    val out = AnalyticOps.asofJoinTolerance(left, right, "user_id", "ts", "ts",
        "event_id", "event_id", toleranceSec = 3600L)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getAs[Any]("asof_event_id"))).toSeq
    // 101 matches same-ts 202 (age 0 <= 3600); 102's most recent right is
    // 202 at age 5400s > 3600 -> null (stale, not "fall back to older").
    assert(out == Seq((101L, 202L), (102L, null)))
  }

  test("multimodal: GRB1 decode is real, deterministic, and rejects foreign bytes") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 20)
    val withBin = MultimodalOps.withToyRaster(docs, "text")
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getLong(3),
        r.getSeq[Long](4)))).toMap
    val f1 = grab(MultimodalOps.decodeFeatures(withBin, "doc_id", batchSize = 7))
    val f2 = grab(MultimodalOps.decodeFeatures(
      withBin.repartition(5), "doc_id", batchSize = 3))
    assert(f1 == f2, "decode must not depend on partitioning/batching")
    // The decoder read the DECLARED raster: histogram counts sum to w*h.
    f1.values.foreach { case (w, h, nPx, hist) =>
      assert(nPx == w.toLong * h)
      assert(hist.sum == nPx)
      assert(hist.length == MultimodalOps.FeatureDim)
    }
    // Honest decoder: non-GRB1 payloads fail loudly, not quietly.
    val foreign = MultimodalOps.withBinaryColumn(docs, "text")
    val ex = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeFeatures(foreign, "doc_id").collect()
    }
    assert(ex.getMessage.contains("GRB1") ||
      ex.getCause.getMessage.contains("GRB1"))
  }

  test("multimodal: frameSample slices payload without shuffling it") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 5)
    val frames = MultimodalOps.frameSample(
      MultimodalOps.withBinaryColumn(docs, "text"), "doc_id", frameBytes = 16, every = 2)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Array[Byte]]("frame_bytes").length <= 16))
    assert(rows.forall(_.getAs[Int]("frame_no") % 2 == 0))
  }

  test("approx_count_distinct lands within HLL tolerance of exact") {
    val ev = Tables(spark, sf, "events")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = operators.SketchOps
      .approxDistinct(ev, col("event_type"), col("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  test("BPE training learns the most frequent pair first, greedily left-to-right") {
    import spark.implicits._
    // Tokens: aa x1, ab x3 — first merge must be (a,b) (count 3), second
    // (a,a). After 2 merges both words are single symbols.
    val docs = Seq((1L, "aa ab"), (2L, "ab ab")).toDF("doc_id", "text")
    val dict = TextOps.bpeTrain(docs, "text", 2)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(dict("aa") == " aa ")
    assert(dict("ab") == " ab ")
    // Greedy leftmost non-overlapping within one rule: "aaa" under a
    // single (a,a) merge becomes [aa, a], NOT [a, aa] and NOT [aaa].
    val tri = TextOps.bpeTrain(Seq((1L, "aaa")).toDF("doc_id", "text"),
      "text", 1).collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(tri("aaa") == " aa a ")
    // Token counts flow from the dictionary: doc 1 = aa(1) + ab(1).
    val counts = TextOps.bpeTokenCounts(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts(1L) == (2L, 2L))
    assert(counts(2L) == (2L, 2L))
    // More merges can only shrink (or hold) the corpus token count.
    val m1 = TextOps.bpeTokenCounts(docs, "doc_id", "text", 1)
      .agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
    val m2 = counts.values.map(_._2).sum
    assert(m2 <= m1)
  }

  test("bpeTokenize: sequence length matches counts; order-sensitive; OOV chars") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val dict = TextOps.bpeTrain(docs, "text", 4)
    val seqs = TextOps.bpeTokenizeWith(docs, "doc_id", "text", dict)
    val counts = TextOps.bpeTokenCountsWith(docs, "doc_id", "text", dict)
    // Clean corpus: the emitted sequence length IS the budget count.
    val joined = seqs.as("a").join(counts.as("b"), "doc_id")
      .select(col("doc_id"), col("a.n_bpe_tokens").as("ns"),
        col("b.n_bpe_tokens").as("nc"),
        (size(split(col("toks"), " ")).cast("long") === col("a.n_bpe_tokens"))
          .as("len_ok"))
      .collect()
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)} count drift")
      assert(r.getBoolean(3), s"doc ${r.getLong(0)} toks length mismatch")
    }
    // Word order is preserved: swapped text tokenizes to a different
    // sequence with the same multiset of symbols.
    val two = Seq((1L, "alpha beta"), (2L, "beta alpha")).toDF("doc_id", "text")
    val d2 = TextOps.bpeTrain(two, "text", 1)
    val t2 = TextOps.bpeTokenizeWith(two, "doc_id", "text", d2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(t2(1L) != t2(2L))
    assert(t2(1L).split(" ").sorted.toSeq == t2(2L).split(" ").sorted.toSeq)
    // OOV word falls back to its per-character symbolization.
    val oov = TextOps.bpeTokenizeWith(
        Seq((9L, "zzq")).toDF("doc_id", "text"), "doc_id", "text", d2)
      .collect()(0)
    assert(oov.getString(2) == "z z q" && oov.getLong(1) == 3L)
  }

  test("trained quality model recovers planted spam labels") {
    import graft.operators.QualityModelOps
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" " + CurationGate.SpamTokens)).as("text")))
    val labels = planted.select(col("doc_id"),
      when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y"))
    val feats = QualityModelOps.hashedFeatures(planted, "doc_id", "text")
    val w = QualityModelOps.train(spark, feats, labels, "doc_id",
      CurationGate.QmSteps)
    // Weight table shape: one intercept row + one row per bucket.
    assert(w.count() == QualityModelOps.NumBuckets + 1)
    val scored = QualityModelOps.scores(feats, w, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val (spam, good) = scored.partition(_._1 >= 20000000L)
    assert(spam.nonEmpty && good.nonEmpty)
    val spamRejected = spam.count(_._2 < 0).toDouble / spam.length
    val goodKept = good.count(_._2 >= 0).toDouble / good.length
    assert(spamRejected >= 0.95,
      f"spam rejection $spamRejected%.3f < 0.95")
    assert(goodKept >= 0.95, f"good retention $goodKept%.3f < 0.95")
    // The spam lexicon's buckets carry strongly negative weights.
    import graft.functions.TextFunctions.hash60
    val spamBuckets = spark.createDataFrame(
        CurationGate.SpamTokens.split(" ").distinct.toSeq.map(Tuple1(_)))
      .toDF("g")
      .select(pmod(hash60(col("g")),
        lit(QualityModelOps.NumBuckets.toLong)).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet
    val wm = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spamBuckets.forall(b => wm(b) < 0),
      s"expected negative weights on spam buckets $spamBuckets")
  }

  test("sample-trained quality model agrees with the full-trained gate") {
    import graft.operators.QualityModelOps
    import graft.functions.TextFunctions.hash60
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" " + CurationGate.SpamTokens)).as("text")))
    def labelsOf(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y"))
    // Pair-stable 1-in-QmSampleMod sample (same predicate as the gate):
    // an original and its spam copy are both in or both out.
    val sampled = planted.filter(hash60(
      (col("doc_id") % 20000000L).cast("string"))
        % CurationGate.QmSampleMod === 0)
    val nSampled = sampled.count()
    assert(nSampled > 0 && nSampled < planted.count() / 2,
      s"sample of $nSampled docs isn't a strict minority")
    val feats = QualityModelOps.hashedFeatures(planted, "doc_id", "text")
    val wFull = QualityModelOps.train(spark, feats, labelsOf(planted),
      "doc_id", CurationGate.QmSteps)
    val wSmp = QualityModelOps.train(spark,
      QualityModelOps.hashedFeatures(sampled, "doc_id", "text"),
      labelsOf(sampled), "doc_id", CurationGate.QmSteps)
    // Decisions on the FULL corpus: sampled training must agree with
    // full training on >= 90% of documents (measured 99.3% at sf0.01,
    // 1-in-4 sample — the floor leaves room for the tiny sf0.001 docs
    // table, ~100 docs per class).
    val full = QualityModelOps.scores(feats, wFull, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1) >= 0)).toMap
    val smp = QualityModelOps.scores(feats, wSmp, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1) >= 0)).toMap
    assert(full.keySet == smp.keySet)
    val agree = full.count { case (id, kept) => smp(id) == kept }
    val rate = agree.toDouble / full.size
    assert(rate >= 0.90, f"sampled/full gate agreement $rate%.3f < 0.90")
  }

  test("BPE byte fallback: OOV words charge UTF-8 bytes, never vanish") {
    import spark.implicits._
    val train = Seq((1L, "aa ab"), (2L, "ab ab")).toDF("doc_id", "text")
    val dict = TextOps.bpeTrain(train, "text", 2)
    // 'zz' is out of vocabulary (2 ASCII bytes); 'é' is an OOV multibyte
    // char (2 UTF-8 bytes); in-vocab words keep their trained counts.
    val apply = Seq((1L, "aa zz"), (2L, "é"), (3L, "ab"))
      .toDF("doc_id", "text")
    val counts = TextOps.bpeTokenCountsWith(apply, "doc_id", "text", dict)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts(1L) == (2L, 1L + 2L), s"got ${counts(1L)}") // aa=1 sym, zz=2 bytes
    assert(counts(2L) == (1L, 2L), s"got ${counts(2L)}")      // é = 2 UTF-8 bytes
    assert(counts(3L) == (1L, 1L))                            // in-vocab unchanged
    // On the training corpus itself the fallback path never fires: the
    // counts equal the inner-join (pre-fallback) semantics.
    val self = TextOps.bpeTokenCountsWith(train, "doc_id", "text", dict)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(self == Map(1L -> 2L, 2L -> 2L))
  }

  test("IVF-PQ recall: ADC shortlist + exact re-rank tracks knn_ivf_trained") {
    val dir = "/root/testdata/sf0.01"
    def hits(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (p, a) => p -> a.map(_._2).toSet }
    val pq = hits("knn_ivf_pq_autoc")
    val ivf = hits("knn_ivf_trained")
    assert(pq.keySet == ivf.keySet)
    // PQ prunes with quantized distances, so it cannot beat its own
    // coarse-bucket baseline; on the near-random synthetic embeddings
    // ADC ordering is noisy — require substantial (not perfect) overlap.
    val recalls = pq.keys.toSeq.map { p =>
      (pq(p) intersect ivf(p)).size.toDouble / ivf(p).size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean recall vs ivf_trained too low: $mean ($recalls)")
  }

  test("substring scrub cuts shared chunks, reconstructs untouched docs losslessly") {
    val dir = "/root/testdata/sf0.001"
    val base = Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val planted = base.unionByName(base.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
    val out = DedupOps.scrubDuplicateSpans(planted, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val copies = out.keySet.filter(_ >= 10000000L)
    assert(copies.nonEmpty)
    // A multi-chunk copy's interior boundaries are content-defined from
    // the same prefix text, so its leading chunks equal the original's:
    // BOTH members lose chunks (the cut applies to every occurrence). A
    // single-chunk copy spans its whole truncated text and may match
    // nothing — no assertion there.
    val multi = copies.filter(c => out(c)._1 > 1)
    assert(multi.nonEmpty, "expected some multi-chunk copies")
    multi.foreach { c =>
      assert(out(c)._2 < out(c)._1, s"copy $c kept all chunks")
      val orig = c - 10000000L
      assert(out(orig)._2 < out(orig)._1, s"original $orig kept all chunks")
    }
    // A doc with nothing duplicated reconstructs to its EXACT normalized
    // text (chunks tile the token stream losslessly).
    val full = out.filter { case (_, (n, k, _)) => n == k }
    assert(full.nonEmpty, "expected some untouched docs")
    val expected = planted.select(col("doc_id"),
        md5(array_join(graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.normalized(col("text"))), " "))
          .as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    full.foreach { case (id, (_, _, m)) =>
      assert(m == expected(id), s"doc $id reconstruction not lossless") }
  }

  test("contamination fraction grades planted docs > 0, clean docs exactly 0") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("contamination_fraction")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val planted = rows.keySet.filter(id => id % 97 == 0 && id % 200 != 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(rows(id)._2 > 0.0, s"planted doc $id graded clean") }
    (rows.keySet -- planted).foreach { id =>
      assert(rows(id)._1 == 0L, s"clean doc $id graded contaminated") }
    // The graded signal agrees with the binary flag: flagged == frac > 0.
    val flagged = SparkEntry.queries("decontamination")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._2._1 > 0).keySet == flagged)
  }

  test("log-idf BM25 ranks single-term queries identically to the rational form") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables(spark, dir, "documents")
    val n = docs.count()
    // ±1e-9 tie tolerance: bucket scores so a last-bit difference can't
    // reorder effective ties; rank with id ascending inside a bucket.
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect()
        .map(r => r.getLong(0) -> math.rint(r.getDouble(2) / 1e-9).toLong)
        .toMap
    def ranked(b: Map[Long, Long], desc: Boolean): Seq[Long] =
      b.toSeq.sortBy { case (id, s) => (if (desc) -s else s, id) }.map(_._1)

    // Rare term (df < N/2, log-idf positive): rankings must be IDENTICAL.
    val rare = "dup"
    val r = buckets(TextOps.bm25Scores(docs, "doc_id", "text", Seq(rare)))
    val l = buckets(TextOps.bm25ScoresLogIdf(docs, "doc_id", "text", Seq(rare)))
    assert(r.nonEmpty && r.size < n / 2, s"'$rare' df=${r.size} not rare")
    assert(r.keySet == l.keySet)
    assert(ranked(r, desc = true) == ranked(l, desc = true),
      s"single-term ranking diverged for '$rare'")

    // Common term (df > N/2): the log turns NEGATIVE and inverts the
    // ranking — the quirk the docstring warns about, pinned here so a
    // future clamp shows up as a spec change, not a silent drift.
    val common = "spark"
    val rc = buckets(TextOps.bm25Scores(docs, "doc_id", "text", Seq(common)))
    val lc = buckets(TextOps.bm25ScoresLogIdf(docs, "doc_id", "text", Seq(common)))
    assert(rc.size > n / 2, s"'$common' df=${rc.size} not common")
    assert(lc.values.forall(_ < 0), "log-idf should be negative here")
    assert(ranked(rc, desc = true) == ranked(lc, desc = false),
      s"negative log-idf should invert the '$common' ranking")
  }

  test("residual IVF-PQ recall tracks knn_ivf_trained at the same budget") {
    val dir = "/root/testdata/sf0.01"
    def hits(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (p, a) => p -> a.map(_._2).toSet }
    val pq = hits("knn_ivf_pq_residual")
    val ivf = hits("knn_ivf_trained")
    assert(pq.keySet == ivf.keySet)
    val recalls = pq.keys.toSeq.map { p =>
      (pq(p) intersect ivf(p)).size.toDouble / ivf(p).size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean residual-PQ recall too low: $mean ($recalls)")
  }

  test("KMV bottom-k estimate lands within tolerance of exact distinct") {
    val dir = "/root/testdata/sf0.01"
    val ev = Tables(spark, dir, "events")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("kmv_distinct_users")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // KMV with k=64: relative error concentrates near 1/sqrt(k-2) ≈ 13%;
    // allow 3 sigma. Groups under k distinct values must be EXACT.
    est.foreach { case (k, a) =>
      val e = exact(k)
      if (e < EventGate.KmvK) assert(a == e, s"$k: sub-k group not exact")
      else assert(math.abs(a - e).toDouble / e < 0.40,
        s"$k: kmv $a vs exact $e")
    }
  }

  test("staged body keeps its partitioning: repartition(n) -> n staged files (M3)") {
    import graft.core._
    import graft.io.{ParquetWarehouse, StagingWriter}
    val root = java.nio.file.Files.createTempDirectory("graft_split").toString
    val cfg = LoaderConfig(table = TableRef("", "t"))
    val sw = new StagingWriter(spark, root, cfg, "20260101_000000", "deadbeef")
    val up = sw.writeBody(
      Tables(spark, sf, "orders").limit(400).repartition(4), 0, "json", gzip = false)
    assert(up.files.size == 4, s"expected 4 part files, got ${up.files}")
    val manifestPath = sw.writeManifest(Seq(up))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manifestPath)), "UTF-8")
    assert(up.files.forall(f => manifest.contains(f.split('/').last)))
  }

  test("warehouse compaction: many small appended files -> nFiles, data intact") {
    import graft.core._
    import graft.io.ParquetWarehouse
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "orders_c")
    val orders = Tables(spark, sf, "orders").limit(300)
    wh.create(tbl, orders.repartition(6))
    // Simulate incremental loads: several small appends.
    (1 to 4).foreach(_ => wh.load(LoadMode.Insert, tbl,
      orders.limit(50).repartition(3), "o_orderkey"))
    val before = wh.dataFiles(tbl).size
    val total = wh.table(tbl).count()
    assert(before >= 12, s"expected many small files, got $before")
    wh.compact(tbl, 2)
    assert(wh.dataFiles(tbl).size == 2)
    assert(wh.table(tbl).count() == total)
  }

  test("warehouse z-order compaction: atomic swap + both dims prune") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val root = java.nio.file.Files.createTempDirectory("graft_zcompact").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "events_z")
    val df = Seq.tabulate(8000)(i =>
      (i.toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("id", "x", "y")
    wh.create(tbl, df.repartitionByRange(16, col("id")))
    val total = wh.table(tbl).count()
    wh.compactZorder(tbl, "x", "y", 16, bits = 8)
    assert(wh.table(tbl).count() == total)
    // The live version is now prunable on either clustered dimension.
    val dir = wh.dataFiles(tbl) // sanity: files exist post-swap
    assert(dir.size == 16)
    val verDir = {
      val it = new java.io.File(root).listFiles()
        .find(_.getName == "events_z").get
      it.listFiles().filter(_.isDirectory).maxBy(_.getName).toString
    }
    def pruned(c: String): Int = LayoutOps.pruneFiles(
      LayoutOps.parquetFileStats(spark, verDir, c), 0, 31).size
    assert(pruned("x") <= 8 && pruned("y") <= 8,
      s"pruning weak: x=${pruned("x")} y=${pruned("y")}")
  }

  test("warehouse time travel and rollback across the retained generation") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "tt")
    wh.create(tbl, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = wh.versions(tbl).last
    wh.load(LoadMode.TruncateInsert, tbl, Seq((9L, "z")).toDF("id", "v"), "id")
    // Current is the new data; the previous generation is still readable.
    assert(wh.table(tbl).collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(wh.tableAt(tbl, v1).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(wh.versions(tbl).size == 2)
    // Rollback swings the pointer back without rewriting data.
    wh.rollback(tbl)
    assert(wh.table(tbl).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // Unknown version ids are refused.
    intercept[IllegalArgumentException](wh.tableAt(tbl, "v_nope"))
    // VACUUM reclaims every non-current version: time travel is gone,
    // the current read is untouched.
    wh.vacuum(tbl)
    assert(wh.versions(tbl).size == 1)
    assert(wh.table(tbl).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    intercept[IllegalStateException](wh.rollback(tbl))
  }

  test("change feed between warehouse versions via snapshotDiff") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "cdf")
    wh.create(tbl, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val v1 = wh.versions(tbl).last
    wh.load(LoadMode.TruncateInsert, tbl,
      Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "v"), "id")
    // The retained generation + snapshotDiff = a change data feed
    // between any two versions, without having recorded changes at
    // write time.
    val diff = LoadOps.snapshotDiff(
        wh.tableAt(tbl, v1), wh.table(tbl), "id", Seq("v"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(diff == Seq((1L, "same"), (2L, "update"), (3L, "delete"),
      (4L, "insert")))
  }

  test("warehouse schema evolution: appended files add columns on read") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "evolving")
    wh.create(tbl, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // A later load arrives with an extra column (upstream added a field).
    wh.load(LoadMode.Insert, tbl,
      Seq((3L, "c", 9.5)).toDF("id", "name", "score"), "id")
    val out = wh.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(out == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
  }

  test("warehouse upsert deletes on read: every older row of a staged key goes, " +
      "staged duplicates all land, a later Insert keeps both rows") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "mor")
    // 400 keys plus three more copies of key 7: the base holds 4 rows of 7.
    val base = (0L until 400L).map(i => (i, "old")) ++ Seq.fill(3)((7L, "old"))
    wh.create(tbl, base.toDF("id", "v").repartition(4))
    val baseFiles = wh.dataFiles(tbl).toSet
    def v(id: Long) = wh.table(tbl).filter(col("id") === id).select("v")
      .collect().map(_.getString(0)).sorted.toSeq
    // Two staged rows for key 7 (the L3 quirk) and a new key 500, with a
    // column the base lacks. 3 deleting rows of 406: no fold.
    wh.load(LoadMode.Upsert, tbl,
      Seq((7L, "a", 1.5), (7L, "b", 2.5), (500L, "c", 3.5)).toDF("id", "v", "score"), "id")
    assert(baseFiles.subsetOf(wh.dataFiles(tbl).toSet), "the upsert rewrote base files")
    assert(wh.dataFiles(tbl).size == baseFiles.size + 1)
    assert(v(7L) == Seq("a", "b"), "all four older rows of key 7 go, both staged rows land")
    assert(wh.table(tbl).count() == 403 - 4 + 3)
    assert(wh.table(tbl).filter(col("id") === 1L).select("score").head().isNullAt(0),
      "a column only the upsert's file holds reads as null on older rows")
    // Deletes apply to older files only: an Insert of key 7 keeps all rows.
    wh.load(LoadMode.Insert, tbl, Seq((7L, "ins", 0.0)).toDF("id", "v", "score"), "id")
    assert(v(7L) == Seq("a", "b", "ins"))
    // A second upsert deletes key 7 from every older file, the Insert's too.
    wh.load(LoadMode.Upsert, tbl, Seq((7L, "z", 0.0)).toDF("id", "v", "score"), "id")
    assert(v(7L) == Seq("z"))
    assert(wh.table(tbl).count() == 402 + 1 - 3 + 1)
    // The previous version still reads its own deletes.
    assert(wh.tableAt(tbl, wh.versions(tbl).head).filter(col("id") === 7L).count() == 3)
  }

  test("warehouse upsert writes only its rows: 1,000 rows into a 200k-row, 10-file " +
      "table add one data file and under 1 KB of metadata; an Insert adds at most 100 B") {
    import graft.core._
    import graft.io.ParquetWarehouse
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_io")
    val wh = new ParquetWarehouse(spark, root.toString)
    val tbl = TableRef("", "big")
    def files(): Map[String, (Long, Long)] = {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      finally st.close()
    }
    /** Data files and the metadata bytes (every other new or rewritten
      * file, checksums of data files aside) one operation writes. */
    def written(op: => Unit): (Seq[String], Long) = {
      val before = files()
      Thread.sleep(5) // a rewritten file shows a new mtime
      op
      val changed = files().filter { case (p, f) => !before.get(p).contains(f) }
      val data = changed.keys.filter(_.endsWith(".parquet")).toSeq
      (data, changed.collect { case (p, (n, _)) if !p.endsWith(".parquet") &&
        !p.endsWith(".parquet.crc") => n }.sum)
    }
    wh.create(tbl, spark.range(0, 200000, 1, 10).select(col("id"),
      (col("id") % 100).as("grp"), (col("id") * 7).as("amount")))
    val baseFiles = wh.dataFiles(tbl)
    assert(baseFiles.size == 10)
    val staged = spark.range(199500, 200500).select(col("id"),
      (col("id") % 100).as("grp"), lit(-1L).as("amount"))
    val (data, meta) = written(wh.load(LoadMode.Upsert, tbl, staged, "id"))
    assert(data.size == 1, s"the upsert wrote $data")
    assert(meta < 1024, s"the upsert wrote $meta B of metadata")
    assert(wh.dataFiles(tbl).toSet == baseFiles.toSet + data.head.split('/').last,
      "an existing data file was rewritten")
    assert(wh.table(tbl).count() == 200500)
    assert(wh.table(tbl).filter(col("amount") === -1L).count() == 1000)

    val small = TableRef("", "store")
    wh.create(small, spark.range(0, 1000, 1, 4).toDF("doc_id"))
    (1 to 5).foreach(b => wh.load(LoadMode.Insert, small,
      spark.range(1000 * b, 1000 * b + 50, 1, 2).toDF("doc_id"), "doc_id"))
    val (inserted, record) = written(wh.load(LoadMode.Insert, small,
      spark.range(9000, 9050, 1, 2).toDF("doc_id"), "doc_id"))
    assert(inserted.size == 2)
    info(s"metadata written: upsert $meta B, insert $record B")
    assert(record <= 100, s"an Insert wrote $record B of metadata")
  }

  test("warehouse dataFiles recurses into partition subdirectories") {
    import graft.core._
    import graft.io.ParquetWarehouse
    val root = java.nio.file.Files.createTempDirectory("graft_partfiles").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "orders_p")
    wh.create(tbl, Tables(spark, sf, "orders").limit(200),
      partitionBy = Seq("o_orderpriority"))
    val files = wh.dataFiles(tbl)
    assert(files.nonEmpty, "partitioned table must report its parquet parts")
    assert(files.forall(_.endsWith(".parquet")), files.toString)
  }

  test("boundErrors: PERMISSIVE corrupt-count enforces MAXERROR") {
    import graft.operators.LoadOps
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType),
      StructField("_corrupt", StringType)))
    val lines = Seq("{\"id\":1,\"v\":10}", "{\"id\":2,\"v\":\"bad\"}", "not json at all")
    import spark.implicits._
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .json(spark.createDataset(lines))
    // maxError 2 admits both corrupt rows; result is the clean row only.
    val ok = LoadOps.boundErrors(parsed, "_corrupt", maxError = 2)
    assert(ok.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // maxError 1 trips (2 corrupt rows).
    val e = intercept[graft.core.LoaderError](
      LoadOps.boundErrors(parsed, "_corrupt", maxError = 1))
    assert(e.getMessage.contains("MAXERROR"))
  }

  test("truncateColumns clips declared widths (TRUNCATECOLUMNS)") {
    import spark.implicits._
    val df = Seq((1, "abcdefghij"), (2, "xy")).toDF("id", "s")
    val out = graft.operators.LoadOps.truncateColumns(df, Map("s" -> 4))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("abcd", "xy"))
  }

  test("multimodal: resizeMeta caps the longest side") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 20)
    val resized = MultimodalOps.resizeMeta(
      MultimodalOps.withBinaryColumn(docs, "text"), maxSide = 64)
    val metas = resized.select("meta.width", "meta.height").collect()
    assert(metas.forall(r => r.getInt(0) <= 64 && r.getInt(1) <= 64))
  }

  test("multimodal: audioChunks emits ceil(len/stride) windows, none empty") {
    import spark.implicits._
    // len 10 / window 4 / stride 3 → offsets 0,3,6,9 with lens 4,4,4,1;
    // len 3 (< window) → one short chunk; len 0 → NO chunks.
    val df = Seq((1L, "0123456789"), (2L, "abc"), (3L, ""))
      .toDF("id", "s").select(col("id"), col("s").cast("binary").as("payload"))
    val out = MultimodalOps.audioChunks(df, "id", windowBytes = 4, strideBytes = 3)
      .orderBy("id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L), (1L, 3L, 9L, 1L),
      (2L, 0L, 0L, 3L)))
  }

  test("connectedComponents: planted 2000-link chain converges in O(log n) rounds") {
    // The adversarial shape for neighbor-only propagation: a path graph
    // where rounds = chain length (2000 ≫ any sane maxIter). Class
    // hooking + shortcut must traverse it in ≤ 2·log₂(n) rounds —
    // measured 13 at n=2000 (HookDelay + hook rounds + 1 detection).
    val n = 2000L
    val docs = spark.range(1, n + 1).select(col("id").as("doc_id"))
    val chain = spark.range(1, n)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, rounds) = DedupOps.connectedComponentsWithRounds(
      docs, chain, "doc_id")
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    val comp = labels.agg(
        countDistinct(col("component")).as("k"), max(col("component")).as("m"))
      .head
    assert(comp.getLong(0) == 1L && comp.getLong(1) == 1L,
      "whole chain must collapse to component 1")
    // Regression guard for the stats-compounding bug: localCheckpoint
    // snapshots the plan's sizeInBytes ESTIMATE, and the loop's
    // self-join SQUARES it per round — after the ~13 rounds above the
    // unanchored estimate is a number with thousands of digits (and by
    // ~20 rounds the driver grinds minutes of BigInteger arithmetic
    // inside stats estimation). Anchored stats stay proportional to
    // the measured row count.
    val est = org.apache.spark.sql.graftshim.GraftStats.sizeInBytes(labels)
    assert(est < BigInt(n) * 1000,
      s"sizeInBytes estimate $est not anchored to measured rows")
    // The vertex-count law holds on the chain too (measured 13 rounds).
    assert(rounds <= ccRoundBound(n), s"chain took $rounds rounds")
    // The star — one hub, n leaves, diameter 2 — converges inside the
    // hook delay, and half its symmetrized edges share the hub as src
    // (the hot key CONTRACTS §4 names). Same round law, one component.
    val (star, starRounds) = DedupOps.connectedComponentsWithRounds(
      spark.range(0, n + 1).select(col("id").as("doc_id")),
      spark.range(1, n + 1).select(lit(0L).as("id_a"), col("id").as("id_b")),
      "doc_id")
    assert(starRounds <= ccRoundBound(n + 1),
      s"star took $starRounds rounds, bound ${ccRoundBound(n + 1)}")
    val starComp = star.agg(
        countDistinct(col("component")), max(col("component")), count(lit(1)))
      .head
    assert(starComp.getLong(0) == 1L && starComp.getLong(1) == 0L &&
      starComp.getLong(2) == n + 1, s"star must collapse to hub 0: $starComp")
  }

  test("connectedComponents: near-critical random graph obeys the vertex-count round bound") {
    // The topology that broke the pointer-jump formulation (measured
    // O(diameter)-like there: 95 rounds at 157k vertices, probe-scale).
    // The hook law is diameter-independent: rounds ≤ HookDelay +
    // ⌈log₂ n⌉ + 1 on ANY graph — asserted here at 5k (CC_PROBE.json
    // records the same law measured at 1M).
    val n = 5000L
    val docs = spark.range(0, n).select(col("id").as("doc_id"))
    val edges = spark.range(0, (n * 0.9).toLong).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("id_a"),
        pmod(xxhash64(col("id"), lit(2)), lit(n)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val (labels, rounds) = DedupOps.connectedComponentsWithRounds(
      docs, edges, "doc_id")
    val bound = DedupOps.HookDelay +
      (math.log((n - 1).toDouble) / math.log(2.0)).ceil.toInt + 1
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    assert(labels.count() == n)
  }

  test("connectedComponents: hookDelay=0 keeps edge-endpoint-only vertices") {
    // Regression: with hookDelay <= 0, round 0 is already a hook round,
    // and a vertex present only as an edge endpoint (absent from the
    // vertex frame) used to aggregate a null __old class key and vanish
    // through the null-keyed hook join. It now hooks as its own
    // singleton class (self-init semantics) and keeps its label.
    import spark.implicits._
    val docs = spark.range(0, 4).select(col("id").as("doc_id")) // 0..3
    val edges = Seq((0L, 9L), (9L, 3L), (1L, 2L)) // 9 is dst-only
      .toDF("id_a", "id_b")
    val (labels, _) = DedupOps.connectedComponentsWithRounds(
      docs, edges, "doc_id", maxIter = 40, hookDelay = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 9L),
      s"vertex set ${got.keySet} must include the edge-only vertex 9")
    assert(got(9L) == 0L && got(3L) == 0L && got(0L) == 0L,
      s"component of {0,9,3} must be 0, got $got")
    assert(got(1L) == 1L && got(2L) == 1L)
    // And the default-delay loop agrees row-for-row.
    val ref = DedupOps.connectedComponentsRef(docs, edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ref == got, s"hookDelay=0 labels $got differ from ref $ref")
  }

  test("GraftStats.withRowCount: measured stats, same rows, partitioning preserved") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(0, 500)
      .select(col("id").as("v"), (col("id") % 7).as("component"))
      .repartition(col("v"))
      .localCheckpoint(true)
    val re = org.apache.spark.sql.graftshim.GraftStats.withRowCount(df, 500L)
    assert(re.count() == 500L)
    val st = re.queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(500)), s"rowCount ${st.rowCount}")
    assert(st.sizeInBytes > 0 && st.sizeInBytes < BigInt(500) * 1000,
      s"sizeInBytes ${st.sizeInBytes}")
    (df.queryExecution.analyzed, re.queryExecution.analyzed) match {
      case (a: LogicalRDD, b: LogicalRDD) =>
        assert(a.outputPartitioning == b.outputPartitioning,
          "rewrap must keep the checkpoint's output partitioning")
      case other => fail(s"expected two LogicalRDDs, got $other")
    }
    // Non-checkpoint frames pass through untouched (documented no-op).
    val plain = spark.range(0, 3).toDF()
    assert(org.apache.spark.sql.graftshim.GraftStats
      .withRowCount(plain, 3L) eq plain)
  }

  test("connectedComponents ≡ neighbor-only reference labels on a hash-random graph") {
    // Same fixed point as the O(diameter) neighbor-only reference form:
    // label-identical output on a deterministic pseudo-random graph
    // (multiple components, cycles, dangling vertices, self-pair noise
    // filtered by construction).
    val docs = spark.range(0, 300).select(col("id").as("doc_id"))
    val edges = spark.range(0, 260).select(
        pmod(xxhash64(col("id"), lit(1)), lit(300L)).as("id_a"),
        pmod(xxhash64(col("id"), lit(2)), lit(300L)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val fast = DedupOps.connectedComponents(docs, edges, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = DedupOps.connectedComponentsRef(docs, edges, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == ref)
  }

  test("LSH bucket cap: 10k identical docs stay linear, cluster survives, honest corpus untouched") {
    // Adversarial self-similar corpus: 10k byte-identical documents →
    // every band bucket holds all 10k members. Uncapped, the bucket
    // self-join would materialize ~C(10k,2)·4 ≈ 2·10⁸ pairs; the cap
    // degrades each over-cap bucket to a sorted path.
    val docs = spark.range(0, 10000).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    // 500 honest unique-text docs share the corpus: they must add no
    // more than hash-collision noise and stay singletons.
    val honestN = 500L
    val mixed = docs.unionByName(honestDocs(10000L, honestN))
    val cand = DedupOps.minhashCandidates(mixed, "doc_id", "text")
      .localCheckpoint(true)
    val n = cand.count()
    assert(n <= 4L * 10000L, s"candidate stage not capped: $n rows")
    assert(n >= 9999L, s"path edges missing: $n rows")
    // Every family edge joins identical signatures (the capped path
    // walks signature order), so it survives any est threshold.
    val fam = cand.filter(col("id_b") < 10000L)
    assert(fam.count() >= 9999L, "family path disconnected")
    assert(fam.agg(min(col("est_jaccard"))).head.getDouble(0) == 1.0)
    assert(cand.filter(col("id_b") >= 10000L).count() <= honestN,
      "honest docs collided beyond hash noise")
    // Connectivity preserved: the path collapses to ONE cluster within
    // the vertex-count round law, and every honest doc stays alone.
    val (comp, rounds) = DedupOps.connectedComponentsWithRounds(
      mixed.select(col("doc_id")), cand.select(col("id_a"), col("id_b")),
      "doc_id")
    assert(rounds <= ccRoundBound(10000L + honestN), s"took $rounds rounds")
    val sizes = comp.groupBy(col("component")).count()
      .agg(max(col("count")), count(lit(1))).head
    assert(sizes.getLong(0) == 10000L, s"family fragmented: $sizes")
    assert(sizes.getLong(1) == honestN + 1, s"honest docs merged: $sizes")
    // The ledger sees the degeneracy.
    val led = DedupOps.lshBucketLedger(docs, "doc_id", "text").head
    assert(led.getLong(2) > 0L, "ledger must report over-cap buckets")
    assert(led.getLong(1) == 10000L)

    // Honest corpus: cap dormant ⇒ capped output byte-identical to an
    // effectively-uncapped run, and the ledger confirms zero over-cap.
    val honest = Tables(spark, sf, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val planted = honest.unionByName(honest.select(
      (col("doc_id") + 1000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
    def pairSet(mb: Int) = DedupOps.minhashCandidates(
        planted, "doc_id", "text", maxBucket = mb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(DedupOps.MaxBucket) == pairSet(Int.MaxValue))
    val ledH = DedupOps.lshBucketLedger(planted, "doc_id", "text").head
    assert(ledH.getLong(2) == 0L)
  }

  test("SimHash bucket cap: 10k identical docs stay linear, cluster survives, honest corpus untouched") {
    // Adversarial self-similar corpus: 10k byte-identical documents →
    // ONE distinct simhash, so the distinct-sim banding sees a single
    // member per bucket (the r16 redesign's first line of defense) and
    // the 10k-member identical-simhash GROUP degrades from its
    // ~C(10k,2) ≈ 5·10⁷-pair intra-group clique to the 9,999-edge
    // id-ordered path — every edge hamming 0.
    val docs = spark.range(0, 10000).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    // 500 honest unique-text docs share the corpus: simhash coincidences
    // between them are genuine near-hash matches, so they may pair up,
    // but must not merge en masse or touch the family.
    val honestN = 500L
    val mixed = docs.unionByName(honestDocs(10000L, honestN))
    val cand = DedupOps.simhashCandidates(mixed, "doc_id", "text",
        maxHamming = 3)
      .localCheckpoint(true)
    val n = cand.count()
    assert(n <= 4L * 10000L, s"candidate stage not capped: $n rows")
    assert(n >= 9999L, s"path edges missing: $n rows")
    // The family emits exactly its id-ordered path, every edge an
    // identical-simhash pair (hamming 0 survives any maxHamming).
    val fam = cand.filter(col("id_b") < 10000L)
    assert(fam.count() == 9999L, "family must emit its 9,999-edge path")
    assert(fam.agg(max(col("hamming"))).head.getInt(0) == 0)
    assert(cand.filter(col("id_a") < 10000L && col("id_b") >= 10000L)
      .count() == 0L, "an honest doc paired with the family")
    // Connectivity preserved: the path collapses to ONE cluster within
    // the vertex-count round law; honest docs stay (mostly) singleton.
    val (comp, rounds) = DedupOps.connectedComponentsWithRounds(
      mixed.select(col("doc_id")), cand.select(col("id_a"), col("id_b")),
      "doc_id")
    assert(rounds <= ccRoundBound(10000L + honestN), s"took $rounds rounds")
    val sizes = comp.groupBy(col("component")).count()
      .agg(max(col("count")), count(lit(1))).head
    assert(sizes.getLong(0) == 10000L, s"family fragmented: $sizes")
    assert(sizes.getLong(1) >= 1 + honestN / 2, s"honest docs merged: $sizes")
    // The ledger sees the degeneracy on the GROUP axis (one 10k-member
    // identical-simhash group; the distinct-sim buckets stay at 1).
    val led = DedupOps.simhashBucketLedger(docs, "doc_id", "text").head
    assert(led.getLong(led.fieldIndex("n_over_cap")) == 0L)
    assert(led.getLong(led.fieldIndex("max_group")) == 10000L)
    assert(led.getLong(led.fieldIndex("n_over_cap_groups")) == 1L)

    // Honest corpus: cap dormant ⇒ capped output byte-identical to an
    // effectively-uncapped run, and the ledger confirms zero over-cap.
    val honest = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def pairSet(mb: Int) = DedupOps.simhashCandidates(
        honest, "doc_id", "text", maxHamming = 3, maxBucket = mb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairSet(DedupOps.SimMaxBucket) == pairSet(Int.MaxValue))
    val ledH = DedupOps.simhashBucketLedger(honest, "doc_id", "text").head
    assert(ledH.getLong(2) == 0L)
  }

  test("LSH bucket cap bounds per-vertex candidate degree (no hot key in CC repartition)") {
    // CONTRACTS §4's skew claim, measured: after symmetrization (the CC
    // edge shape that feeds repartition(src)), no vertex's incident row
    // count can exceed bands·(MaxBucket−1) clique rows + 2·bands path
    // rows — a mega-cluster cannot concentrate a hot partition key. The
    // corpus is adversarial on BOTH axes: a 10k-identical mega-cluster
    // (over-cap ⇒ path edges, degree floor 2·bands) mixed with honest
    // docs + planted near-dups (under-cap ⇒ clique edges).
    val mega = spark.range(0, 10000).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    val honest = Tables(spark, sf, "documents").filter(col("doc_id") < 200)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val docs = mega.unionByName(honest).unionByName(honest.select(
      (col("doc_id") + 1000).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
    // The CC consumer's exact form: bands = K/CcR = 8 (the high-recall
    // banding the CC family feeds from), distinctPairs = false
    // (band-duplicated pairs) — so the measured degree is what the
    // repartition really sees.
    val ccBands = DedupOps.K / DedupSql.CcR
    val cand = DedupOps.minhashCandidates(docs, "doc_id", "text",
      bands = ccBands, distinctPairs = false).localCheckpoint(true)
    val sym = cand.select(col("id_a").as("src"))
      .unionByName(cand.select(col("id_b").as("src")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val bound = ccBands.toLong * (DedupOps.MaxBucket - 1) + 2L * ccBands
    val maxDeg = deg.agg(max(col("d"))).head.getLong(0)
    assert(maxDeg <= bound, s"degree $maxDeg exceeds contract bound $bound")
    // Mega-cluster members sit at the path floor: ≤ 2 neighbors per band.
    val maxMega = deg.filter(col("src") < 10000)
      .agg(max(col("d"))).head.getLong(0)
    assert(maxMega <= 2L * ccBands,
      s"mega-cluster degree $maxMega above the 2·bands path floor")
  }

  test("LSH cap path walks signature order: colliding families don't cross-wire") {
    // Adversarial shape beyond the single mega-cluster: TWO duplicate
    // families whose (distinct) texts collide on at least one band
    // bucket, interleaved by id. An id-ordered path walk would emit the
    // colliding bucket's edges as alternating LOW-est cross-family
    // pairs; signature order keeps each identical-signature run
    // contiguous, so within-run edges carry est = 1.0 and the only
    // cross-family path edges are the run boundaries (≤ 1 per colliding
    // bucket per band).
    // Find the colliding text pair by search: unrelated corpus docs
    // (J ≈ 0.03) collide with odds est⁴ ≈ 1e-6 per band — effectively
    // never — so plant MODERATE-similarity candidates: half of a base
    // doc's words + a full other doc (J ≈ 0.25 < the 0.35 threshold,
    // band-collision odds est⁴ ≈ 0.3 % per band × 8 bands × 500
    // candidates ⇒ ~10 expected hits). Search at the CC banding
    // (8 bands of r = 4) and take the lowest-id hit below threshold.
    val ccBands = DedupOps.K / DedupSql.CcR
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // The base member must be the SAME row the variants exclude —
    // an unordered limit(1) has no first-row contract and could put a
    // duplicate doc_id in the pool (raw + half-prefixed variant of one
    // doc), making texts(0)/texts(1) a high-J pair that merges the
    // families downstream.
    val baseRow = corpus.orderBy(col("doc_id")).limit(1).collect()(0)
    val (baseId, baseText) = (baseRow.getLong(0), baseRow.getString(1))
    val half = baseText.split(" ").take(baseText.split(" ").length / 2)
      .mkString(" ")
    val pool = spark.range(1).select(lit(baseId).as("doc_id"),
        lit(baseText).as("text"))
      .unionByName(corpus.filter(col("doc_id") =!= baseId)
        .select(col("doc_id"),
          concat(lit(half + " "), col("text")).as("text")))
    val lowPair = DedupOps.minhashCandidates(pool, "doc_id", "text",
        bands = ccBands, maxBucket = Int.MaxValue)
      .filter(col("est_jaccard") < DedupGate.MinhashMinEst)
      .orderBy(col("id_a"), col("id_b")).limit(1)
      .collect()
    assert(lowPair.nonEmpty,
      "pool yields no low-est band collision at 8 bands — widen pool")
    val (ida, idb) = (lowPair(0).getLong(0), lowPair(0).getLong(1))
    val texts = pool.filter(col("doc_id").isin(ida, idb))
      .orderBy(col("doc_id")).collect().map(_.getString(1))
    // 300 copies of each text, interleaved even/odd ids → every bucket
    // is over-cap (300 or 600 > MaxBucket), the colliding band's bucket
    // holds both families.
    val famA = spark.range(0, 300).select((col("id") * 2).as("doc_id"),
      lit(texts(0)).as("text"))
    val famB = spark.range(0, 300).select((col("id") * 2 + 1).as("doc_id"),
      lit(texts(1)).as("text"))
    val docs = famA.unionByName(famB)
    val cand = DedupOps.minhashCandidates(docs, "doc_id", "text",
        bands = ccBands, distinctPairs = false)
      .localCheckpoint(true)
    // Cross-family candidates (one endpoint even, one odd) must be rare
    // boundary edges, not an interleaved walk (which would emit ~600
    // per colliding band).
    val cross = cand.filter(pmod(col("id_a"), lit(2)) =!=
      pmod(col("id_b"), lit(2)))
    assert(cross.count() <= ccBands.toLong,
      s"cross-family path edges exceed one boundary per band")
    // The CC consumer's view: threshold then cluster — exactly the two
    // families, nothing fragmented, nothing merged.
    val comp = DedupOps.connectedComponents(
      docs.select(col("doc_id")),
      cand.filter(col("est_jaccard") >= DedupGate.MinhashMinEst)
        .select(col("id_a"), col("id_b")),
      "doc_id")
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes == Seq(300L, 300L), s"expected two 300-doc clusters: $sizes")
  }

  test("minhashCandidatesAgainst caps corpus-side buckets but keeps every arrival's verdict") {
    // Mega-bucket corpus: 3000 identical docs. A new arrival identical
    // to them must still be detected, but against ≤ MaxBucket
    // representatives, not all 3000.
    val corpus = spark.range(0, 3000).select(col("id").as("doc_id"),
      lit("omega psi chi phi upsilon tau sigma rho pi omicron").as("text"))
    val corpusSig = DedupOps.minhashSignatureArr(corpus, "doc_id", "text")
    val arrivals = spark.range(5000, 5002).select(col("id").as("doc_id"),
      lit("omega psi chi phi upsilon tau sigma rho pi omicron").as("text"))
    val cand = DedupOps.minhashCandidatesAgainst(
      corpusSig, arrivals, "doc_id", "text").localCheckpoint(true)
    val perArrival = cand.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n"), max(col("est_jaccard")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(perArrival.length == 2, "every arrival needs a verdict")
    perArrival.foreach { case (_, n, m) =>
      assert(n <= DedupOps.MaxBucket.toLong, s"corpus side not capped: $n")
      assert(m == 1.0)
    }
  }

  test("ivfAppend: replay-idempotent, every arrival coded once, recall vs full rebuild") {
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val arrivals = emb.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 63), array(lit(0.0f))).as("vec"))
    def cents(c: org.apache.spark.sql.DataFrame) = {
      val initial = SimilarityOps.ivfCentroids(c, 8)
        .select(col("cent_id"),
          transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      ClusterOps.kmeans(c, initial, 2).localCheckpoint(true)
    }
    val baseCents = cents(corpus)
    val baseBooks = SimilarityOps.pqResidualCodebooks(corpus, baseCents,
      4, 16, 8, 1).localCheckpoint(true)
    val baseIndex = SimilarityOps.ivfPqResidualIndex(corpus, baseCents,
      baseBooks, 16).localCheckpoint(true)
    val appended = SimilarityOps.ivfAppend(baseIndex, arrivals,
      baseCents, baseBooks, 16).localCheckpoint(true)
    // Every arrival coded exactly once; replaying the same batch is a
    // no-op (the anti-join idempotence contract).
    assert(appended.count() == baseIndex.count() + arrivals.count())
    val replayed = SimilarityOps.ivfAppend(appended, arrivals,
      baseCents, baseBooks, 16)
    assert(replayed.count() == appended.count())
    // Arrivals are coded the way the index they join was coded: the
    // appended index equals a one-shot coding of the merged corpus
    // against the same frozen artifacts.
    val merged = corpus.unionByName(arrivals)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .toSet
    val oneShot = rows(SimilarityOps.ivfPqResidualIndex(merged, baseCents,
      baseBooks, 16))
    val got = rows(appended)
    assert(got == oneShot,
      s"append/one-shot drift: ${got.diff(oneShot).take(3)} | " +
        s"${oneShot.diff(got).take(3)}")
    // Recall of append-without-retrain vs a full rebuild on the merged
    // corpus (both searched identically).
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val inc = SimilarityOps.ivfPqResidualSearch(probes, merged, appended, 5,
        baseCents, baseBooks, 16, nprobe = 3, rerank = 120)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = SimilarityOps.ivfPqResidualKnn(probes, merged, 5,
        cents(merged), 4, 16, 8, 1, nprobe = 3, rerank = 120)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = inc.intersect(full).size.toDouble / full.size
    assert(recall >= 0.6, f"append-vs-rebuild recall $recall%.3f below floor")
  }

  test("connectedComponents refuses to return unconverged labels") {
    import spark.implicits._
    val docs = (10L to 15L).toDF("doc_id")
    val chain = (10L to 14L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      DedupOps.connectedComponents(docs, chain, "doc_id", maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("snapshotDiff classifies insert/delete/update/same incl. null columns") {
    import spark.implicits._
    val oldDf = Seq(
      (1L, Some("a"), 10), (2L, Some("b"), 20), (3L, None: Option[String], 30),
      (4L, Some("d"), 40)).toDF("id", "v", "n")
    val newDf = Seq(
      (1L, Some("a"), 10),                       // same
      (2L, Some("B"), 20),                       // update (value change)
      (3L, None: Option[String], 30),            // same (null <=> null)
      (5L, Some("e"), 50),                       // insert
      (4L, None: Option[String], 40)             // update (d -> null)
    ).toDF("id", "v", "n")
    val out = LoadOps.snapshotDiff(oldDf, newDf, "id", Seq("v", "n"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "same"), (2L, "update"), (3L, "same"),
      (4L, "update"), (5L, "insert")))
    // old-only key classified delete.
    val del = LoadOps.snapshotDiff(oldDf, newDf.filter(col("id") =!= 4), "id",
      Seq("v", "n")).filter(col("change_type") === "delete")
      .collect().map(_.getLong(0)).toSeq
    assert(del == Seq(4L))
  }

  test("applyCdc deletes tombstoned keys and upserts the rest") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "b2", "U"), (3L, "c", "D"), (4L, "d", "I"))
      .toDF("id", "v", "op")
    val out = LoadOps.applyCdc(target, changes, "id", "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // A key that is deleted AND re-upserted in the same batch lands once
    // with the upserted value (the anti-join removes the old row; the "D"
    // row itself is filtered; the "I"/"U" row unions in).
    val both = Seq((1L, "gone", "D"), (1L, "back", "I")).toDF("id", "v", "op")
    val out2 = LoadOps.applyCdc(target, both, "id", "op")
      .filter(col("id") === 1).collect().map(_.getString(1)).toSeq
    assert(out2 == Seq("back"))
  }

  test("exact-arithmetic queries are invariant to shuffle parallelism") {
    // The bit-exact-oracle discipline only holds at 1000 executors if
    // partial aggregation order cannot change results: integer/decimal
    // partials are associative, and every float op happens once, after
    // aggregation. Verify by re-running representative queries under a
    // different shuffle partition count.
    val dir = "/root/testdata/sf0.001"
    val names = Seq("time_weighted_value", "value_trend_by_type",
      "stats_moments_by_type", "q5_nation_revenue", "corpus_pipeline")
    def snapshot(): Map[String, Seq[String]] = names.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      n -> df.orderBy(df.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq
    }.toMap
    val before = snapshot()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val after = snapshot()
      names.foreach(n => assert(before(n) == after(n), n))
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("driver contract: entry() returns rows; every query has a checker") {
    assert(SparkEntry.entry(spark).count() > 0)
    // Every oracle key must reference an existing query, and the known
    // rows-only set is exactly the genuinely-approximate ops.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"orphan oracles: ${o -- q}")
    // Fully green gate: every query has a DuckDB oracle (the approximate
    // HLL/KLL twins live in SketchOps behind tolerance specs instead).
    assert((q -- o).isEmpty, s"unexpected rows-only queries: ${q -- o}")
  }

  test("TopKLargest aggregator is partition-invariant and matches window top-k") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def run(parts: Int): Seq[(String, Int, Long, Double)] =
      SparkEntry.queries("topk_agg_revenue")(spark, dir) match {
        case df =>
          val base = Tables(spark, dir, "orders").repartition(parts)
          base.createOrReplaceTempView("__ignore") // keep base referenced
          df.orderBy("o_orderpriority", "rnk").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
              r.getDouble(3))).toSeq
      }
    val got = run(4)
    assert(got == run(13)) // merge() associativity across partitionings
    // Window-form ground truth with the same unique ordering.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expect = Tables(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderpriority", "rnk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expect)
  }

  test("expectations split clean/violations and tag every failed rule") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 10.0),   // clean
      (2L, None: Option[String], 5.0),  // fails not_null
      (3L, Some("b"), -1.0),   // fails positive
      (4L, None: Option[String], -2.0)  // fails both
    ).toDF("id", "name", "score")
    val (clean, bad) = LoadOps.expectations(df, Map(
      "name_not_null" -> col("name").isNotNull,
      "score_positive" -> (col("score") > 0)))
    assert(clean.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val tags = bad.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("failed_rules"))).toSeq
    assert(tags == Seq((2L, "name_not_null"), (3L, "score_positive"),
      (4L, "name_not_null,score_positive")))
    // Null predicate result counts as a violation (SQL three-valued
    // logic must not let unknowns through).
    val (c2, b2) = LoadOps.expectations(
      Seq((1L, Some(2.0)), (2L, None: Option[Double])).toDF("id", "v"),
      Map("v_big" -> (col("v") > 1.0)))
    assert(c2.count() == 1 && b2.count() == 1)
  }

  test("zValue2 matches a reference Morton interleave") {
    import spark.implicits._
    def refMorton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(42)
    val pts = Seq.tabulate(200)(i =>
      (i.toLong, rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("id", "x", "y")
      .select(col("id"), LayoutOps.zValue2(col("x"), col("y")).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pts.foreach { case (id, x, y) =>
      assert(got(id) == refMorton(x, y, 16), s"($x,$y)")
    }
    // Morton order is a bijection: distinct inputs -> distinct codes.
    assert(got.values.toSet.size == pts.map(p => (p._2, p._3)).toSet.size)
  }

  test("zValueN (3-D) matches a reference interleave and is injective") {
    import spark.implicits._
    def ref(ds: Seq[Long], bits: Int): Long = {
      val k = ds.size
      (for { i <- 0 until bits; d <- 0 until k } yield
        ((ds(d) >> i) & 1L) << (i * k + d)).reduce(_ | _)
    }
    val rnd = new scala.util.Random(5)
    val pts = Seq.tabulate(150)(i => (i.toLong,
      rnd.nextInt(256).toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = pts.toDF("id", "a", "b", "c")
      .select(col("id"), LayoutOps.zValueN(
        Seq(col("a"), col("b"), col("c")), 8).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pts.foreach { case (id, a, b, c) =>
      assert(got(id) == ref(Seq(a, b, c), 8), s"($a,$b,$c)")
    }
    assert(got.values.toSet.size ==
      pts.map(p => (p._2, p._3, p._4)).toSet.size)
  }

  test("zorder clusters BOTH dimensions (vs single-dimension sort)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(4000)(i =>
      (i.toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("id", "x", "y")
    // Sum over output partitions of each dimension's min-max extent:
    // a perfectly clustered dimension sums to ~full_range, a scattered
    // one to ~numPartitions * full_range.
    def extents(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val rows = d.withColumn("p", spark_partition_id())
        .groupBy("p")
        .agg((max(col("x")) - min(col("x"))).as("ex"),
          (max(col("y")) - min(col("y"))).as("ey"))
        .collect()
      (rows.map(_.getAs[Long]("ex")).sum, rows.map(_.getAs[Long]("ey")).sum)
    }
    val z = extents(LayoutOps.zorder(df, col("x"), col("y"), 16, bits = 8))
    val xOnly = extents(
      df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x")))
    // x-only sort leaves y fully scattered (every partition ~full range);
    // z-order must beat it on y while staying far from scattered on x.
    assert(z._2 < xOnly._2 / 2,
      s"zorder y-extent ${z._2} not < half of x-sort's ${xOnly._2}")
    assert(z._1 < xOnly._2 / 2,
      s"zorder x-extent ${z._1} not < half of scattered ${xOnly._2}")
  }

  test("AsOfJoinExec matches the union+window as-of join exactly") {
    import spark.implicits._
    // Adversarial data: duplicate right timestamps per key (tie-break on
    // id), left rows before any right row (null match), keys with no
    // right rows at all, equal left/right timestamps (inclusive <=).
    val rnd = new scala.util.Random(11)
    val left = Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(40).toLong))
      .toDF("lid", "k", "lt")
      .select(col("k"), to_timestamp(lit("2024-01-01")).cast("long")
        .plus(col("lt") * 60).cast("timestamp").as("ts"), col("lid"))
    val right = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(40).toLong))
      .toDF("rid", "k", "rt")
      .select(col("k"), to_timestamp(lit("2024-01-01")).cast("long")
        .plus(col("rt") * 60).cast("timestamp").as("ts"), col("rid"))
    val viaWindow = operators.AnalyticOps.asofJoin(
        left, right, "k", "ts", "ts", "lid", "rid")
      .orderBy("lid").collect().map(_.toSeq).toSeq
    val viaExec = plans.AsOfMergeJoin.asofJoin(
        left, right, "k", "ts", "ts", "lid", "rid")
      .orderBy("lid").collect().map(_.toSeq).toSeq
    assert(viaExec == viaWindow)
    // Null keys group together on both paths (window partitionBy and the
    // exec's natural ordering both treat null as its own key).
    val leftN = left.withColumn("k",
      when(col("k") === 0, lit(null).cast("long")).otherwise(col("k")))
    val rightN = right.withColumn("k",
      when(col("k") === 0, lit(null).cast("long")).otherwise(col("k")))
    val wN = operators.AnalyticOps.asofJoin(
        leftN, rightN, "k", "ts", "ts", "lid", "rid")
      .orderBy("lid").collect().map(_.toSeq).toSeq
    val eN = plans.AsOfMergeJoin.asofJoin(
        leftN, rightN, "k", "ts", "ts", "lid", "rid")
      .orderBy("lid").collect().map(_.toSeq).toSeq
    assert(eN == wN)
    // Forward direction and tolerance bound, against their window twins
    // on the same adversarial data.
    val wF = operators.AnalyticOps.asofJoinForward(
        left, right, "k", "ts", "ts", "lid", "rid")
      .orderBy("lid").collect().map(_.toSeq).toSeq
    val eF = plans.AsOfMergeJoin.asofJoin(
        left, right, "k", "ts", "ts", "lid", "rid", forward = true)
      .orderBy("lid").collect().map(_.toSeq).toSeq
    assert(eF == wF)
    val wT = operators.AnalyticOps.asofJoinTolerance(
        left, right, "k", "ts", "ts", "lid", "rid", toleranceSec = 300L)
      .orderBy("lid").collect().map(_.toSeq).toSeq
    val eT = plans.AsOfMergeJoin.asofJoin(
        left, right, "k", "ts", "ts", "lid", "rid",
        toleranceSec = Some(300L))
      .orderBy("lid").collect().map(_.toSeq).toSeq
    assert(eT == wT)
  }

  test("AsOfJoinExec plans the custom exec with no union or window") {
    val ev = Tables(spark, sf("sf0.001"), "events")
    val df = plans.AsOfMergeJoin.asofJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", "event_id")
    // It must produce the same rows as the oracle-checked operator …
    val expect = operators.AnalyticOps.asofJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", "event_id")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(df.orderBy("event_id").collect().map(_.toSeq).toSeq == expect)
    // … and run through the custom exec (nodeName prints without the
    // Exec suffix), with no union/window composition.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "), p.take(800))
    assert(!p.contains("Window") && !p.contains("Union"),
      s"composition leaked into the custom-exec plan:\n${p.take(800)}")
  }

  test("zorder + footer stats: both dimensions prune files; unordered doesn't") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.tabulate(8000)(i =>
      (i.toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("id", "x", "y")
    val root = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // Unordered baseline: files cut by arrival (id) order.
    df.repartitionByRange(16, col("id")).write.parquet(s"$root/plain")
    LayoutOps.zorder(df, col("x"), col("y"), 16, bits = 8)
      .write.parquet(s"$root/zed")
    def prunedCount(dir: String, column: String): Int =
      LayoutOps.pruneFiles(
        LayoutOps.parquetFileStats(spark, dir, column), 0, 31).size
    // A 1/8-range predicate on EITHER interleaved dimension must skip
    // most z-ordered files; the arrival-ordered table reads every file.
    assert(prunedCount(s"$root/plain", "x") == 16)
    assert(prunedCount(s"$root/zed", "x") <= 8,
      s"x-pruning too weak: ${prunedCount(s"$root/zed", "x")}/16")
    assert(prunedCount(s"$root/zed", "y") <= 8,
      s"y-pruning too weak: ${prunedCount(s"$root/zed", "y")}/16")
    // Pruning is sound: the kept files contain every matching row.
    val keptX = LayoutOps.pruneFiles(
      LayoutOps.parquetFileStats(spark, s"$root/zed", "x"), 0, 31)
    val viaKept = spark.read.parquet(keptX: _*)
      .filter(col("x").between(0, 31)).count()
    assert(viaKept == df.filter(col("x").between(0, 31)).count())
    // Hilbert layout prunes at least as hard on the same workload
    // (its files' bounding boxes are tighter — the curve never jumps).
    LayoutOps.hilbertOrder(df, col("x"), col("y"), 16, bits = 8)
      .write.parquet(s"$root/hil")
    assert(prunedCount(s"$root/hil", "x") <= 8,
      s"hilbert x-pruning too weak: ${prunedCount(s"$root/hil", "x")}/16")
    assert(prunedCount(s"$root/hil", "y") <= 8,
      s"hilbert y-pruning too weak: ${prunedCount(s"$root/hil", "y")}/16")
    val keptHx = LayoutOps.pruneFiles(
      LayoutOps.parquetFileStats(spark, s"$root/hil", "x"), 0, 31)
    assert(spark.read.parquet(keptHx: _*)
      .filter(col("x").between(0, 31)).count()
      == df.filter(col("x").between(0, 31)).count())

    // The RDD fan-out path returns the SAME stats as the driver loop
    // (so the prune-soundness above transfers), across several slice
    // counts including fewer slices than files.
    val direct = LayoutOps.parquetFileStats(spark, s"$root/zed", "x")
      .sortBy(_._1)
    for (slices <- Seq(0, 3, 16)) {
      val dist = LayoutOps.parquetFileStatsDistributed(
        spark, s"$root/zed", "x", slices)
      assert(dist == direct, s"slices=$slices diverged")
    }
  }

  test("hilbert2: bijective on the grid, consecutive indexes are adjacent") {
    import spark.implicits._
    val bits = 5
    val n = 1 << bits
    val cells = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val out = cells.select(col("x"), col("y"),
        LayoutOps.hilbert2(col("x"), col("y"), bits).as("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // Bijection onto [0, n^2).
    assert(out.map(_._1).distinct.length == n * n)
    assert(out.map(_._1).min == 0 && out.map(_._1).max == n * n - 1)
    // The Hilbert property Morton lacks: walking the curve never jumps —
    // consecutive indexes are Manhattan-distance-1 cells.
    val byD = out.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps between ($x1,$y1) and ($x2,$y2)")
    }
  }

  test("file Bloom index: point lookups prune to few files, soundly") {
    import spark.implicits._
    val df = Seq.tabulate(8000)(i => (i.toLong, s"v$i")).toDF("id", "v")
    val root = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // Key-clustered layout: each file owns a contiguous id range.
    df.repartitionByRange(16, col("id")).write.parquet(s"$root/t")
    val index = LayoutOps.buildFileBloomIndex(spark, s"$root/t", "id",
      expectedItems = 1000, numBits = 1 << 14)
    assert(index.size == 16)
    for (key <- Seq(0L, 1234L, 4567L, 7999L)) {
      val kept = LayoutOps.pruneFilesByKey(index, key)
      // Soundness: the kept files contain every row with that key…
      val viaKept = spark.read.parquet(kept: _*)
        .filter(col("id") === key).count()
      assert(viaKept == 1, s"key $key lost by pruning")
      // …and the sketch actually skips: a point key lives in one file,
      // false positives may add a few more, but never most of the table.
      assert(kept.size <= 4, s"key $key kept ${kept.size}/16 files")
    }
    // A key that was never written prunes (almost) everything.
    assert(LayoutOps.pruneFilesByKey(index, 999999L).size <= 4)
  }

  test("HLL sketch rollup: merged daily partials == direct sketch estimate") {
    val dir = "/root/testdata/sf0.01"
    val ev = Tables(spark, dir, "events")
    val rolled = operators.SketchOps.hllRollup(ev, col("event_type"),
        date_trunc("day", col("ts")), col("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // HLL union is lossless over the sketch state: the rollup of daily
    // partials must give the SAME estimate as one pass over the rows.
    assert(rolled == direct)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(rolled(k) - n) <= math.max(2L, (n * 0.05).toLong),
        s"$k est=${rolled(k)} exact=$n")
    }
  }

  test("BottomKDistinct aggregator is partition-invariant and matches the window KMV") {
    val dir = "/root/testdata/sf0.01"
    def run(parts: Int): Map[String, Long] = {
      import spark.implicits._
      val k = EventGate.KmvK
      Tables(spark, dir, "events").repartition(parts)
        .select(col("event_type"),
          operators.SketchOps.hash60(col("user_id")).as("hkey"))
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.BottomKAgg.bottomKDistinct(k).name("sk"))
        .map { case (t, buf) =>
          val n = buf.keys.length
          (t, if (n < k) n.toLong
            else (k - 1L) * (operators.SketchOps.HashDomain / buf.keys.last))
        }.collect().toMap
    }
    val got = run(4)
    assert(got == run(13), "merge() must be associative across partitionings")
    val window = SparkEntry.queries("kmv_distinct_users")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == window, "aggregate and window KMV must agree exactly")
  }

  test("KMV rollup merge is exactly lossless: partials rollup == one pass") {
    val dir = "/root/testdata/sf0.01"
    val ev = Tables(spark, dir, "events")
    val k = EventGate.KmvK
    val rolled = SparkEntry.queries("kmv_sketch_rollup")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // bottom-k(∪_day bottom-k(day)) == bottom-k(all rows): the merged
    // estimate must EQUAL the direct single-pass KMV estimate — exact
    // losslessness, stronger than HLL's state-equality.
    val direct = operators.SketchOps
      .kmvDistinct(ev, Seq(col("event_type")), col("user_id"), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled == direct)
  }

  test("PushFilterThroughAsOfJoin: left-only filters sink below the join") {
    val ev = Tables(spark, sf("sf0.001"), "events")
    val joined = plans.AsOfMergeJoin.asofJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", "event_id")
    val filtered = joined.filter(col("event_id") < 500)
    val expect = plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase" && col("event_id") < 500),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(filtered.orderBy("event_id").collect().map(_.toSeq).toSeq == expect)
    // The optimized logical plan has the predicate BELOW AsOfJoin (left
    // branch), not above it.
    val opt = filtered.queryExecution.optimizedPlan
    val top = opt.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[plans.AsOfJoin] &&
          f.condition.toString.contains("event_id") => f
    }
    assert(top.isEmpty, s"left-only filter stayed above the join:\n$opt")
    val node = opt.collectFirst { case j: plans.AsOfJoin => j }.get
    assert(node.left.toString.contains("event_id"),
      s"predicate not pushed into the left branch:\n${node.left}")
    // A filter on the RIGHT payload must stay above (pushing it would
    // change which right row is most recent).
    val rightFiltered = joined.filter(col("asof_event_id") > 100)
    val optR = rightFiltered.queryExecution.optimizedPlan
    val nodeR = optR.collectFirst { case j: plans.AsOfJoin => j }.get
    assert(!nodeR.right.toString.contains("> 100"),
      s"right-side predicate wrongly pushed:\n${nodeR.right}")
  }

  test("approx percentiles stay within tolerance of exact") {
    val dir = "/root/testdata/sf0.01"
    val approx = operators.SketchOps.approxPercentiles(
        Tables(spark, dir, "events"), col("event_type"), col("value"),
        10000, Seq(0.5 -> "p50_approx", 0.95 -> "p95_approx"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val exact = Tables(spark, dir, "events").groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(approx.keySet == exact.keySet)
    // value spans ~[0,100]; the sketch at accuracy 10000 over ~2k rows
    // per group is near-exact — allow 1.0 absolute slack.
    exact.foreach { case (k, (p50, p95)) =>
      assert(math.abs(approx(k)._1 - p50) <= 1.0, s"$k p50")
      assert(math.abs(approx(k)._2 - p95) <= 1.0, s"$k p95")
    }
  }

  test("canonicalizeUrl: case/port/www/slash/tracking/fragment forms") {
    import spark.implicits._
    val cases = Seq(
      "https://www.src3.example.com/page/12" -> "https://src3.example.com/page/12",
      "HTTPS://WWW.Src3.Example.COM:443/page/12" -> "https://src3.example.com/page/12",
      "https://src3.example.com/page/12/" -> "https://src3.example.com/page/12",
      "https://www.src3.example.com/page/12?utm_source=x&fbclid=abc#frag" ->
        "https://src3.example.com/page/12",
      // path case preserved; meaningful params survive, order kept
      "http://src5.example.com:80/a/B/?q=Term&utm_medium=email&page=2" ->
        "http://src5.example.com/a/B?q=Term&page=2",
      // all params are tracking -> bare ? dropped too
      "https://host.com/?utm_a=1&utm_b=2" -> "https://host.com",
      "https://host.com" -> "https://host.com",
      "https://host.com/#frag" -> "https://host.com",
      // tracking in the middle; ref is tracking, q isn't
      "https://host.com/p?utm_c=1&q=2&ref=x" -> "https://host.com/p?q=2",
      // literal '?&' / '?utm_' INSIDE a retained value survives: the
      // heal and the leading-tracking pass are anchored to the query
      // start, so distinct URLs don't conflate onto one dedup key
      "https://host.com/p?a=b?&c=d" -> "https://host.com/p?a=b?&c=d",
      "https://host.com/p?utm_c=1&a=b?&c=d" -> "https://host.com/p?a=b?&c=d",
      "https://host.com/p?q=1?utm_x=2" -> "https://host.com/p?q=1?utm_x=2",
      // malformed / non-absolute inputs pass through unchanged
      "/relative/path?x=1" -> "/relative/path?x=1",
      "mailto:someone@example.com" -> "mailto:someone@example.com",
      "not a url at all" -> "not a url at all",
      "http:///path-no-host" -> "http:///path-no-host")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), operators.CurationOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"url $in") }
  }

  test("canonicalizeUrl is idempotent over randomized messy URLs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def rcase(s: String) =
      s.map(c => if (rnd.nextBoolean()) c.toUpper else c).mkString
    val urls = Seq.fill(400) {
      val scheme = if (rnd.nextBoolean()) "https" else "http"
      val www = "www." * rnd.nextInt(3)
      val host = rcase(s"${www}h${rnd.nextInt(20)}.example.com")
      val port = Seq("", ":443", ":80", ":8080")(rnd.nextInt(4))
      val path = Seq("", "/A/b", "/x", "/x/")(rnd.nextInt(4))
      val params = rnd.shuffle(Seq(
        s"utm_source=s${rnd.nextInt(5)}", s"q=w${rnd.nextInt(5)}",
        "fbclid=zz", s"page=${rnd.nextInt(3)}", "ref=r")).take(rnd.nextInt(5))
      val query = if (params.isEmpty) "" else "?" + params.mkString("&")
      val frag = if (rnd.nextBoolean()) "#sec" else ""
      s"${rcase(scheme)}://$host$port$path$query$frag"
    } ++ Seq("not a url", "/rel/x?a=1", "mailto:x@y.z")
    val out = urls.toDF("url").select(
        operators.CurationOps.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"),
        operators.CurationOps.canonicalizeUrl(col("c1")).as("c2"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"not idempotent: ${r.getString(0)} -> ${r.getString(1)}")
      val c = r.getString(0)
      if (c.startsWith("http")) {
        assert(!c.contains("utm_") && !c.contains("fbclid") &&
          !c.contains("#") && !c.toLowerCase.contains("://www."), c)
      }
    }
  }

  test("domainCap: cap respected best-first, rank-limit prunes map-side") {
    import graft.functions.TextFunctions
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val capped = operators.CurationOps.domainCap(
      docs, "doc_id", "source", TextFunctions.qualityScore(col("text")), 3)
    val rows = capped.select(col("source"), col("doc_id"), col("rank_in_domain"))
      .collect()
    val perDomain = rows.groupBy(_.getString(0))
    assert(perDomain.values.forall(_.length <= 3))
    perDomain.values.foreach(g =>
      assert(g.map(_.getLong(2)).sorted.toSeq == (1L to g.length).toSeq,
        "ranks not contiguous from 1"))
    // best-first: every kept doc's quality >= any dropped doc of the
    // same domain (ties broken by doc_id make the check exact).
    val q = docs.select(col("source"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    perDomain.foreach { case (dom, kept) =>
      val keptIds = kept.map(_.getLong(1)).toSet
      val dropped = q.keys.filter(k => k._1 == dom && !keptIds.contains(k._2))
      if (dropped.nonEmpty && keptIds.nonEmpty) {
        // order key: quality DESC, doc_id ASC — kept must all precede
        // dropped under it, i.e. (-q, id) of every kept < every dropped.
        val worstKept = kept.map(r => (-q((dom, r.getLong(1))), r.getLong(1)))
          .max(Ordering.Tuple2[Double, Long])
        dropped.foreach { d =>
          assert(Ordering.Tuple2[Double, Long].lt(worstKept, (-q(d), d._2)),
            s"dropped $d beats kept in $dom")
        }
      }
    }
    // Scale shape: the rank<=cap filter must compile to a PARTIAL
    // WindowGroupLimit below the exchange (map-side per-domain top-cap).
    capped.collect()
    val p = capped.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("Partial"), s"no map-side rank-limit prune:\n${p.take(1200)}")
  }

  test("url variants converge: 4 surfaces per page, ?q= params survive") {
    val urls = SparkEntry.queries("url_canonicalize")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byPage = urls.groupBy(_._1 / 4)
    byPage.foreach { case (p, vs) =>
      assert(vs.map(_._3).distinct.length == 1, s"page $p did not converge")
      assert(vs.map(_._2).distinct.length == vs.length, s"page $p surfaces equal")
      val canon = vs.head._3
      assert(!canon.contains("utm_") && !canon.contains("fbclid") &&
        !canon.contains("#") && !canon.contains("www."), canon)
      if (p % 5 == 0) assert(canon.endsWith(s"?q=w${p % 7}"), canon)
      else assert(!canon.contains("?"), canon)
    }
  }
}
