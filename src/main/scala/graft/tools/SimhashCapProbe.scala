package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Adversarial SimHash near-dup probe — [[LshCapProbe]]'s twin for the
  * chunk-space banding, whose failure mode is WORSE than MinHash's:
  * the 12-bit chunk key space is fixed at 4×4096 values, so one
  * byte-identical mega-family would land ALL its members in the same 4
  * buckets and an unguarded member-level (c, chunk) self-join is
  * k²/2·4 pairs that ALL pass the hamming filter (hamming = 0 — no
  * downstream threshold saves you, unlike MinHash where est-jaccard
  * prunes cross-family noise). Post-round-16 the first line of defense
  * is the DISTINCT-simhash banding (the family is ONE banding member);
  * the k-member identical-simhash GROUP then degrades from its intra
  * clique to the (k−1)-edge id-ordered path. Checked at ~100× the
  * spec-fixture size:
  *
  *   1. candidate pairs stay LINEAR: the family emits exactly the
  *      k−1 id-ordered path edges (plus honest coincidences);
  *   2. every family edge carries hamming = 0 (identical simhashes),
  *      surviving any maxHamming;
  *   3. [[DedupOps.connectedComponents]] still collapses the family to
  *      ONE component of size k (pointer doubling absorbs path depth);
  *   4. honest unique-text documents contribute only hash-coincidence
  *      candidates and land in singleton components;
  *   5. [[DedupOps.simhashBucketLedger]] reports the mega-GROUP
  *      (max_group = k, n_over_cap_groups = 1) while the distinct-sim
  *      buckets stay honest-sized (the in-gate instrument, here proven
  *      to FIRE on the axis that now carries the exposure).
  *
  * Usage: graft.tools.SimhashCapProbe [jsonOut] [k] [honest]
  * Emits a markdown table + JSON twin; FAILS (nonzero exit) on any
  * bound violation — a check, not just a measurement. */
object SimhashCapProbe {

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("SIMHASH_CAP_PROBE.json")
    val k = if (args.length > 1) args(1).toLong else 1000000L
    val honest = if (args.length > 2) args(2).toLong else 100000L
    val maxHamming = 3
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    // ids [0, k): one byte-identical family; ids [k, k+honest): unique
    // 12-word texts from hashed ids (distinct token multisets ⇒ simhash
    // collisions are genuine near-hash coincidences, reported as-is).
    val dup = spark.range(0, k).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again")
        .as("text"))
    val hon = spark.range(k, k + honest).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(1000000L)))): _*)
        .as("text"))
    val corpus = dup.unionByName(hon)

    val t0 = System.nanoTime()
    val cand = DedupOps.simhashCandidates(corpus, "doc_id", "text", maxHamming)
      .localCheckpoint(true)
    val nCand = cand.count()
    val candSecs = (System.nanoTime() - t0) / 1e9
    val fam = cand.filter(col("id_a") < k && col("id_b") < k)
    val nFam = fam.count()
    require(nFam >= k - 1, s"family pairs $nFam < ${k - 1}: path disconnected")
    val maxFamHam = fam.agg(max(col("hamming"))).head().getInt(0)
    val nHon = cand.filter(col("id_a") >= k || col("id_b") >= k).count()

    val led = DedupOps.simhashBucketLedger(corpus, "doc_id", "text").head()
    val (nBuckets, maxBucket, nOverCap) =
      (led.getLong(0), led.getLong(1), led.getLong(2))
    val (maxGroup, nOverCapGroups) = (led.getLong(3), led.getLong(4))

    val t1 = System.nanoTime()
    val (labels, rounds) = DedupOps.connectedComponentsWithRounds(
      corpus.select(col("doc_id")), cand, "doc_id")
    val sizes = labels.groupBy(col("component")).count()
    val famSize = sizes.agg(max(col("count"))).head().getLong(0)
    val nComps = sizes.count()
    val ccSecs = (System.nanoTime() - t1) / 1e9

    val pairBound = k - 1
    println(s"\n## SimHash cap + CC end-to-end adversarial probe " +
      s"(k=$k identical docs + $honest honest, SimMaxBucket=" +
      s"${DedupOps.SimMaxBucket}, 4x12-bit chunks, local[$cpus])\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(f"| candidate pairs (intra clique would be ${k * (k - 1) / 2}, ALL passing hamming<=$maxHamming) | $nCand | <= $pairBound (+ honest coincidences) | $candSecs%.2f |")
    println(s"| planted-family pairs | $nFam | >= ${k - 1} (path connectivity) | |")
    println(s"| max hamming on family edges | $maxFamHam | = 0 (identical-simhash group) | |")
    println(s"| honest-side candidate pairs | $nHon | small (hash coincidences, reported) | |")
    println(s"| ledger mega-group | max_group $maxGroup, over-cap groups $nOverCapGroups | = ($k, 1) (the guard FIRES on the group axis) | |")
    println(s"| ledger distinct-sim buckets | max $maxBucket of $nBuckets, over-cap $nOverCap | honest-sized (family is ONE banding member) | |")
    println(f"| CC rounds over the capped path | $rounds | HookDelay + O(log2 n) | $ccSecs%.2f |")
    println(s"| largest component | $famSize | = $k (family intact) | |")
    println(s"| total components | $nComps | >= ${honest / 2} (honest mostly singleton) | |")

    require(nCand <= pairBound + 4L * honest,
      s"candidate stage emitted $nCand pairs > path bound $pairBound (+ coincidence allowance)")
    require(maxFamHam == 0, s"family edge hamming $maxFamHam != 0")
    require(nOverCapGroups == 1L,
      s"ledger reported $nOverCapGroups over-cap groups != 1")
    require(maxGroup == k, s"ledger max group $maxGroup != $k")
    require(nOverCap == 0L,
      s"distinct-sim banding saw $nOverCap over-cap buckets: the family " +
        "leaked past the distinct reduction")
    require(famSize == k, s"family fragmented: largest component $famSize != $k")
    require(nComps >= honest / 2,
      s"$nComps components: honest docs improbably merged")

    // ---- Phase 2: the WINDOW regime fired at scale (mega-near-ball) --
    // The identical-family phase above never reaches the variant stage
    // (one distinct signature). The only lossy stage left — the MJU
    // multi-rotation sorted windows — fires on >= SimMaxBucket DISTINCT
    // signatures agreeing on ~24 bits. Text cannot plant that without
    // inverting the hash, but simhashCandidatesFromSig takes signatures
    // directly: a deterministic near-ball of nBall distinct sims (one
    // shared high-24-bit prefix = chunks 2,3 pinned; <= 4 random flips
    // in the low 24 bits => EVERY pair within hamming 8 and chunk-
    // sharing, so the exact candidate set is the full C(n,2) clique)
    // mixed with nHon random honest sims. This is the adversarial
    // regime the r15 verdict called the 100 TB dedup story's weakest
    // link — now a checked probe, not a caveat.
    val nBall = 4096L
    val nHon2 = 50000L
    val mask48 = (1L << 48) - 1
    val center = 0x5a5a5a000000L // low 24 bits zero; chunks 2,3 pinned
    val ballSig = spark.range(0, nBall).select(
      col("id").as("doc_id"),
      (lit(center).bitwiseOR(
        // <= 4 flips in the low 24 bits: 4 hash-picked bit positions
        // (collisions between picks just mean fewer flips)
        (0 until 4).map(j =>
          call_function("shiftleft", lit(1L),
            pmod(xxhash64(col("id"), lit(j)), lit(24)).cast("int")))
          .reduce((a, b) => a.bitwiseOR(b))))
        .as("simhash"))
    val honSig = spark.range(0, nHon2).select(
      (col("id") + 1000000L).as("doc_id"),
      pmod(xxhash64(col("id"), lit(99)), lit(mask48)).as("simhash"))
    val sig2 = ballSig.unionByName(honSig).localCheckpoint(true)
    // Distinct-signature count inside the ball (flip masks can collide;
    // the ball is dense by construction — many ids share a signature).
    val nBallSims = sig2.filter(col("doc_id") < nBall)
      .select(col("simhash")).distinct().count()

    // Two capped runs since r18: the PRODUCTION DEFAULT (variant cap =
    // SimMaxBucket — this ball's ~3.5k distinct sims exceed it, so the
    // MJU window degrade fires; its floor is the committed pipeline's
    // worst case and must stay measured), and the SimVariantCap ×4
    // PER-CALL LEVER (the ball sits under 4096, so the pigeonhole-
    // exact rescue runs — recall must be structurally 1.0; this is the
    // keep-case evidence for the lever that r18 measured and REJECTED
    // as the blanket default after the saturated 100× fixture's rescue
    // join exhausted shuffle disk — see DedupOps.SimVariantCap).
    // Discarded warm-up pass (same plan shape as the timed window run):
    // the lever run used to execute first over the cold JVM/shuffle
    // machinery, handing the second (window) run a 12.3 s -> 7.9 s
    // warm-up discount and biasing the lever-vs-default seconds
    // comparison in the default's favor. Warm both timed passes.
    DedupOps.simhashCandidatesFromSig(sig2, "doc_id", maxHamming = 8)
      .count()
    val t2v = System.nanoTime()
    val cand2lever = DedupOps.simhashCandidatesFromSig(sig2, "doc_id",
        maxHamming = 8, variantCap = DedupOps.SimVariantCap)
      .localCheckpoint(true)
    val cand2leverSecs = (System.nanoTime() - t2v) / 1e9
    val nCand2lever = cand2lever.count()
    val t2w = System.nanoTime()
    // escalateBudget = 0 pins the WINDOW-DEGRADE regime (since the r20
    // default flip the bare call escalates — phase 2c measures that;
    // this run keeps the post-budget fallback floor priced).
    val cand2w = DedupOps.simhashCandidatesFromSig(sig2, "doc_id",
        maxHamming = 8, escalateBudget = 0).localCheckpoint(true)
    val cand2wSecs = (System.nanoTime() - t2w) / 1e9
    val nCand2w = cand2w.count()
    val exact2 = DedupOps.simhashCandidatesFromSig(sig2, "doc_id",
      maxHamming = 8, maxBucket = Int.MaxValue).localCheckpoint(true)
    val nExact2 = exact2.count()
    val nHit2lever = exact2.intersect(cand2lever).count()
    val recall2lever = nHit2lever.toDouble / nExact2
    val nHit2 = exact2.intersect(cand2w).count()
    val recall2 = nHit2.toDouble / nExact2
    // Every ball pair is true (<= 8 flips apart, chunks 2,3 shared):
    // the exact set must contain the full ball clique.
    val ballClique = nBall * (nBall - 1) / 2
    // Connectivity is asserted on the WINDOW-FORCED edge set — the
    // production default's full in-cap clique connects trivially; the
    // degrade regime is the one whose sparse window edges must still
    // hold the ball together.
    val comps2 = DedupOps.connectedComponents(
      sig2.select(col("doc_id")).filter(col("doc_id") < nBall),
      cand2w.filter(col("id_a") < nBall && col("id_b") < nBall)
        .select(col("id_a"), col("id_b")), "doc_id")
      .agg(countDistinct(col("component"))).head().getLong(0)

    println(s"\n## Phase 2: mega-near-ball (window regime fired; " +
      s"$nBall ball ids over $nBallSims distinct sims + $nHon2 honest)\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(f"| exact pairs (ball clique $ballClique + coincidences) | $nExact2 | >= $ballClique | |")
    println(f"| SimVariantCap lever candidates (vcap=${DedupOps.SimVariantCap}, per-call) | $nCand2lever | exact rescue fires: recall 1.0 | $cand2leverSecs%.2f |")
    println(f"| SimVariantCap lever recall | $recall2lever%.4f | = 1.0 (ball under the lever cap => pigeonhole-exact) | |")
    println(f"| escalation-opted-out candidates (vcap=${DedupOps.SimMaxBucket}, eb=0) | $nCand2w | << exact (window regime) | $cand2wSecs%.2f |")
    println(f"| recall under fired window degrade | $recall2%.4f | >= 0.5 (MJU floor on a FULL ball, tightened r17 to measured 0.557 minus a band; the gate corpus regime measures 0.92) | |")
    println(s"| ball stays ONE component | $comps2 | = 1 (every window edge hamming <= 8) | |")

    require(nExact2 >= ballClique,
      s"exact set $nExact2 < full ball clique $ballClique: ball construction broke")
    require(recall2lever >= 0.9999,
      f"SimVariantCap-lever recall $recall2lever%.4f < 1.0 on an under-" +
        "lever-cap ball — the exact rescue is pigeonhole-exact by " +
        "construction; anything below 1.0 is a broken rescue stage")
    require(recall2 >= 0.5,
      f"window-regime recall $recall2%.4f < 0.5 floor on the dense ball " +
        "(measured 0.557 at r16/r17 on this deterministic fixture — a " +
        "10-point regression now fails here instead of hiding in a regen)")
    require(comps2 == 1L,
      s"ball fragmented into $comps2 components under the window degrade")

    // ---- Phase 2c: the ball under BUDGETED AUTO-ESCALATION — the
    // COMMITTED DEFAULT since the r20 flip (bare call, no explicit
    // budget: this run measures exactly what production callers get).
    // escalateBudget admits over-cap variant buckets smallest-first
    // within 4096 clique pairs per distinct signature. On this fixture
    // the ball's over-cap work (~2.0e8 pairs) fits the ~2.2e8 budget
    // (3.5k ball sims + 50k honest), so the exact rescue must fire and
    // recall must be structurally 1.0 — the KEEP case, reproduced
    // without naming a per-bucket cap. The fixture is deterministic
    // (xxhash64 over fixed ids), so this is a pin, not a flake.
    val t2a = System.nanoTime()
    val cand2auto = DedupOps.simhashCandidatesFromSig(sig2, "doc_id",
        maxHamming = 8)
      .localCheckpoint(true)
    val cand2autoSecs = (System.nanoTime() - t2a) / 1e9
    val nCand2auto = cand2auto.count()
    val nHit2auto = exact2.intersect(cand2auto).count()
    val recall2auto = nHit2auto.toDouble / nExact2
    println(f"| committed-default candidates (budgeted escalation, ${DedupOps.SimVariantEscalateBudget} pairs/sim) | $nCand2auto | ball fits the budget => exact rescue | $cand2autoSecs%.2f |")
    println(f"| auto-escalation recall | $recall2auto%.4f | = 1.0 (admitted => pigeonhole-exact) | |")
    require(nCand2auto >= nCand2w,
      s"auto candidates $nCand2auto < window candidates $nCand2w — " +
        "escalation replaced window pairs with a SUBSET, which is " +
        "structurally impossible (windows emit a subset of each " +
        "bucket's clique)")
    require(recall2auto >= 0.9999,
      f"auto-escalation recall $recall2auto%.4f < 1.0 on a ball whose " +
        "over-cap work fits the budget — the size-cut admitted the " +
        "wrong classes or the rescue broke")

    // ---- Phase 3: near-agreement-SATURATED cloud (the REJECT case) ---
    // 30k distinct sims agreeing exactly on chunk 0 and within 1 bit
    // on chunk 1 (so the variant stage's (c=0, c2=1) vkey buckets are
    // huge), but DIFFUSE on chunks 2-3 (24 random bits => pairwise
    // hamming ~12, true output ~zero). This is the zero-yield
    // ADVERSARIAL edge of the saturation regime; the real sf10 corpus
    // that exhausted 77 GB under the blanket vc4 raise is its
    // honest-yield sibling (SimVariantDiag: sf10's over-cap buckets
    // are coherent balls with 0.40-0.73 true-pair yield — 9.1e9
    // clique pairs of honest work that is simply unaffordable). The
    // budget rule bounds BOTH identically, because it bounds work
    // rather than judging honesty: it must (a) face total over-cap
    // work >> budget here (else the phase tests nothing), (b) admit
    // at most the budget, (c) still complete the candidate run in
    // bounded work — windows for everything past the cut.
    val nCloud = 30000L
    val c1center = 0x123L
    val cloudSig = spark.range(0, nCloud).select(
      col("id").as("doc_id"),
      (lit(0xABCL)
        .bitwiseOR(call_function("shiftleft",
          lit(c1center).bitwiseXOR(call_function("shiftleft", lit(1L),
            pmod(xxhash64(col("id"), lit(7)), lit(12)).cast("int"))),
          lit(12)))
        .bitwiseOR(call_function("shiftleft",
          pmod(xxhash64(col("id"), lit(8)), lit(1L << 24)),
          lit(24)))).as("simhash"))
      .localCheckpoint(true)
    val nCloudSims = cloudSig.select(col("simhash")).distinct().count()
    val cloudBudget = DedupOps.SimVariantEscalateBudget.toLong * nCloudSims
    // Replicate the candidate pipeline's over-cap histogram (distinct
    // sims -> level-1 bands -> over-cap bands expand 13 variant keys)
    // to assert the cut arithmetic against the same numbers the
    // pipeline will compute.
    val cChunks = cloudSig.select(col("simhash")).distinct()
      .select(col("simhash"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", call_function("shiftright", col("simhash"),
        col("c").cast("int") * 12).bitwiseAND(4095L))
    val cCk = cChunks.withColumn("__k", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("c"), col("chunk"))))
    val cFlips = array((0L +: (0 until 12).map(b => 1L << b)).map(lit): _*)
    val cVk = cCk.filter(col("__k") > DedupOps.SimMaxBucket)
      .select(col("simhash"), col("c"), col("chunk"),
        explode(sequence(lit(0), lit(3))).as("c2"))
      .filter(col("c2") =!= col("c"))
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        explode(cFlips).as("__flip"))
      .withColumn("vkey", call_function("shiftright", col("simhash"),
        col("c2").cast("int") * 12).bitwiseAND(4095L)
          .bitwiseXOR(col("__flip")))
    val cloudHist = cVk
      .groupBy(col("c"), col("chunk"), col("c2"), col("vkey"))
      .agg(count(lit(1)).as("vn"))
      .filter(col("vn") > DedupOps.SimMaxBucket)
      .groupBy(col("vn")).agg(count(lit(1)).as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cloudWorkAll = cloudHist
      .map { case (vn, nb) => nb * (vn * (vn - 1) / 2) }.sum
    val (cloudCut, cloudWorkAdm) = DedupOps.escalationCut(cloudHist,
      DedupOps.SimMaxBucket, cloudBudget)
    val t3w = System.nanoTime()
    val cloudWin = DedupOps.simhashCandidatesFromSig(cloudSig, "doc_id",
      maxHamming = 8, escalateBudget = 0).localCheckpoint(true)
    val nCloudWin = cloudWin.count()
    val cloudWinSecs = (System.nanoTime() - t3w) / 1e9
    val t3a = System.nanoTime()
    // Bare call = the committed default (budgeted escalation, r20).
    val cloudAuto = DedupOps.simhashCandidatesFromSig(cloudSig, "doc_id",
        maxHamming = 8)
      .localCheckpoint(true)
    val nCloudAuto = cloudAuto.count()
    val cloudAutoSecs = (System.nanoTime() - t3a) / 1e9

    println(s"\n## Phase 3: saturated cloud (auto-escalation REJECT case; " +
      s"$nCloudSims distinct sims, 24 diffuse bits)\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(s"| total over-cap clique work | $cloudWorkAll | >> budget $cloudBudget (the fixture saturates) | |")
    println(s"| admitted work at the cut (size <= $cloudCut) | $cloudWorkAdm | <= budget | |")
    println(f"| escalation-opted-out candidates | $nCloudWin | output-bounded | $cloudWinSecs%.2f |")
    println(f"| committed-default (escalated) candidates | $nCloudAuto | >= window (superset) | $cloudAutoSecs%.2f |")

    require(cloudWorkAll > cloudBudget,
      s"cloud over-cap work $cloudWorkAll <= budget $cloudBudget: the " +
        "fixture no longer saturates — rebuild it before trusting the " +
        "REJECT-case evidence")
    require(cloudWorkAdm <= cloudBudget,
      s"admitted work $cloudWorkAdm exceeds budget $cloudBudget — the " +
        "prefix cut is broken")
    require(nCloudAuto >= nCloudWin,
      s"auto candidates $nCloudAuto < window candidates $nCloudWin")

    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(
      f"""{"k":$k,"honest":$honest,"sim_max_bucket":${DedupOps.SimMaxBucket},"max_hamming":$maxHamming,"candidates":$nCand,"pair_bound":$pairBound,"family_pairs":$nFam,"max_family_hamming":$maxFamHam,"honest_pairs":$nHon,"n_buckets":$nBuckets,"max_bucket":$maxBucket,"n_over_cap":$nOverCap,"max_group":$maxGroup,"n_over_cap_groups":$nOverCapGroups,"cc_rounds":$rounds,"largest_component":$famSize,"components":$nComps,"cand_secs":$candSecs%.3f,"cc_secs":$ccSecs%.3f,"ball_n":$nBall,"ball_distinct_sims":$nBallSims,"ball_exact":$nExact2,"ball_lever_capped":$nCand2lever,"ball_lever_recall":$recall2lever%.4f,"ball_lever_cand_secs":$cand2leverSecs%.3f,"sim_variant_cap":${DedupOps.SimVariantCap},"ball_capped":$nCand2w,"ball_recall":$recall2%.4f,"ball_components":$comps2,"ball_cand_secs":$cand2wSecs%.3f,"escalate_budget_per_sim":${DedupOps.SimVariantEscalateBudget},"ball_auto_capped":$nCand2auto,"ball_auto_recall":$recall2auto%.4f,"ball_auto_cand_secs":$cand2autoSecs%.3f,"cloud_n":$nCloud,"cloud_distinct_sims":$nCloudSims,"cloud_budget":$cloudBudget,"cloud_work_all":$cloudWorkAll,"cloud_cut":$cloudCut,"cloud_work_admitted":$cloudWorkAdm,"cloud_window_cand":$nCloudWin,"cloud_window_secs":$cloudWinSecs%.3f,"cloud_auto_cand":$nCloudAuto,"cloud_auto_secs":$cloudAutoSecs%.3f}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
    spark.stop()
  }
}
