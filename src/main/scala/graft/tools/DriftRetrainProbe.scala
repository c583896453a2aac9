package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TableRef
import graft.io.{ModelStore, ParquetWarehouse}
import graft.operators.SimilarityOps

/** Checked probe for the COMMITTED incremental-ANN scale policy
  * ([[graft.io.ModelStore.getOrTrainDrifted]] +
  * [[graft.streaming.StreamingLoad.pqIndexBatchDrifted]] — the exact
  * per-batch body the stream runs, driven with parquet batches) at the
  * scale where round 16's ledgers measured the frozen-artifact collapse
  * (per-probe 2.8 → 61 ms, recall@5 0.338 → 0.013 at 1M-class corpora).
  *
  * Scenario: a DRIFTING corpus — each 250k-row region's planted
  * clusters live in a hypercube shifted +2.0·region per component, so
  * vectors arriving later are progressively OFF the 1×-trained
  * manifold (the regime that binds; on-manifold arrivals are
  * [[IvfAppendProbe]]'s job). Base 100k, then six 150k batches → 1M
  * (10× growth) through the committed batch path, drift factor 2.
  *
  * Checked bounds (nonzero exit on violation):
  *   1. RETRAIN CADENCE is the documented log₂ schedule: bytes cross
  *      2× the trained point at 250k and again at 550k — exactly 3
  *      full recodes (initial + 2), every other batch append-coded
  *      under the served generation (batch-scale work).
  *   2. The index never holds mixed quantizer generations and always
  *      covers the whole corpus (row count per batch).
  *   3. At the final 1M state, recall@k of the drift-served
  *      configuration beats the FROZEN twin (1×-trained artifacts +
  *      ivfAppend-grown index — the r16 collapsing configuration) by
  *      ≥ 2×, and per-probe search cost does not exceed the frozen
  *      twin's (the served C tracks √N, so probed cells stay thinner).
  *   4. The drift-served recall clears an absolute 0.5 floor on the
  *      clustered fixture.
  *   5. CEILING + MID series (r17 ask #3, knee re-measured at the r19
  *      residual flip): driftFactor 1 retrains on EVERY growth batch
  *      (recodes = batches + 1) and driftFactor 1.5 is the
  *      half-decade middle point. The committed factor-2 policy must
  *      hold ≥ 0.7× the ceiling's recall AND ≥ 0.95× the mid
  *      cadence's (measured r19: 0.760 vs mid 0.758 at the SAME
  *      recode bill vs ceiling 0.997 at 3.1× the bill — the curve is
  *      flat between factors 2 and 1.5; only the degenerate per-batch
  *      retrain reaches the ceiling) — the measured
  *      recall-vs-recode-cost curve CONTRACTS §15 quotes.
  *   6. CHURN series (r17 verdict ask #2 — the axis the growth
  *      trigger is blind to): a CONSTANT-SIZE corpus whose content is
  *      progressively replaced off-manifold by Upserts. The committed
  *      policy must retrain ≥ 1× via the churn accumulator (bytes
  *      never cross the growth budget) and beat the frozen twin's
  *      recall by ≥ 2× at the final state.
  *   7. TAIL-INDEX series (r20 verdict ask #2): the committed policy
  *      plus a fresh-trained secondary index over post-retrain
  *      arrivals, union-searched on exact sim and folded at the next
  *      drift crossing — the only design that can reach toward the
  *      ceiling's recall without per-batch corpus-scale recodes
  *      (the r19 curve proved the committed gap lives in the stale
  *      tail, not cadence). Measured, not yet floored: maintenance
  *      bill and final recall land in the JSON/markdown; the
  *      adopt/reject decision (≥ 0.9× ceiling at ≤ 1.5× the factor-2
  *      bill) is recorded in CONTRACTS §15 / SCALING.md.
  *
  * Usage: graft.tools.DriftRetrainProbe [jsonOut] [base] [batch] [nBatches]
  */
object DriftRetrainProbe {

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("DRIFT_RETRAIN_PROBE.json")
    val base = if (args.length > 1) args(1).toLong else 100000L
    val batch = if (args.length > 2) args(2).toLong else 150000L
    val nBatches = if (args.length > 3) args(3).toInt else 6
    val dim = 64
    val subDim = 16
    val m = dim / subDim
    val ks = 16 // resolves the planted cluster count (IvfAppendProbe note)
    val k = 10
    val nProbes = 200
    val regionRows = 250000L
    val clustersPerRegion = 2500L // ~100 members per cluster
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    // vec(id): region = id div regionRows; cluster = hash(id) within the
    // region; center = region-shifted ±1 hash signal; noise ±0.1. All
    // hash-deterministic. Later regions are OFF the earlier-trained
    // manifold by +2.0·Δregion per component.
    def vecs(ids: DataFrame): DataFrame = {
      val region = expr(s"id div $regionRows")
      val c = region * clustersPerRegion +
        pmod(xxhash64(col("id")), lit(clustersPerRegion))
      ids.select(col("id").as("vec_id"), array((0 until dim).map { i =>
        (region.cast("double") * 2.0 +
          (pmod(xxhash64(c, lit(i)), lit(2001L)) - 1000L).cast("double") / 1000.0 +
          (pmod(xxhash64(col("id"), lit(i + dim)), lit(201L)) - 100L)
            .cast("double") / 1000.0).cast("float")
      }: _*).as("vec"))
    }

    val root = java.nio.file.Files.createTempDirectory("graft_driftprobe")
      .toString
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val ms = ModelStore(spark, s"$root/models")
    val (corpusT, idxT) = (TableRef("", "vecs"), TableRef("", "pq_index"))
    def runBatch(lo: Long, hi: Long): (Boolean, Double) = {
      val b = vecs(spark.range(lo, hi).toDF()).localCheckpoint(true)
      val t0 = System.nanoTime()
      val retrained = graft.streaming.StreamingLoad.pqIndexBatchDrifted(
        spark, wh, corpusT, idxT, ms, "driftprobe", m, subDim, ks,
        kmeansIters = 1, "vec_id", driftFactor = 2.0)(b)
      val secs = (System.nanoTime() - t0) / 1e9
      graft.ToolSession.clearStorage(spark)
      (retrained, secs)
    }

    val bounds = (0L, base) +: (0 until nBatches).map(i =>
      (base + i * batch, base + (i + 1) * batch))
    val results = bounds.map { case (lo, hi) =>
      val (retrained, secs) = runBatch(lo, hi)
      val rows = hi
      System.err.println(f"[probe] batch -> $rows%7d rows: " +
        f"${if (retrained) "RECODE " else "append "} $secs%6.1f s")
      (rows, retrained, secs)
    }
    val nRecodes = results.count(_._2)
    val total = base + nBatches * batch
    val idxRows = wh.table(idxT).count()
    val qfps = wh.table(idxT).select("qfp").distinct().count()
    val servedFp = ms.servedFingerprint("driftprobe_coarse").get

    // ---- CEILING series: retrain-EVERY-batch (driftFactor 1.0 — any
    // growth trips the budget). Same schedule, fresh state; the final
    // corpus content is identical, so the committed run's probes/truth
    // frames (built below, AFTER this loop's clearStorage calls — a
    // checkpointed frame does not survive them) measure this index
    // too. This is the recall ceiling the factor-2 cadence is priced
    // against: its recode bill is the per-batch corpus-scale work
    // CONTRACTS §15 calls degenerate.
    val rootCeil = java.nio.file.Files
      .createTempDirectory("graft_driftceil").toString
    val whCeil = new ParquetWarehouse(spark, s"$rootCeil/wh")
    val msCeil = ModelStore(spark, s"$rootCeil/models")
    val resultsCeil = bounds.map { case (lo, hi) =>
      val b = vecs(spark.range(lo, hi).toDF()).localCheckpoint(true)
      val t0 = System.nanoTime()
      val retrained = graft.streaming.StreamingLoad.pqIndexBatchDrifted(
        spark, whCeil, corpusT, idxT, msCeil, "driftceil", m, subDim, ks,
        kmeansIters = 1, "vec_id", driftFactor = 1.0)(b)
      val secs = (System.nanoTime() - t0) / 1e9
      graft.ToolSession.clearStorage(spark)
      System.err.println(f"[probe/ceil] -> $hi%7d rows: " +
        f"${if (retrained) "RECODE " else "append "} $secs%6.1f s")
      (hi, retrained, secs)
    }
    val nRecodesCeil = resultsCeil.count(_._2)
    val recodeCeilSecs = resultsCeil.filter(_._2).map(_._3).sum

    // ---- MID series (r19): driftFactor 1.5 — the cadence between the
    // committed factor 2 and the retrain-every-batch ceiling. The r19
    // residual flip moved the recall/recode curve (the ceiling jumped
    // 0.798 -> 0.997 while committed factor 2 read 0.760), so the knee
    // the committed factor was chosen at had to be RE-MEASURED, not
    // assumed: this series is the third point of that curve.
    val rootMid = java.nio.file.Files
      .createTempDirectory("graft_driftmid").toString
    val whMid = new ParquetWarehouse(spark, s"$rootMid/wh")
    val msMid = ModelStore(spark, s"$rootMid/models")
    val resultsMid = bounds.map { case (lo, hi) =>
      val b = vecs(spark.range(lo, hi).toDF()).localCheckpoint(true)
      val t0 = System.nanoTime()
      val retrained = graft.streaming.StreamingLoad.pqIndexBatchDrifted(
        spark, whMid, corpusT, idxT, msMid, "driftmid", m, subDim, ks,
        kmeansIters = 1, "vec_id", driftFactor = 1.5)(b)
      val secs = (System.nanoTime() - t0) / 1e9
      graft.ToolSession.clearStorage(spark)
      System.err.println(f"[probe/mid] -> $hi%7d rows: " +
        f"${if (retrained) "RECODE " else "append "} $secs%6.1f s")
      (hi, retrained, secs)
    }
    val nRecodesMid = resultsMid.count(_._2)
    val recodeMidSecs = resultsMid.filter(_._2).map(_._3).sum

    // ---- TAIL-INDEX series (r20, verdict ask #2): the committed
    // factor-2 policy plus a SMALL SECONDARY INDEX over post-retrain
    // arrivals, trained fresh per batch on the tail alone and
    // union-searched with the main index; a drift crossing FOLDS the
    // tail (the full recode just covered those rows). Motivation: the
    // r19 three-point curve proved the committed policy's recall gap
    // to the retrain-every-batch ceiling (0.760 vs 0.997) lives
    // entirely in the stale last partial decade — no cadence tweak can
    // close it, only fresh coding of the tail can. The maintenance
    // bill is TAIL-scale per batch (the tail is at most the open
    // decade), vs the ceiling's CORPUS-scale per batch.
    //
    // The main-index side is byte-identical to the committed series
    // (same schedule, same driftFactor, same artifacts), so this
    // replay reuses the committed run's warehouse and retrain
    // positions rather than rebuilding a fourth 1M corpus: only the
    // ADDED work (per-append-batch tail train + recode) is timed here,
    // and the final-state union search is measured below next to the
    // committed/frozen/ceiling/mid numbers.
    var tailStart = 0L
    var tailMaintSecs = 0.0
    var tailMaintBatches = 0
    results.foreach { case (rows, retrained, _) =>
      if (retrained) tailStart = rows
      else {
        val t0 = System.nanoTime()
        val tailCorpus = vecs(spark.range(tailStart, rows).toDF())
          .localCheckpoint(true)
        val tInit = SimilarityOps.ivfCentroids(tailCorpus, 0)
          .select(col("cent_id"),
            transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
        val tCents = graft.operators.ClusterOps.kmeans(tailCorpus, tInit, 1)
          .localCheckpoint(true)
        val tBooks = SimilarityOps
          .pqResidualCodebooks(tailCorpus, tCents, m, subDim, ks, iters = 1)
          .localCheckpoint(true)
        SimilarityOps.ivfPqResidualIndex(tailCorpus, tCents, tBooks, subDim)
          .localCheckpoint(true).count()
        tailMaintSecs += (System.nanoTime() - t0) / 1e9
        tailMaintBatches += 1
        System.err.println(f"[probe/tail] tail ${rows - tailStart}%7d rows " +
          f"retrained+recoded in ${(System.nanoTime() - t0) / 1e9}%6.1f s")
        graft.ToolSession.clearStorage(spark)
      }
    }
    val tailRows = total - tailStart

    // Final-state search: drift-served configuration vs the FROZEN twin.
    val corpus = wh.table(corpusT).select(col("vec_id"), col("vec"))
      .localCheckpoint(true)
    val probeStep = total / nProbes
    val probes = corpus.filter(col("vec_id") % probeStep === 7L)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"))
      .localCheckpoint(true)
    val truth = SimilarityOps.bruteForceKnn(probes, corpus, k)
      .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
    val nTruth = truth.count()

    def recallAndSecs(cents: DataFrame, books: DataFrame,
        coded: DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      // r19 default flip: the drifted stream codes residuals, so every
      // contrast searches through the residual coder.
      val found = SimilarityOps.ivfPqResidualSearch(probes, corpus, coded, k,
          cents, books, subDim, nprobe = 3)
        .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
      found.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val hit = truth.join(found, Seq("probe_id", "vec_id"), "left_semi")
        .count()
      (hit.toDouble / nTruth, secs)
    }
    val statNow = ModelStore.corpusStat(spark,
      wh.currentDataPath(corpusT).toSeq)
    val servedCents = ms.getOrTrainDrifted("driftprobe_coarse", statNow)(
      sys.error("serve-time resolution must not retrain"))
    val servedBooks = ms.getOrTrainDrifted("driftprobe_books_res", statNow)(
      sys.error("serve-time resolution must not retrain"))
    val (recallDrift, searchDriftSecs) = recallAndSecs(
      servedCents, servedBooks, wh.table(idxT).drop("qfp"))

    // Frozen twin: artifacts trained on the 1x base region only, index
    // grown by ivfAppend — the r16 collapsing configuration.
    val corpus1x = vecs(spark.range(0L, base).toDF()).localCheckpoint(true)
    val frozenCents = SimilarityOps.ivfCentroids(corpus1x, 0)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      .localCheckpoint(true)
    val frozenBooks = SimilarityOps
      .pqResidualCodebooks(corpus1x, frozenCents, m, subDim, ks, iters = 1)
      .localCheckpoint(true)
    val frozenIdx = SimilarityOps
      .ivfPqResidualIndex(corpus, frozenCents, frozenBooks, subDim)
      .localCheckpoint(true)
    val (recallFrozen, searchFrozenSecs) = recallAndSecs(
      frozenCents, frozenBooks, frozenIdx)
    // Ceiling recall over the SAME corpus/probes/truth frames (its
    // series ran before they were checkpointed; nothing has cleared
    // storage since).
    val statCeil = ModelStore.corpusStat(spark,
      whCeil.currentDataPath(corpusT).toSeq)
    val ceilCents = msCeil.getOrTrainDrifted("driftceil_coarse", statCeil,
      driftFactor = 1.0)(sys.error("serve-time resolution must not retrain"))
    val ceilBooks = msCeil.getOrTrainDrifted("driftceil_books_res", statCeil,
      driftFactor = 1.0)(sys.error("serve-time resolution must not retrain"))
    val (recallCeil, searchCeilSecs) = recallAndSecs(
      ceilCents, ceilBooks, whCeil.table(idxT).drop("qfp"))
    val statMid = ModelStore.corpusStat(spark,
      whMid.currentDataPath(corpusT).toSeq)
    val midCents = msMid.getOrTrainDrifted("driftmid_coarse", statMid,
      driftFactor = 1.5)(sys.error("serve-time resolution must not retrain"))
    val midBooks = msMid.getOrTrainDrifted("driftmid_books_res", statMid,
      driftFactor = 1.5)(sys.error("serve-time resolution must not retrain"))
    val (recallMid, searchMidSecs) = recallAndSecs(
      midCents, midBooks, whMid.table(idxT).drop("qfp"))

    // TAIL-INDEX final-state search: the committed main index PLUS the
    // fresh-trained tail index over the post-last-retrain arrivals,
    // union-merged on exact sim (both searches exact-rerank their ADC
    // shortlists, so the merge is a rank over one comparable column;
    // a row found by both sides dedups to one candidate). Timed as the
    // configuration's search cost next to the committed single-index
    // search.
    val (recallTail, searchTailSecs) =
      if (tailRows <= 0) (recallDrift, searchDriftSecs)
      else {
        val tailCorpusF = vecs(spark.range(tailStart, total).toDF())
          .localCheckpoint(true)
        val tInitF = SimilarityOps.ivfCentroids(tailCorpusF, 0)
          .select(col("cent_id"),
            transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
        val tCentsF = graft.operators.ClusterOps.kmeans(tailCorpusF, tInitF, 1)
          .localCheckpoint(true)
        val tBooksF = SimilarityOps
          .pqResidualCodebooks(tailCorpusF, tCentsF, m, subDim, ks, iters = 1)
          .localCheckpoint(true)
        val tIdxF = SimilarityOps
          .ivfPqResidualIndex(tailCorpusF, tCentsF, tBooksF, subDim)
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        val mainFound = SimilarityOps.ivfPqResidualSearch(probes, corpus,
            wh.table(idxT).drop("qfp"), k, servedCents, servedBooks, subDim,
            nprobe = 3)
          .select(col("probe_id"), col("vec_id"), col("sim"))
        val tailFound = SimilarityOps.ivfPqResidualSearch(probes, tailCorpusF,
            tIdxF, k, tCentsF, tBooksF, subDim, nprobe = 3)
          .select(col("probe_id"), col("vec_id"), col("sim"))
        val merged = mainFound.unionByName(tailFound)
          .groupBy(col("probe_id"), col("vec_id"))
          .agg(max(col("sim")).as("sim"))
          .withColumn("__r", rank().over(org.apache.spark.sql.expressions
            .Window.partitionBy(col("probe_id"))
            .orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("__r") <= k)
          .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
        merged.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val hit = truth.join(merged, Seq("probe_id", "vec_id"), "left_semi")
          .count()
        (hit.toDouble / nTruth, secs)
      }

    // ---- CHURN series: constant-size corpus, content progressively
    // replaced off-manifold by Upserts — corpus bytes never cross the
    // growth budget, so only the churn accumulator can retrain. Each
    // batch replaces half the ids with generation-b content (center
    // shift +2·b per component, the same off-manifold recipe); the
    // index is recoded under the SERVED artifacts each batch (replaced
    // rows' codes are stale regardless — index maintenance is the
    // workload's cost, quantizer retrains are the policy's).
    val churnN = 200000L
    val churnHalf = churnN / 2
    val churnBatches = 6
    val churnClusters = 2000L
    def churnVecs(ids: DataFrame, gen: Int): DataFrame = {
      val c = pmod(xxhash64(col("id")), lit(churnClusters))
      ids.select(col("id").as("vec_id"), array((0 until dim).map { i =>
        (lit(gen.toDouble * 2.0) +
          (pmod(xxhash64(c, lit(gen * dim + i)), lit(2001L)) - 1000L)
            .cast("double") / 1000.0 +
          (pmod(xxhash64(col("id"), lit(i + dim)), lit(201L)) - 100L)
            .cast("double") / 1000.0).cast("float")
      }: _*).as("vec"))
    }
    val rootChurn = java.nio.file.Files
      .createTempDirectory("graft_driftchurn").toString
    val whCh = new ParquetWarehouse(spark, s"$rootChurn/wh")
    val msCh = ModelStore(spark, s"$rootChurn/models")
    val chT = TableRef("", "churn_vecs")
    val chIdxT = TableRef("", "churn_index")
    val churnTrains = new java.util.concurrent.atomic.AtomicInteger(0)
    def churnResolve(stat: ModelStore.CorpusStat, corpus: DataFrame):
        (DataFrame, DataFrame) = {
      val cents = msCh.getOrTrainDrifted("churn_coarse", stat) {
        churnTrains.incrementAndGet()
        val initial = SimilarityOps.ivfCentroids(corpus, 0, "vec_id")
          .select(col("cent_id"),
            transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
        graft.operators.ClusterOps.kmeans(corpus, initial, 1, "vec_id")
      }
      val books = msCh.getOrTrainDrifted("churn_books", stat)(
        SimilarityOps.pqResidualCodebooks(corpus, cents, m, subDim, ks, 1,
          "vec_id"))
      (cents, books)
    }
    def churnRecode(): Unit = {
      val corpus = whCh.table(chT).select(col("vec_id"), col("vec"))
      val stat = ModelStore.corpusStat(spark,
        whCh.currentDataPath(chT).toSeq)
      val (cents, books) = churnResolve(stat, corpus)
      val coded = SimilarityOps.ivfPqResidualIndex(corpus, cents, books,
        subDim, "vec_id").localCheckpoint(true)
      if (whCh.exists(chIdxT))
        whCh.load(graft.core.LoadMode.TruncateInsert, chIdxT, coded, "vec_id")
      else whCh.create(chIdxT, coded)
      graft.ToolSession.clearStorage(spark)
    }
    whCh.create(chT,
      churnVecs(spark.range(0L, churnN).toDF(), 0).localCheckpoint(true))
    val churnBytes0 = ModelStore.corpusStat(spark,
      whCh.currentDataPath(chT).toSeq).bytes
    churnRecode()
    (1 to churnBatches).foreach { b =>
      val lo = ((b - 1).toLong * churnHalf) % churnN
      val upd = churnVecs(spark.range(lo, lo + churnHalf).toDF(), b)
        .localCheckpoint(true)
      whCh.load(graft.core.LoadMode.Upsert, chT, upd, "vec_id")
      churnRecode()
      System.err.println(s"[probe/churn] batch $b: trains=${churnTrains.get()}")
    }
    val churnBytesEnd = ModelStore.corpusStat(spark,
      whCh.currentDataPath(chT).toSeq).bytes
    val churnRetrains = churnTrains.get() - 1 // beyond the initial train
    // Final-state recall: committed-policy artifacts vs a twin FROZEN at
    // the initial generation (what the r17 growth-only policy serves
    // forever on this workload — bytes never move).
    val chCorpus = whCh.table(chT).select(col("vec_id"), col("vec"))
      .localCheckpoint(true)
    val chProbes = chCorpus.filter(col("vec_id") % (churnN / 100) === 3L)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"))
      .localCheckpoint(true)
    val chTruth = SimilarityOps.bruteForceKnn(chProbes, chCorpus, k)
      .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
    val nChTruth = chTruth.count()
    def churnRecallOf(cents: DataFrame, books: DataFrame,
        coded: DataFrame): Double = {
      val found = SimilarityOps.ivfPqResidualSearch(chProbes, chCorpus,
          coded, k, cents, books, subDim, nprobe = 3)
        .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
      val hit = chTruth.join(found, Seq("probe_id", "vec_id"), "left_semi")
        .count()
      hit.toDouble / nChTruth
    }
    val chStatNow = ModelStore.corpusStat(spark,
      whCh.currentDataPath(chT).toSeq)
    val (chCents, chBooks) = churnResolve(chStatNow, chCorpus)
    val recallChurn = churnRecallOf(chCents, chBooks,
      whCh.table(chIdxT))
    val corpus0 = churnVecs(spark.range(0L, churnN).toDF(), 0)
      .localCheckpoint(true)
    val frozen0Init = SimilarityOps.ivfCentroids(corpus0, 0, "vec_id")
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    val frozen0Cents = graft.operators.ClusterOps
      .kmeans(corpus0, frozen0Init, 1, "vec_id").localCheckpoint(true)
    val frozen0Books = SimilarityOps
      .pqResidualCodebooks(corpus0, frozen0Cents, m, subDim, ks, 1, "vec_id")
      .localCheckpoint(true)
    val recallChurnFrozen = churnRecallOf(frozen0Cents, frozen0Books,
      SimilarityOps.ivfPqResidualIndex(chCorpus, frozen0Cents, frozen0Books,
        subDim, "vec_id").localCheckpoint(true))
    spark.stop()

    val appendSecs = results.filterNot(_._2).map(_._3)
    val recodeSecs = results.filter(_._2).map(_._3)
    println(s"\n## Drift-retrain probe (base=$base + $nBatches x $batch -> " +
      s"$total drifting rows, factor 2, C=auto, R=auto, m=$m, ks=$ks, " +
      s"k=$k, nprobe=3, local[$cpus])\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(f"| full recodes (initial + decade crossings at 250k, 550k) | $nRecodes | = 3 (log2 cadence: retrain per size decade) | ${recodeSecs.sum}%.1f |")
    println(f"| append-coded batches | ${results.size - nRecodes} | = ${results.size - 3} (batch-scale work between decades) | ${appendSecs.sum}%.1f |")
    println(f"| index rows / generations | $idxRows / $qfps | = $total / 1 (whole corpus, ONE generation) | |")
    println(f"| recall@$k drift-served (${nTruth / k} probes) | $recallDrift%.3f | >= 0.5 and >= 2x frozen | $searchDriftSecs%.1f |")
    println(f"| recall@$k frozen twin (r16 collapsing config) | $recallFrozen%.3f | the baseline being fixed | $searchFrozenSecs%.1f |")
    println(f"| drift/frozen search cost | ${searchDriftSecs / searchFrozenSecs}%.2f | <= 1.2 (served C tracks sqrt(N): thinner cells) | |")
    println(f"| CEILING recodes (retrain-every-batch, factor 1) | $nRecodesCeil | = ${bounds.size} (every growth batch) | $recodeCeilSecs%.1f |")
    println(f"| CEILING recall@$k | $recallCeil%.3f | the curve's upper end | $searchCeilSecs%.1f |")
    println(f"| MID recodes (factor 1.5) | $nRecodesMid | the curve's middle point | $recodeMidSecs%.1f |")
    println(f"| MID recall@$k | $recallMid%.3f | (search $searchMidSecs%.1f s) | |")
    println(f"| TAIL-INDEX recall@$k (committed + fresh tail of $tailRows rows, union-searched) | $recallTail%.3f | the stale-tail fix, measured (search $searchTailSecs%.1f s) | |")
    println(f"| TAIL-INDEX maintenance bill ($tailMaintBatches tail retrain+recodes) | $tailMaintSecs%.1f s | tail-scale; total bill ${recodeSecs.sum + tailMaintSecs}%.1f s vs ceiling $recodeCeilSecs%.1f | |")
    println(f"| committed recode bill vs ceiling | ${recodeSecs.sum / recodeCeilSecs}%.2f | < 1 (the cadence's saving) | |")
    println(f"| CHURN retrains (constant-size, 6 half-rewrites) | $churnRetrains | >= 1 via the churn axis (bytes flat: $churnBytes0 -> $churnBytesEnd) | |")
    println(f"| CHURN recall@$k committed vs frozen-at-gen-0 | $recallChurn%.3f vs $recallChurnFrozen%.3f | >= 2x frozen | |")

    require(nRecodes == 3,
      s"$nRecodes full recodes != 3: the drift cadence is not the documented log2 schedule")
    require(idxRows == total, s"index rows $idxRows != corpus $total")
    require(qfps == 1L, s"$qfps quantizer generations in the index (mixed codes)")
    require(recallDrift >= 0.5,
      f"drift-served recall $recallDrift%.3f below 0.5 floor")
    require(recallDrift >= 2.0 * recallFrozen,
      f"drift-served recall $recallDrift%.3f < 2x frozen $recallFrozen%.3f — the policy is not paying for itself on a drifting corpus")
    require(searchDriftSecs <= 1.2 * searchFrozenSecs,
      f"drift-served search $searchDriftSecs%.1fs > 1.2x frozen $searchFrozenSecs%.1fs")
    require(nRecodesCeil == bounds.size,
      s"ceiling series recoded $nRecodesCeil of ${bounds.size} batches — factor 1.0 must retrain on every growth batch")
    // Floor re-derived at the r19 residual flip from the three-point
    // measured curve (factor 2 / 1.5 / 1): committed 0.760 at 420 s,
    // mid 0.758 at 419 s, ceiling 0.997 at 1295 s — recall is FLAT
    // between factor 2 and 1.5 (staleness of the last partial decade
    // binds, not cadence), and the ceiling's extra 0.24 recall costs
    // 3.1x the bill via the degenerate per-batch retrain this policy
    // exists to prevent. 0.7x carries ~8% headroom on the measured
    // 0.763 ratio (counts deterministic).
    require(recallDrift >= 0.7 * recallCeil,
      f"committed recall $recallDrift%.3f < 0.7x ceiling $recallCeil%.3f — the committed cadence gives up too much recall for its recode saving")
    // Flat-knee check: if a HALF-decade cadence ever strictly dominates
    // the committed factor 2, the knee has moved and the default needs
    // re-deciding (r19 measured them equal: 0.760 vs 0.758).
    // DETERMINISM DEPENDENCY (ADVICE r19): the committed and mid series
    // are independently-built warehouses, so this floor (anchored to a
    // measured ratio of 1.003) assumes both series' recall counts stay
    // bit-deterministic across environments — they do here (xxhash64
    // synthesis, deterministic k-means seeding, exact-arith search
    // ranking; three r19 regens reproduced every recall bit-for-bit).
    // If the probe is ever run on a non-quiet box or the synthesis
    // gains nondeterminism, re-derive this floor min-of-N style (the
    // bench discipline) rather than loosening it in place.
    require(recallDrift >= 0.95 * recallMid,
      f"committed recall $recallDrift%.3f < 0.95x the factor-1.5 mid cadence $recallMid%.3f — the knee moved, re-decide the committed factor")
    require(recodeSecs.sum < recodeCeilSecs,
      f"committed recode bill ${recodeSecs.sum}%.1fs not below the ceiling's $recodeCeilSecs%.1fs")
    // Tail-index series sanity (r20, first measurement round): the
    // union search can only ADD candidates over the committed single
    // index, so its recall must not fall below the committed number
    // (0.005 tie allowance: a tail candidate displacing a main hit in
    // the top-k merge is by definition an equal-or-better neighbor,
    // but truth ties at the k boundary can swap members). The
    // adopt/reject floors come AFTER this round's measurement —
    // CONTRACTS §15 records the decision.
    require(recallTail >= recallDrift - 0.005,
      f"tail-index recall $recallTail%.3f < committed $recallDrift%.3f — the union merge is dropping main-index hits")
    require(churnBytesEnd <= (1.2 * churnBytes0).toLong,
      s"churn corpus grew ($churnBytes0 -> $churnBytesEnd) — the series must keep the growth trigger silent")
    require(churnRetrains >= 1,
      "constant-size churn never retrained — the churn accumulator is not covering the turnover axis")
    // r18 measured 0.998 vs 0.022 (45x) — the growth series' >= 0.8x
    // ceiling discipline, applied here: a listing-diff regression that
    // halves the churn accumulator's coverage must FAIL this regen,
    // not shave a 2x floor it still clears. 10x relative + 0.9
    // absolute both carry ~10% headroom on the committed measurement.
    require(recallChurn >= 10.0 * recallChurnFrozen,
      f"churn-policy recall $recallChurn%.3f < 10x frozen-at-gen-0 $recallChurnFrozen%.3f")
    require(recallChurn >= 0.9,
      f"churn-policy recall $recallChurn%.3f < 0.9 absolute floor (r18 measured 0.998)")

    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(
      f"""{"base":$base,"batch":$batch,"n_batches":$nBatches,"total":$total,"recodes":$nRecodes,"append_batches":${results.size - nRecodes},"index_rows":$idxRows,"generations":$qfps,"served_fp":"$servedFp","recall_drift":$recallDrift%.4f,"recall_frozen":$recallFrozen%.4f,"search_drift_secs":$searchDriftSecs%.3f,"search_frozen_secs":$searchFrozenSecs%.3f,"append_secs_total":${appendSecs.sum}%.3f,"recode_secs_total":${recodeSecs.sum}%.3f,"n_probes":${nTruth / k},"k":$k,"ceiling_recodes":$nRecodesCeil,"ceiling_recall":$recallCeil%.4f,"ceiling_recode_secs_total":$recodeCeilSecs%.3f,"ceiling_search_secs":$searchCeilSecs%.3f,"mid_recodes":$nRecodesMid,"mid_recall":$recallMid%.4f,"mid_recode_secs_total":$recodeMidSecs%.3f,"mid_search_secs":$searchMidSecs%.3f,"tail_rows":$tailRows,"tail_maint_batches":$tailMaintBatches,"tail_maint_secs_total":$tailMaintSecs%.3f,"tail_recall":$recallTail%.4f,"tail_search_secs":$searchTailSecs%.3f,"churn_rows":$churnN,"churn_batches":$churnBatches,"churn_retrains":$churnRetrains,"churn_bytes_start":$churnBytes0,"churn_bytes_end":$churnBytesEnd,"churn_recall":$recallChurn%.4f,"churn_recall_frozen":$recallChurnFrozen%.4f,"churn_probes":${nChTruth / k}}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
    // Temp-state hygiene: the probe's warehouses/models are throwaway.
    Seq(root, rootCeil, rootMid, rootChurn).foreach { r =>
      try org.apache.commons.io.FileUtils.deleteDirectory(new File(r))
      catch { case _: java.io.IOException => () }
    }
  }
}
