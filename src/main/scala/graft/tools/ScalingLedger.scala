package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gate.{DedupGate, SimilarityGate}

/** Reproducible scaling ledger: measure every query in SCALING.md's table
  * at two scale factors in one command and emit both the markdown table
  * (stdout, paste-ready for SCALING.md) and a machine-readable JSON file.
  *
  * Usage:
  *   graft.tools.ScalingLedger <baseDir> <scaledDir> [mult] [jsonOut] [query...]
  *
  * Timing protocol (same as the hand-run ledger this replaces): each query
  * runs twice per scale in one warm JVM; the reported number is run2 so
  * one-time costs (JIT, model-store training keyed by corpus fingerprint)
  * are paid in run1 and visible as `train_s = run1 - run2`. Queries are
  * timed base-scale first, then scaled, so JIT warmth can only flatter the
  * scaled run — a super-linear ratio is therefore never a JIT artifact.
  *
  * `GRAFT_LEDGER_COLD_MODELS=1` deletes every persisted ModelStore
  * artifact before measuring, so each train-once cost is GUARANTEED
  * visible as run1−run2 — without it, an artifact cached by a previous
  * session (the store intentionally persists across JVMs, CONTRACTS §6)
  * makes the training silently free and the quoted one-time cost
  * unreproducible. run2 ratios are unaffected either way (run1 always
  * absorbs the train); this flag only buys back the run1 evidence.
  */
object ScalingLedger {

  /** The standing SCALING.md query set: the heaviest gate queries plus the
    * sub-linear artifact-reuse rows. Keep in sync with SCALING.md. */
  val DefaultQueries: Seq[String] = Seq(
    "web_pipeline", "dedup_cc_components", "dedup_keep_best", "doc_commonness",
    "dedup_cc_keep", "simhash_near_dup", "bigram_counts", "hybrid_search_rrf",
    "dup_cluster_sizes", "dedup_token_yield", "bigram_lm_scores",
    "tfidf_top_terms", "binary_file_ingest", "dedup_near_keep",
    "q8_market_share", "session_overlap_pairs", "q21_waiting_supplier",
    "dedup_minhash_lsh", "dedup_substring", "substring_scrub",
    // round-14: the ANN rows ride the FIXED-probe twins (1,000 external
    // probes at every scale) so their ratios read the per-probe law
    // directly; the `% 100` gate fixtures stay oracle-checked but are
    // no longer what the ledger times (their ratios were probe-count
    // arithmetic, not operator behavior)
    "knn_ivf_p1k", "knn_ivf_pq_residual_p1k",
    // round-18: the residual family at the committed scale policy
    // (auto-C + auto-rerank, books trained against the auto coarse) —
    // the fixed-C residual row above is its contrast
    "knn_ivf_pq_residual_autoc_p1k",
    "kmeans_centroids", "bpe_token_counts",
    "fuzzy_name_match", "boilerplate_dict_train", "boilerplate_scrub",
    "crawl_curation_pipeline", "dedup_incremental_candidates",
    "dedup_minhash_recall", "dedup_minhash_recall_r8",
    "dedup_ngram_jaccard", "domain_cap_sample", "quality_model_filter",
    "url_canonicalize", "url_dedup",
    // round-12 additions: incremental ANN maintenance + the cap ledger,
    // plus the export family (token-granular packing rides a
    // range-partitioned distributed prefix sum — the scale-sensitive
    // part worth a standing measurement, not a one-off)
    "knn_ivf_incremental_p1k", "dedup_lsh_bucket_ledger",
    "sequence_pack_plan", "sequence_pack_plan_bpe",
    // round-13 additions: the two new guard ledgers (SimHash chunk cap,
    // SymSpell block populations) and the dense Jaccard kept as the
    // explicitly-quadratic truth row — dedup_ngram_jaccard itself now
    // rides the prefix-filtered scale path, so the standing row
    // measures what pipelines actually run
    "simhash_bucket_ledger", "fuzzy_block_ledger",
    "dedup_ngram_jaccard_exact",
    // round-14: the prefix-Jaccard df-cap guard's ledger — its max_df
    // column doubles as the fixture-saturation signal the 100x decade
    // diagnosed by hand (df ∝ n on bounded vocabularies)
    "jaccard_df_ledger",
    // round-14: the bounded concurrency twin (session_overlap_pairs
    // stays the labeled intrinsic-output truth row; this is what
    // pipelines run — output ≤ k·sessions, work linear in sessions)
    "session_topk_overlaps",
    // round-13 (cont.): the incremental-CC gate query — the standing row
    // watches the two-batch fold (batch CC + frontier merge + remap),
    // which should scale like the batch CC family it wraps
    "dedup_cc_incremental",
    // round-13 (cont.): the bounded-sample quality-training path and its
    // in-gate justification. The train row's run1−run2 is the sampled
    // one-time training cost (vs quality_model_filter's full-batch
    // train); the agreement row scores the FULL corpus under both
    // weight sets, so its ratio tracks two corpus-sized scoring passes
    "quality_train_sampled", "quality_sampled_agreement",
    // round-13 (final): the precision-verified keep — its standing row
    // watches the exact-verify pass's cost staying pair-count-sized on
    // top of dedup_near_keep's banded candidates
    "dedup_near_keep_verified")

  /** EXTERNAL fixed-size probe batch for the ANN measurement rows: a
    * real search workload's probe count is set by QUERY traffic, not by
    * corpus size, but the gate fixtures model probes as `vec_id % 100`
    * (corpus-proportional — the right shape for an ORACLE, which needs
    * probes the DuckDB twin can reproduce from the tables). Measuring
    * with those fixtures makes every ANN ratio probe-count arithmetic
    * (138× wall that is really flat-per-probe needed a footnote to
    * read). These ledger-only twins hold the probe batch at 1,000
    * deterministic synthetic vectors (hash-uniform in the embedding
    * domain, ids disjoint from any corpus) at EVERY scale, so the
    * ledger ratio IS the per-probe law. Correctness of the underlying
    * operators stays oracle-checked through the gate twins — these
    * entries exist to be timed. */
  val FixedProbeCount = 1000

  private def syntheticProbes(s: SparkSession): DataFrame =
    s.range(FixedProbeCount).select(
      (col("id") + 900000000L).as("probe_id"),
      transform(sequence(lit(1), lit(64)), d =>
        ((pmod(xxhash64(col("id"), d.cast("long"), lit(777)),
            lit(1048576L)).cast("double") / 1048576.0 - 0.5) * 1.1)
          .cast("float")).as("probe_vec"))

  /** Measurement-only queries resolvable by name like gate queries;
    * each rides the same persisted artifacts as its gate twin. */
  val LedgerOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      // The one-shot contrast row: untrained exact-cosine IVF with
      // C = ⌈√N⌉ derived in-query (IvfAutoC = 0). Its SEARCH is 3√N
      // exact distances per probe, but having no persisted artifact it
      // pays the N·C ∝ N^1.5 corpus-assignment (index build) inside
      // every run — measured 19.5× per-probe at 100× rows vs the
      // trained fixed-C=8 PQ family's 10.3× riding ModelStore
      // artifacts. The pair is the measured argument for train-once
      // quantizers at 100 TB: the one-shot path's wall is build, not
      // search.
      "knn_ivf_p1k" -> ((s, dir) =>
        graft.operators.SimilarityOps.ivfKnn(syntheticProbes(s),
          SimilarityGate.embCorpus(s, dir), SimilarityGate.KnnK,
          centroidTarget = SimilarityGate.IvfAutoC,
          nprobe = SimilarityGate.IvfNprobe)),
      "knn_ivf_pq_residual_p1k" -> ((s, dir) =>
        graft.operators.SimilarityOps.ivfPqResidualSearch(
          syntheticProbes(s), SimilarityGate.embCorpus(s, dir),
          SimilarityGate.pqResIndex(s, dir), SimilarityGate.KnnK,
          SimilarityGate.coarseCentroids(s, dir), SimilarityGate.pqResBooks(s, dir),
          SimilarityGate.PqSubDim, nprobe = SimilarityGate.IvfNprobe,
          rerank = SimilarityGate.PqRerank)),
      // The COMMITTED default (r17 verdict ask #4, default since r19):
      // auto-C coarse quantizer, residual books trained against IT
      // (residual coding is coarse-dependent), auto rerank depth — the
      // configuration SCALING.md prescribes for 100 TB: train-once
      // artifacts whose coarse C tracks the corpus (per-probe scan
      // ∝ √N). Gate twin: knn_ivf_pq_autoc (oracle-checked). The
      // fixed-C/fixed-120 row above stays as the contrast.
      "knn_ivf_pq_residual_autoc_p1k" -> ((s, dir) =>
        graft.operators.SimilarityOps.ivfPqResidualSearch(
          syntheticProbes(s), SimilarityGate.embCorpus(s, dir),
          SimilarityGate.pqResIndexAuto(s, dir), SimilarityGate.KnnK,
          SimilarityGate.coarseCentroidsAuto(s, dir),
          SimilarityGate.pqResBooksAuto(s, dir),
          SimilarityGate.PqSubDim, nprobe = SimilarityGate.IvfNprobe,
          rerank = SimilarityGate.PqAutoRerank)),
      // The variant-cap ×4 LEVER twin of the `simhash_recall` gate
      // contract (r17 verdict ask #5: price whether the Heaps-100x
      // 10.9-point simhash loss is purchasable by cap alone). It is —
      // recall 1.000 vs 0.891 under honest diversity, for 1.14x the
      // contract wall at Heaps-100x (287.7 vs 252.0 s scaled_run2) and
      // 1.46x at base (6.84 vs 4.70 s), per the committed
      // SCALING_LEDGER_HEAPS — and r18 REJECTED it as the blanket
      // default anyway:
      // the same raise on the near-agreement-SATURATED 100x default
      // fixture grew the rescue's equi-join work ~16x per admitted
      // bucket and exhausted 77 GB of shuffle on a 2.1 GB input
      // (sf10 simhash_near_dup, mid-run disk-full). The lever stays
      // per-call (DedupOps.SimVariantCap, keyed to the committed
      // n_over_variant_cap switch signal); this row keeps BOTH facts
      // regenerable: its recall column is the keep case, and any
      // attempt to re-default it must survive the default-fixture
      // 100x ledger this row's near_dup sibling runs in.
      "simhash_recall_vc4" -> { (s, dir) =>
        val sig = graft.operators.DedupOps.simhash(
            graft.io.ParquetSchema.read(s, s"$dir/documents.parquet"), "doc_id", "text")
          .localCheckpoint(true)
        def form(cap: Int, vcap: Int) =
          graft.operators.DedupOps.simhashCandidatesFromSig(sig, "doc_id",
            DedupGate.SimhashMaxHamming, maxBucket = cap,
            variantCap = vcap).localCheckpoint(true)
        val exact = form(Int.MaxValue, Int.MaxValue)
        val capped = form(DedupGate.SimhashRecallCap,
          graft.operators.DedupOps.SimVariantCap)
        val hits = exact.intersect(capped)
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      },
      // The PRE-FLIP committed pipeline kept measured (r20: the
      // budgeted escalation became the default, so `simhash_recall`
      // now reads the escalated pipeline — this twin pins the regime
      // the default LEFT, the r19 committed configuration whose
      // Heaps-100x recall was 0.891, so the flip's benefit stays a
      // regenerable contrast rather than a changelog claim). Forced
      // level-1 cap, production variantCap, escalation opted out.
      // (`simhash_recall_auto` is a GATE contract since r20 —
      // SparkEntry's entry shadows ledger-only definitions — with
      // BOTH caps forced so the admission cut fires at gate scale.)
      "simhash_recall_noesc" -> { (s, dir) =>
        val sig = graft.operators.DedupOps.simhash(
            graft.io.ParquetSchema.read(s, s"$dir/documents.parquet"), "doc_id", "text")
          .localCheckpoint(true)
        def form(cap: Int) =
          graft.operators.DedupOps.simhashCandidatesFromSig(sig, "doc_id",
            DedupGate.SimhashMaxHamming, maxBucket = cap,
            escalateBudget = 0).localCheckpoint(true)
        val exact = form(Int.MaxValue)
        val capped = form(DedupGate.SimhashRecallCap)
        val hits = exact.intersect(capped)
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      },
      "knn_ivf_incremental_p1k" -> { (s, dir) =>
        // Same arrival construction as the gate twin (every 20th vector,
        // last component zeroed, appended without retraining); only the
        // probe batch is the fixed external one.
        val emb = SimilarityGate.embCorpus(s, dir)
        val arrivals = emb.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec"))
        val merged = emb.unionByName(arrivals)
        val mergedIndex = graft.operators.SimilarityOps.ivfAppend(
          SimilarityGate.pqResIndex(s, dir), arrivals,
          SimilarityGate.coarseCentroids(s, dir), SimilarityGate.pqResBooks(s, dir),
          SimilarityGate.PqSubDim)
        graft.operators.SimilarityOps.ivfPqResidualSearch(syntheticProbes(s),
          merged, mergedIndex, SimilarityGate.KnnK,
          SimilarityGate.coarseCentroids(s, dir), SimilarityGate.pqResBooks(s, dir),
          SimilarityGate.PqSubDim, nprobe = SimilarityGate.IvfNprobe,
          rerank = SimilarityGate.PqRerank)
      })

  /** Probe batch sizes for the per-probe JSON fields — the ANN rows
    * only. Keyed by the `knn_` prefix, NOT all of [[LedgerOnlyQueries]]:
    * that map also carries counts-contract lever twins
    * (`simhash_recall_vc4`), whose one-row (n_exact, n_capped, n_hit)
    * shape has no probe_id and goes through [[countsRecall]] instead —
    * feeding one to [[annRecall]] is an AnalysisException at the end of
    * a full ledger run. */
  val ProbeCounts: Map[String, Int] =
    LedgerOnlyQueries.keys.filter(_.startsWith("knn_"))
      .map(_ -> FixedProbeCount).toMap

  /** Rows whose second-decade law depends on VOCABULARY growth: on the
    * default generator (fixed ~31-word vocab, df ∝ n) their 100× ratios
    * measure the fixture saturating, not the operator — the
    * authoritative second-decade number for each lives in the
    * Heaps-law ledger (`run_scaling_heaps.sh` →
    * `SCALING_LEDGER_HEAPS.json`, V = V₀·mult^0.5). Every such row is
    * tagged in the emitted JSON so a reader of the default-fixture
    * ledger cannot mistake a saturation artifact for an operator law
    * (r14 ask #4 / r15 verdict missing-item 2). */
  val DiversitySensitive: Set[String] = Set(
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_exact", "jaccard_df_ledger",
    "fuzzy_name_match", "fuzzy_block_ledger",
    "dedup_minhash_lsh", "dedup_lsh_bucket_ledger",
    "dedup_minhash_recall", "dedup_minhash_recall_r8",
    "dedup_incremental_candidates", "dedup_near_keep",
    "dedup_near_keep_verified",
    "tfidf_top_terms", "bigram_counts", "bigram_lm_scores",
    "bpe_token_counts", "boilerplate_dict_train", "boilerplate_scrub",
    "dedup_token_yield", "doc_commonness", "hybrid_search_rrf",
    "simhash_near_dup", "simhash_bucket_ledger",
    "dedup_substring", "substring_scrub", "sequence_pack_plan_bpe")

  /** Gate rows that RETURN recall counts as one row (truth count first,
    * hit count last): their recall_base/recall_scaled come from the row
    * itself — one extra untimed execution per scale (r16 verdict ask
    * #3: the Heaps ledger had fixture tags but no recall columns, so
    * banding recall under honest vocabulary growth was unmeasured). */
  val CountsRecallQueries: Set[String] = Set(
    "dedup_minhash_recall", "dedup_minhash_recall_r8",
    "simhash_recall", "simhash_recall_window", "simhash_recall_vc4",
    "simhash_recall_auto", "simhash_recall_noesc", "session_topk_recall")

  /** (truth, hit) read from a counts-contract row — untimed evidence
    * pass, after all timing like [[annRecall]]. */
  def countsRecall(s: SparkSession, dir: String, name: String): (Long, Long) = {
    // Columns resolved BY NAME, not position: the five contract rows
    // share "truth is n_true or n_exact, hits are n_hit" but differ in
    // their middle columns, and a silent positional read would turn any
    // future reshape of one gate query into wrong recall_base/
    // recall_scaled fields instead of a loud failure here.
    val df = resolve(name)(s, dir)
    val truthCol = df.columns.find(c => c == "n_true" || c == "n_exact")
      .getOrElse(sys.error(
        s"countsRecall($name): no n_true/n_exact column in ${df.columns.mkString(",")}"))
    require(df.columns.contains("n_hit"),
      s"countsRecall($name): no n_hit column in ${df.columns.mkString(",")}")
    val r = df.head()
    graft.ToolSession.clearStorage(s)
    (r.getLong(r.fieldIndex(truthCol)), r.getLong(r.fieldIndex("n_hit")))
  }

  /** recall@k of a fixed-probe ANN twin vs the brute-force truth over
    * the SAME corpus it searched (merged corpus for the incremental
    * row), as (n_true, n_hit). Untimed evidence pass — the truth cost
    * is bounded by the fixed 1,000-probe batch (probes × N exact
    * distances through the codegen'd kernel), which is exactly why the
    * probe batch being fixed makes recall affordable at EVERY ledger
    * scale (r14 ask #5: per-probe ms without recall at the same scale
    * could be "fast because it probes nothing"). */
  def annRecall(s: SparkSession, dir: String, name: String): (Long, Long) = {
    val corpus =
      if (name == "knn_ivf_incremental_p1k") {
        val emb = SimilarityGate.embCorpus(s, dir)
        val arrivals = emb.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec"))
        emb.unionByName(arrivals)
      } else SimilarityGate.embCorpus(s, dir)
    val truth = graft.operators.SimilarityOps.bruteForceKnn(
        syntheticProbes(s), corpus, SimilarityGate.KnnK)
      .select(col("probe_id"), col("vec_id"))
    val c = LedgerOnlyQueries(name)(s, dir)
      .select(col("probe_id"), col("vec_id"))
      .dropDuplicates("probe_id", "vec_id").localCheckpoint(true)
    val r = truth.join(c.withColumn("__c", lit(1)),
        Seq("probe_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("__c")).as("n_hit"))
      .head()
    graft.ToolSession.clearStorage(s)
    (r.getLong(0), r.getLong(1))
  }

  private def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, LedgerOnlyQueries(name))

  private case class Row(query: String, run1: Double, run2: Double, rows: Long)

  private def timeQuery(spark: SparkSession, name: String, dir: String): Row = {
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val n = resolve(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // Inter-query storage hygiene (ToolSession.clearStorage): the
    // scaled phase runs LAST, so leaked localCheckpoint blocks would
    // bias the published ratios against the scaled runs. Outside the
    // timed region.
    graft.ToolSession.clearStorage(spark)
    Row(name, runs(0)._1, runs(1)._1, runs(1)._2)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaledDir = if (args.length > 1) args(1) else "/tmp/graft_testdata/sf1"
    val mult = if (args.length > 2) args(2).toDouble else 10.0
    val jsonOut = if (args.length > 3) args(3) else "SCALING_LEDGER.json"
    val names = if (args.length > 4) args.drop(4).toSeq else DefaultQueries
    // Which generator produced the SCALED corpus — stamped per-row so
    // the JSON is self-describing ("default" = fixed-vocab GenData,
    // "heaps" = diversity-scaled; set by the run scripts).
    val fixture = sys.env.getOrElse("GRAFT_LEDGER_FIXTURE", "default")
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    val missing = names.filterNot(n =>
      SparkEntry.queries.contains(n) || LedgerOnlyQueries.contains(n))
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    // Sacrificial warm-up row per scale (r19 verdict ask #3): subset
    // regens used to put the scaled corpus' one-time warm-up (JIT,
    // shuffle machinery, page cache of a 100x parquet tree) on the
    // FIRST timed row — measured 2-20x timing swings on unchanged code
    // (an autoc PQ row read 19.4 ms in a 7-row subset regen vs 2.2 ms
    // in the same-day full regen; recall columns were regen-stable, so
    // no decision was wrong, but the subset timing columns lied). One
    // discarded execution of the first query at each scale absorbs it.
    names.headOption.foreach { n =>
      System.err.println(s"warm-up (discarded): $n at both scales")
      resolve(n)(spark, baseDir).count()
      resolve(n)(spark, scaledDir).count()
      graft.ToolSession.clearStorage(spark)
    }
    // (Placed BEFORE the cold-models wipe so a warm-up-trained
    // artifact cannot hide the first query's run1-run2 train cost.)

    if (sys.env.get("GRAFT_LEDGER_COLD_MODELS").contains("1")) {
      // Cold-train evidence mode: wipe the persisted artifact warehouse
      // so every ModelStore train is paid inside this run's run1 and
      // the reported run1−run2 one-time costs are reproducible. The
      // store is a cache by contract (retrain iff the corpus
      // fingerprint moves), so deletion is always safe — just slow.
      val root = graft.io.ModelStore.defaultRoot
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val n = if (fs.exists(p))
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, "models/*")))
          .map(_.length).getOrElse(0)
      else 0
      val deleted = fs.exists(p) && fs.delete(p, true)
      System.err.println(
        s"cold-models: ${if (deleted) s"deleted $n artifact(s) under" else "nothing persisted at"} $root")
    }

    val base = names.map { n => val r = timeQuery(spark, n, baseDir); System.err.println(f"base   ${r.query}%-32s run2=${r.run2}%7.3fs"); r }
    val scaled = names.map { n => val r = timeQuery(spark, n, scaledDir); System.err.println(f"scaled ${r.query}%-32s run2=${r.run2}%7.3fs"); r }
    // Untimed recall evidence for every ANN twin in the run, at BOTH
    // scales (after all timing — the brute-force truth pass must not
    // warm or contend with the measured rows).
    val annNames = names.filter(ProbeCounts.contains)
    val countsNames = names.filter(CountsRecallQueries.contains)
    val recall: Map[(String, String), (Long, Long)] =
      (annNames.map(n => (n, "base") -> annRecall(spark, baseDir, n)) ++
       annNames.map(n => (n, "scaled") -> annRecall(spark, scaledDir, n)) ++
       countsNames.map(n => (n, "base") -> countsRecall(spark, baseDir, n)) ++
       countsNames.map(n => (n, "scaled") -> countsRecall(spark, scaledDir, n))).toMap
    recall.toSeq.sortBy(_._1).foreach { case ((n, side), (t, h)) =>
      System.err.println(f"recall $n%-32s $side%-6s $h/$t")
    }
    // CONTRACTS rule (r18, from the r17 verdict's ask #8): the
    // committed ANN default's off-manifold floor is a CHECKED bound,
    // not a SCALING.md sentence — any 100x default-fixture regen that
    // includes the committed-default row must clear its recall@5 floor
    // on the external synthetic probes (recall counts are
    // deterministic, so the floor carries no run-to-run variance).
    if (mult >= 100 && fixture == "default") {
      // §16 floors are DERIVED FRACTIONS of the committed measurement
      // they guard, not free constants (r19 verdict ask #4): 0.9 x the
      // regen that set them, so a deliberate fixture or k-means-iters
      // change re-derives the margin from its new measurement instead
      // of silently re-tuning against a stale absolute. Counts are
      // deterministic (bit-for-bit across three r19 regens); the 10%
      // band absorbs intentional small re-derivations, never ambient
      // variance.
      // Measured at the r19 residual-flip regen (commit ab190c3,
      // SCALING_LEDGER_100X.json): committed default (residual +
      // auto-C/auto-rerank) 0.1996.
      val residualAutocMeasured = 0.1996
      recall.get(("knn_ivf_pq_residual_autoc_p1k", "scaled")).foreach {
        case (t, h) =>
          val r = h.toDouble / t
          require(r >= 0.9 * residualAutocMeasured,
            f"committed ANN default (residual autoc) off-manifold " +
              f"recall@5 $r%.4f < 0.9 x measured $residualAutocMeasured " +
              f"(= ${0.9 * residualAutocMeasured}%.4f) at 100x — the " +
              "default has regressed, do not commit this ledger")
      }
    }
    spark.stop()

    val paired = base.zip(scaled)
    println(s"\n## Measured ledger (base=$baseDir, scaled=$scaledDir, ${mult}x rows, warm run2 of 2, local[$cpus])\n")
    println("| Query | base s | scaled s | ratio | scaled rows |")
    println("|---|---|---|---|---|")
    paired.foreach { case (b, s) =>
      // ASCII only: stdout charset on a bare JVM mangles multibyte glyphs.
      println(f"| `${b.query}` | ${b.run2}%.2f | ${s.run2}%.2f | ${s.run2 / math.max(b.run2, 1e-9)}%.1fx | ${s.rows} |")
    }
    val trainRows = paired.collect { case (b, s) if s.run1 - s.run2 > 1.0 => f"`${b.query}` ${s.run1 - s.run2}%.1f s" }
    if (trainRows.nonEmpty)
      println(s"\nOne-time (run1 - run2 at scaled, model-store training etc.): ${trainRows.mkString(", ")}")

    // Per-probe law printed first-class for the fixed-probe ANN rows.
    paired.filter(p => ProbeCounts.contains(p._1.query)).foreach { case (b, s) =>
      val n = ProbeCounts(b.query)
      println(f"\n`${b.query}`: per-probe ${b.run2 * 1000 / n}%.2f ms base -> ${s.run2 * 1000 / n}%.2f ms scaled ($n probes both scales)")
    }

    val json = paired.map { case (b, s) =>
      // Recall fields for any query with measured recall evidence —
      // the fixed-probe ANN twins (recall vs brute truth, recall_k
      // tagged) and the counts-contract rows (recall from their own
      // (truth, …, hit) row, no k — the contract defines the truth).
      val recallFields = (recall.get((b.query, "base")),
          recall.get((b.query, "scaled"))) match {
        case (Some((tb, hb)), Some((ts, hs))) =>
          val kTag = if (ProbeCounts.contains(b.query))
            s""","recall_k":${SimilarityGate.KnnK}""" else ""
          f""","recall_base":${hb.toDouble / math.max(tb, 1L)}%.4f,"recall_scaled":${hs.toDouble / math.max(ts, 1L)}%.4f$kTag"""
        case _ => ""
      }
      val probeFields = ProbeCounts.get(b.query).fold(recallFields) { n =>
        f""","probes":$n,"per_probe_ms_base":${b.run2 * 1000 / n}%.3f,"per_probe_ms_scaled":${s.run2 * 1000 / n}%.3f$recallFields"""
      }
      val fixtureTag =
        if (DiversitySensitive(b.query))
          s""","fixture":"$fixture","diversity_sensitive":true"""
        else s""","fixture":"$fixture""""
      f""""${b.query}":{"base_run2":${b.run2}%.3f,"scaled_run2":${s.run2}%.3f,"ratio":${s.run2 / math.max(b.run2, 1e-9)}%.2f,"base_rows":${b.rows},"scaled_rows":${s.rows},"base_run1":${b.run1}%.3f,"scaled_run1":${s.run1}%.3f$probeFields$fixtureTag}"""
    }.mkString(",")
    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(s"""{"base_dir":"$baseDir","scaled_dir":"$scaledDir","mult":$mult,"cpus":$cpus,"fixture":"$fixture","queries":{$json}}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
  }
}
