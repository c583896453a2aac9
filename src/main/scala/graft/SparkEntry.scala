package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * over the driver's parquet testdata; [[oracleSql]] holds the equivalent
  * DuckDB SQL. Column names are aliased identically on both sides (the
  * driver sorts columns by name before hashing).
  *
  * Determinism note: aggregates over doubles are computed via exact
  * decimal casts then cast back to double, so Spark's and DuckDB's
  * summation orders cannot produce differing floats (SURVEY.md §7.4).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def model(s: SparkSession, dir: String, name: String,
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

  /** Trained-BPE dictionary artifact (word, cnt, symbolization). */
  private def bpeDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"bpe_dict_m$BpeMerges", "documents")(
      TextOps.bpeTrain(t(s, dir, "documents"), "text", BpeMerges))

  /** The web-pipeline crawl corpus after HTML strip (shared by the
    * pipeline query and its boilerplate-dictionary trainer). */
  private def webCleaned(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val raw = t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat_ws(" ",
        when(col("doc_id") % 2 === 0,
          concat(lit("<div class=\"post\"><p>"), col("text"),
            lit("</p>&nbsp;<a href=\"#\">Read&amp;more</a></div>")))
          .otherwise(col("text")),
        lit(BoilerFooter)).as("html"))
    raw.select(col("doc_id"), col("source"),
      TextFunctions.cleanHtml(col("html")).as("text"))
  }

  /** Corpus-frequency boilerplate dictionary artifacts (tile_hash, df) —
    * trained once per corpus snapshot, scrubbed-against many times
    * ([[TextOps.boilerplateDict]]); deterministic projections of
    * documents.parquet, so the corpus fingerprint keys them exactly. */
  private def webBoilerDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"boiler_dict_web_w${BoilerTileWidth}_df$BoilerMinDf",
      "documents")(TextOps.boilerplateDict(webCleaned(s, dir),
      "doc_id", "text", BoilerTileWidth, BoilerMinDf))

  private def plantedBoilerCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat_ws(" ", col("text"), lit(BoilerFooter)).as("text"))

  private def plantedBoilerDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"boiler_dict_planted_w${BoilerTileWidth}_df$BoilerMinDf",
      "documents")(TextOps.boilerplateDict(plantedBoilerCorpus(s, dir),
      "doc_id", "text", BoilerTileWidth, BoilerMinDf))

  /** Messy-URL synthesis shared by url_canonicalize / url_dedup: four
    * surface variants per logical page (doc_id div 4) — mixed-case
    * scheme/host with default port, missing www, trailing slash,
    * tracking params + fragment — and 1-in-5 pages carry a meaningful
    * `?q=` param that must SURVIVE canonicalization while the tracking
    * noise around it is stripped. The oracle rebuilds the identical
    * strings, so hash agreement proves the whole canonicalizer. */
  private def docsWithUrls(s: SparkSession, dir: String): DataFrame = {
    val p = expr("doc_id div 4")
    val hs = (p % 20).cast("string")
    val ps = p.cast("string")
    val keep = when(p % 5 === 0, concat(lit("?q=w"), (p % 7).cast("string")))
      .otherwise(lit(""))
    val base = concat(lit("https://www.src"), hs, lit(".example.com/page/"), ps)
    val v = col("doc_id") % 4
    val url = when(v === 0, concat(base, keep))
      .when(v === 1, concat(lit("HTTPS://WWW.Src"), hs,
        lit(".Example.COM:443/page/"), ps, keep))
      .when(v === 2, concat(lit("https://src"), hs,
        lit(".example.com/page/"), ps, lit("/"), keep))
      .otherwise(concat(base,
        when(keep === "", lit("?utm_source=feed&fbclid=f"))
          .otherwise(concat(keep, lit("&utm_source=feed&fbclid=f"))),
        ps, lit("#sec")))
    t(s, dir, "documents").select(col("doc_id"), url.as("url"))
  }

  private[graft] def embCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("vec"))

  /** Deterministic OFF-MANIFOLD probe batch for the gate recall
    * contract: probe p's component d is
    * `((hash60("omp:p:d") % 2^20) / 2^20 - 0.5) * OffManifoldAmp` cast
    * through FLOAT — md5-derived (the kmeans-seed arithmetic), so the
    * DuckDB oracle synthesizes bit-identical floats (every value has
    * <= 22 significant bits: the float cast is exact). Amplitude 4x the
    * corpus envelope (~[-0.58, 0.52] at both gate scales) puts every
    * probe far off the embedding manifold — the regime where ADC
    * ranking noise binds and fixed rerank depths collapse (r16). Ids
    * at 900000000+ never collide with corpus ids. */
  private[graft] def offManifoldProbes(s: SparkSession): DataFrame =
    s.range(OffManifoldProbeCount).select(
      (col("id") + 900000000L).as("probe_id"),
      transform(sequence(lit(1), lit(64)), d =>
        (((graft.functions.TextFunctions.hash60(concat(lit("omp:"),
            col("id").cast("string"), lit(":"), d.cast("string")))
          % 1048576L).cast("double") / 1048576.0 - 0.5) * OffManifoldAmp)
          .cast("float")).as("probe_vec"))

  /** Lloyd-refined coarse quantizer artifact (cent_id, cent_vec,
    * n_members) — shared by every trained-quantizer query. */
  private[graft] def coarseCentroids(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"kmeans_coarse_k${KmeansK}_i$KmeansIters", "embeddings") {
      val corpus = embCorpus(s, dir)
      val initial = SimilarityOps.ivfCentroids(corpus, KmeansK)
        .select(col("cent_id"),
          transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      ClusterOps.kmeans(corpus, initial, KmeansIters)
    }

  /** Raw-vector PQ sub-codebooks artifact (sub, cent_id, cent_vec). */
  private[graft] def pqBooks(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"pq_books_m${PqM}_ks${PqKs}_i$PqIters", "embeddings")(
      SimilarityOps.pqCodebooks(embCorpus(s, dir), PqM, PqSubDim, PqKs,
        PqIters))

  /** Residual PQ sub-codebooks artifact (trained on vec − coarse cell). */
  private[graft] def pqResBooks(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"pq_res_books_k${KmeansK}_m${PqM}_ks${PqKs}_i$PqIters",
        "embeddings")(
      SimilarityOps.pqResidualCodebooks(embCorpus(s, dir),
        coarseCentroids(s, dir), PqM, PqSubDim, PqKs, PqIters))

  /** Residual IVF-PQ coded index artifact. */
  private[graft] def pqResIndex(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"ivfpq_res_index_k${KmeansK}_m${PqM}_ks${PqKs}", "embeddings")(
      SimilarityOps.ivfPqResidualIndex(embCorpus(s, dir),
        coarseCentroids(s, dir), pqResBooks(s, dir), PqSubDim))

  /** Residual PQ sub-codebooks trained against the AUTO-C coarse
    * quantizer. Residual books are a FUNCTION of the coarse quantizer —
    * training them against C = ⌈√N⌉ cells is what
    * makes the residual family's committed scale policy measurable
    * (`knn_ivf_pq_residual_autoc_p1k`, r17 verdict ask #4). */
  private[graft] def pqResBooksAuto(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"pq_res_books_auto_m${PqM}_ks${PqKs}_i$PqIters", "embeddings")(
      SimilarityOps.pqResidualCodebooks(embCorpus(s, dir),
        coarseCentroidsAuto(s, dir), PqM, PqSubDim, PqKs, PqIters))

  /** Residual IVF-PQ coded index against the auto-C coarse quantizer. */
  private[graft] def pqResIndexAuto(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"ivfpq_res_index_auto_m${PqM}_ks${PqKs}", "embeddings")(
      SimilarityOps.ivfPqResidualIndex(embCorpus(s, dir),
        coarseCentroidsAuto(s, dir), pqResBooksAuto(s, dir), PqSubDim))

  /** Corpus-tracking coarse quantizer artifact: C = ⌈√N⌉ derived from
    * the corpus count at TRAIN time (the `ivfCentroids` auto path),
    * Lloyd-refined like [[coarseCentroids]]. The scale story the fixed
    * C = [[KmeansK]] family can't tell: with fixed C the per-probe ADC
    * scan is nprobe·N/C ∝ N; at C ∝ √N it is ∝ √N — the measured
    * ledger contrast behind SCALING.md's 100 TB prescription. Kept as a
    * SEPARATE artifact family (auto key) so the C = 8 gate entries stay
    * byte-stable. */
  private[graft] def coarseCentroidsAuto(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"kmeans_coarse_auto_i$KmeansIters", "embeddings") {
      val corpus = embCorpus(s, dir)
      val initial = SimilarityOps.ivfCentroids(corpus, IvfAutoC)
        .select(col("cent_id"),
          transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      ClusterOps.kmeans(corpus, initial, KmeansIters)
    }

  /** Spam-planted training corpus for the trained quality model: every
    * document (label 1) paired with a junk-suffixed copy at
    * doc_id + 20000000 (label 0) — balanced classes, and the clean/spam
    * twins share their base text so non-spam feature buckets cancel
    * exactly in the first gradient step. */
  private[graft] def spamPlantedDocs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    base.unionByName(base.select(
      (col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" " + SpamTokens)).as("text")))
  }

  private[graft] def spamLabels(s: SparkSession, dir: String): DataFrame =
    spamPlantedDocs(s, dir).select(col("doc_id"),
      when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y"))

  /** Trained quality-gate weights artifact (bucket, w) — Q16 longs.
    * The planted spam lexicon is part of the training definition, so
    * its digest is part of the artifact key. */
  private def qualityWeights(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"quality_lr_d${QualityModelOps.NumBuckets}_s${QmSteps}_" +
          org.apache.commons.codec.digest.DigestUtils.md5Hex(SpamTokens)
            .take(8), "documents")(
      QualityModelOps.train(s,
        QualityModelOps.hashedFeatures(spamPlantedDocs(s, dir), "doc_id", "text"),
        spamLabels(s, dir), "doc_id", QmSteps))

  /** Deterministic pair-stable 1-in-[[QmSampleMod]] sample of the
    * spam-planted corpus: the sampling key is the BASE id
    * (doc_id % 20000000 — an original and its spam copy share it), so
    * the sample keeps whole label pairs and stays balanced. This is the
    * bounded-sample training path the 100x ledger motivates (full-batch
    * train measured 208 s one-time at 1 M docs; sample cost drops by
    * the mod while gate agreement is MEASURED in-gate, not assumed —
    * `quality_sampled_agreement`). */
  private def spamSampledDocs(s: SparkSession, dir: String): DataFrame =
    spamPlantedDocs(s, dir).filter(
      graft.functions.TextFunctions.hash60(
        (col("doc_id") % 20000000L).cast("string")) % QmSampleMod === 0)

  /** Sample-trained quality weights — identical recurrence, sampled
    * corpus, its own ModelStore artifact (the sample mod is part of the
    * training definition, so it is part of the key). */
  private def qualityWeightsSampled(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"quality_lr_d${QualityModelOps.NumBuckets}_s${QmSteps}_m${QmSampleMod}_" +
          org.apache.commons.codec.digest.DigestUtils.md5Hex(SpamTokens)
            .take(8), "documents")(
      QualityModelOps.train(s,
        QualityModelOps.hashedFeatures(spamSampledDocs(s, dir), "doc_id", "text"),
        spamSampledDocs(s, dir).select(col("doc_id"),
          when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y")),
        "doc_id", QmSteps))

  /** Recall-contract counts at a given banding: exact-Jaccard truth
    * pairs (Θ(n²) by construction — the measurement's price), banded
    * candidate pairs, and their overlap, as one row of integer counts.
    * See the in-body comment for why only `cand` is checkpointed. */
  private def minhashRecallCounts(s: SparkSession, dir: String,
      bands: Int): DataFrame = {
    // The truth side is exact all-pairs Jaccard — Θ(n²) by contract —
    // so the measurement runs on a deterministic 1-in-RecallSampleMod
    // doc sample keyed on the PAIR-STABLE base id (a planted copy and
    // its original share doc_id % 10000000, so sampling keeps whole
    // pairs and recall on the sample estimates recall on the corpus
    // while the truth cost drops mod²). Mirrors the oracle's sampled t0.
    val docs = plantedDocs(s, dir).filter(
      graft.functions.TextFunctions.hash60(
        (col("doc_id") % 10000000L).cast("string")) % RecallSampleMod === 0)
    // The quadratic truth set flows through EXACTLY ONE aggregation:
    // n_true and n_hit come from the same left join (count of all rows
    // vs count of candidate-flagged rows), so the all-pairs join is
    // neither executed twice (Catalyst reuses exchanges, not join
    // results) nor materialized (checkpointing the pair set measured
    // SLOWER than one clean pass at sf1). Only the far smaller banded
    // candidate set, which feeds two branches, is checkpointed.
    val truth = DedupOps.ngramJaccardDense(docs, "doc_id", "text",
      NgramMinJaccard).select(col("id_a"), col("id_b"))
    val cand = DedupOps.minhashCandidates(docs, "doc_id", "text", bands)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    truth.join(cand.withColumn("__c", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("__c")).as("n_hit"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .select(col("n_true"), col("n_candidates"), col("n_hit"))
  }

  /** Recall-contract counts shared by the ANN recall entries: brute-force
    * truth (probes vs full embeddings corpus) left-joined with an
    * approximate candidate frame, one row of integer counts. Truth flows
    * through exactly one aggregation; only the small candidate set,
    * which feeds two branches, is checkpointed. `candCountCol` names the
    * middle column (the approximate side's pair count). */
  private def knnRecallCounts(s: SparkSession, dir: String,
      candCountCol: String, probesOpt: Option[DataFrame] = None)(
      cand: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val probes = probesOpt.getOrElse(
      emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec")))
    val truth = SimilarityOps.bruteForceKnn(probes, corpus, KnnK)
      .select(col("probe_id"), col("vec_id"))
    // The counting contract requires the candidate frame UNIQUE on
    // (probe_id, vec_id) — a duplicate pair would fan out the left join
    // and silently inflate both n_true and n_hit. Today's searchers all
    // emit ranked top-k (unique by construction); the dropDuplicates
    // pins the contract in code for every future recall entry and plans
    // as a no-op-cheap partial agg on an already-small frame.
    val c = cand(probes, corpus)
      .select(col("probe_id"), col("vec_id"))
      .dropDuplicates("probe_id", "vec_id").localCheckpoint(true)
    truth.join(c.withColumn("__c", lit(1)),
        Seq("probe_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("__c")).as("n_hit"))
      .crossJoin(c.agg(count(lit(1)).as(candCountCol)))
      .select(col("n_true"), col(candCountCol), col("n_hit"))
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
  private def contractCounts(exact: DataFrame, bounded: DataFrame,
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

  /** Thresholded banded-MinHash candidate pairs — the sub-quadratic
    * candidate stage the whole CC family feeds from (the same
    * (band, bkey) bucket join as `dedup_minhash_lsh`; its DuckDB twin
    * is [[Oracles.minhashPairs]]). All-pairs exact Jaccard stays
    * available as the `_exact` truth entries only. */
  private def bandedPairs(docs: DataFrame): DataFrame =
    DedupOps.minhashCandidates(docs, "doc_id", "text",
        bands = DedupOps.K / Oracles.CcR, distinctPairs = false)
      .filter(col("est_jaccard") >= MinhashMinEst)
      .select(col("id_a"), col("id_b"))

  /** Planted near-duplicate corpus for the dedup demonstrations: every
    * 10th document plus an 80%-prefix truncated copy at doc_id+10000000 —
    * the Spark side of [[Oracles.plantedDocs]]. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    base.unionByName(base.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      expr("substring(text, 1, (length(text) * 4) div 5)").as("text")))
  }

  /** Realistic-vocabulary twin of [[plantedDocs]] for the prefix-Jaccard
    * gate: token j is remapped to `w{hash60(prev_cur) % 4096}` — a pure
    * projection that lifts the corpus's degenerate ~40-word vocabulary
    * to context-dependent hash words (the mapped UNIGRAM space is the
    * original bigram space, so mapped word-BIGRAM shingles carry
    * original TRIGRAM context: ~64 k values instead of ~1.6 k, df ~1).
    * Near-dup structure is preserved exactly — the 80%-prefix copy
    * shares every (prev, cur) context inside the shared prefix, so its
    * mapped text is the same 80% prefix. This is the regime the PPJoin
    * prefix filter exists for; on the raw dense-vocab corpus every
    * doc's "rarest" shingles still hit most docs and the filter prunes
    * nothing (measured 22.6x at 10x data vs ~linear here) — that form
    * stays measured as `dedup_ngram_jaccard_exact`. The [[Oracles
    * .realisticPlantedDocs]] SQL replays the identical md5 remap. */
  private def realisticVocabDocs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{hash60, normalized, tokens}
    plantedDocs(s, dir)
      .select(col("doc_id"), tokens(normalized(col("text"))).as("__toks"))
      .select(col("doc_id"), array_join(
        transform(sequence(lit(1), size(col("__toks"))), i =>
          concat(lit("w"), pmod(hash60(concat_ws("_",
            when(i === 1, lit("^")).otherwise(element_at(col("__toks"), i - 1)),
            element_at(col("__toks"), i))), lit(4096L)))), " ").as("text"))
  }

  /** Deterministic derived partsupp (the corpus ships none — see
    * [[Oracles.partsuppCte]] for the matching SQL, generated from the
    * same constants): 4 supplier rows per part, cost in integer CENTS. */
  private def derivedPartsupp(s: SparkSession, dir: String): DataFrame = {
    import Oracles._
    val nSupp = t(s, dir, "supplier").agg((max(col("s_suppkey")) + 1)
      .as("__n_supp"))
    t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(broadcast(nSupp))
      .select(col("p_partkey"), col("__n_supp"),
        explode(sequence(lit(0), lit(PsPerPart - 1))).as("i"))
      .select(col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * PsMulKey + col("i") * PsMulI) % col("__n_supp"))
          .as("ps_suppkey"),
        ((col("p_partkey") * PsQtyMulKey + col("i") * PsQtyMulI) %
          PsQtyMod + 1).as("ps_availqty"),
        ((col("p_partkey") * PsCostMulKey + col("i") * PsCostMulI) %
          PsCostMod + PsCostBase).as("ps_cost_cents"))
  }

  /** Staged "update" rows for the load-mode parity ops: every 7th order,
    * with a mutated status — the Spark side of the oracle's CTE. */
  private def stagedOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core semantic: key-based upsert merge (SURVEY.md §2.3
    * L3) of staged updates into the `orders` table. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    LoadOps.merge(t(spark, dir, "orders"), stagedOrders(spark, dir), "o_orderkey")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- load-mode family (reference L1-L3) ----
    "load_insert_append" -> ((s, dir) =>
      LoadOps.append(t(s, dir, "orders"), stagedOrders(s, dir))),

    "load_truncate_insert" -> ((s, dir) =>
      LoadOps.overwrite(stagedOrders(s, dir))),

    "load_upsert_merge" -> ((s, dir) =>
      LoadOps.merge(t(s, dir, "orders"), stagedOrders(s, dir), "o_orderkey")),

    // Reference wart preserved: duplicate staged ids all land (L3).
    "load_upsert_dup_keys" -> { (s, dir) =>
      val base = t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
      val s1 = base.withColumn("o_orderpriority", lit("X1"))
      val s2 = base.withColumn("o_orderpriority", lit("X2"))
      LoadOps.merge(t(s, dir, "orders"), s1.unionByName(s2), "o_orderkey")
    },

    // CDC derivation: classify keys across two snapshot versions (new
    // version = deletes every 10th key, restatuses every 7th, inserts
    // shifted copies of every 13th).
    "snapshot_diff" -> { (s, dir) =>
      val old = t(s, dir, "orders")
      val next = old.filter(col("o_orderkey") % 10 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("U")).otherwise(col("o_orderstatus")))
        .unionByName(old.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      LoadOps.snapshotDiff(old, next, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
    },

    // CDC application: tombstones ('D', every 10th key) delete; the rest
    // of the changed keys (every 5th) upsert with a mutated status.
    "apply_cdc" -> { (s, dir) =>
      val target = t(s, dir, "orders")
      val changes = target.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("C"))
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("I")))
      LoadOps.applyCdc(target, changes, "o_orderkey", "op")
    },

    // ---- row-level transforms (reference T1/T2: NDJSON encode/decode) ----
    "ndjson_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val line = docs.select(
        to_json(struct(docs.columns.map(col).toIndexedSeq: _*)).as("line"))
      line
        .select(from_json(col("line"), docs.schema).as("r"))
        .select("r.*")
    },

    // ---- aggregation (extension; decimal-exact for oracle parity) ----
    "q1_agg" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val dec = DecimalType(18, 2)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
            ).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order").cast("double"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order").cast("double"))
    },

    // TPC-H q6 shape: tight filtered aggregation — the predicate set
    // must reach the parquet scan as pushed filters.
    "q6_revenue_band" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(sum((col("l_extendedprice").cast(dec) *
          col("l_discount").cast(dec))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    "orders_by_month" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    },

    // ---- text analysis (north-star extensions; pure projections) ----
    "text_stats" -> ((s, dir) =>
      TextOps.textStats(t(s, dir, "documents"), "doc_id", "text")),

    "lang_id" -> ((s, dir) =>
      TextOps.langIdTable(t(s, dir, "documents"), "doc_id", "text")),

    "fingerprints" -> ((s, dir) =>
      TextOps.fingerprints(t(s, dir, "documents"), "doc_id", "text")),

    // Benchmark decontamination on a planted corpus: every 97th doc has
    // 120 chars of an eval doc appended (no natural 5-gram overlap in
    // the synthetic corpus), and the scan must flag exactly those.
    "decontamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 200 === 0)
      val corpus = docs.filter(col("doc_id") % 200 =!= 0)
        .withColumn("__ek", (col("doc_id") % 3) * 200)
        .join(evalSet.select(col("doc_id").as("__eid"), col("text").as("__etext")),
          col("__ek") === col("__eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 0,
            concat(col("text"), lit(" "), substring(col("__etext"), 1, 120)))
            .otherwise(col("text")).as("text"))
      TextOps.contaminatedDocs(corpus, evalSet, "doc_id", "text", n = 5)
    },

    // Per-LANGUAGE quality gating: each language keeps its docs above its
    // OWN p40 quality threshold — quality distributions differ across
    // languages, so one global cutoff over- or under-prunes (the standard
    // per-language calibration). Exact interpolated percentile, broadcast
    // thresholds, corpus scanned once.
    "quality_gate_by_lang" -> { (s, dir) =>
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      val thr = scored.groupBy(col("lang"))
        .agg(percentile(col("q"), lit(0.4)).as("q40"))
      scored.join(broadcast(thr), "lang")
        .filter(col("q") >= col("q40"))
        .select(col("doc_id"), col("lang"))
    },

    // Dedup token-yield accounting: how many documents/tokens survive
    // the cluster-minimum near-dedup keep list — the before/after line
    // every curation report leads with. One CC pass + two scalar
    // aggregates over whitespace token counts.
    "dedup_token_yield" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      // Tokenize-count ONCE for the before and after aggregates (two
      // narrow columns; the shingle-once pattern).
      val tok = docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.normalized(col("text"))))
          .cast("long").as("nt")).localCheckpoint(true)
      val kept = DedupOps.keepClusterMin(docs, bandedPairs(docs), "doc_id")
        .select(col("doc_id"))
      val before = tok.agg(count(lit(1)).as("n_docs_before"),
        sum(col("nt")).as("tokens_before"))
      val after = tok.join(kept, "doc_id")
        .agg(count(lit(1)).as("n_docs_after"),
          sum(col("nt")).as("tokens_after"))
      before.crossJoin(after)
    },

    // Mixture EPOCH planning — the data-mixing arithmetic (DoReMi-style):
    // given per-source trained-BPE token inventories and target weights
    // (derived deterministically from the source id), the repeat factor
    // is how many epochs of each source fill its share of the total
    // budget. Two tiny aggregations + one broadcast; the corpus is
    // scanned once for counts.
    "mixture_epochs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val perSrc = docs.select(col("doc_id"), col("source"))
        .join(TextOps.bpeTokenCountsWith(docs, "doc_id", "text",
            bpeDict(s, dir))
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_tokens"))
        .withColumn("__w",
          expr("CAST(substring(source, 4) AS INT) % 4 + 1").cast("long"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("__tot"),
        sum(col("__w")).as("__sw"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (((col("__w").cast("double") / col("__sw").cast("double")) *
            col("__tot").cast("double")) / col("n_tokens").cast("double"))
            .as("repeat_factor"))
    },

    // Robust anomaly statistics: median/MAD per group (the outlier
    // detector that, unlike mean/stddev, is not dragged by the outliers
    // it hunts). Exact interpolated medians (bit-identical engines), two
    // grouped passes + broadcast joins — the fact table never shuffles.
    "anomaly_mad_stats" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val withMed = ev.join(broadcast(med), "event_type")
      val mad = withMed.groupBy(col("event_type"))
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      withMed.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(abs(col("value") - col("med")) >
            lit(3.0 * 1.4826) * col("mad"), 1)).as("n_anomalies"),
          min(col("med")).as("med"), min(col("mad")).as("mad"))
    },

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009)
    // — the RAG-curation pattern: rank the corpus lexically (BM25 on the
    // query terms) and semantically (cosine to a probe embedding), fuse
    // as 1/(60+r_lex) + 1/(60+r_sem), keep the top 20.
    //
    // BOUNDED candidate pools, no global sort: each ranker contributes
    // its top-P (TakeOrderedAndProject — per-partition partial top-k),
    // and the EXACT global ranks of the ≤2P pool members come from one
    // shuffle-free counting pass per ranker (ranksByCounting). Exactness
    // for P = 128: every doc outside BOTH pools has lex_rank > P and
    // sem_rank > P, so rrf < 2/(60+P) = 2/188; each of the ≥20 docs
    // with lex_rank ≤ 20 (all in the lex pool, embeddings covering the
    // lexical universe 1:1 here) has rrf ≥ 1/(60+20) = 1/80 > 2/188 —
    // so the true top-20 is inside the pool union (any P ≥ 101 works;
    // the spec proves equality vs the full-rank reference form). Ranks
    // are integers, the fusion is two exact IEEE divisions summed in
    // fixed order — identical bytes to the full ranking.
    "hybrid_search_rrf" -> { (s, dir) =>
      val P = 128
      // Both score frames feed three consumers each (pool, candidate
      // join, counting pass): localCheckpoint materializes the narrow
      // (id, score) projection once — one BM25 pass, one embeddings
      // pass — instead of re-deriving the aggregation pipeline per
      // consumer (same trade connectedComponents makes for its edges).
      val bm = TextOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms).select(col("doc_id"), col("bm25"))
        .localCheckpoint(true)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val probe = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("__pvec")))
      val sim = emb
        .join(bm.select(col("doc_id")), col("vec_id") === col("doc_id"))
        .crossJoin(probe)
        .select(col("vec_id").as("doc_id"),
          (SimilarityOps.dot(col("embedding"), col("__pvec")) /
            (SimilarityOps.norm(col("embedding")) *
              SimilarityOps.norm(col("__pvec")))).as("sim"))
        .localCheckpoint(true)
      val lexPool = bm.orderBy(col("bm25").desc, col("doc_id")).limit(P)
        .select(col("doc_id"))
      val semPool = sim.orderBy(col("sim").desc, col("doc_id")).limit(P)
        .select(col("doc_id"))
      val cand = lexPool.unionByName(semPool).distinct()
        .join(bm, "doc_id")
        .join(sim, "doc_id")
      val ranked = AnalyticOps.ranksByCounting(sim, "doc_id", "sim",
        AnalyticOps.ranksByCounting(bm, "doc_id", "bm25", cand, "lex_rank"),
        "sem_rank")
      ranked
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          (lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")) +
            lit(1.0) / (lit(60.0) + col("sem_rank").cast("double")))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    },

    // Graded contamination on the same planted corpus: per-doc fraction
    // of distinct 5-grams shared with the eval set — the thresholdable
    // signal (drop at frac >= x) instead of the binary flag.
    "contamination_fraction" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 200 === 0)
      val corpus = docs.filter(col("doc_id") % 200 =!= 0)
        .withColumn("__ek", (col("doc_id") % 3) * 200)
        .join(evalSet.select(col("doc_id").as("__eid"), col("text").as("__etext")),
          col("__ek") === col("__eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 0,
            concat(col("text"), lit(" "), substring(col("__etext"), 1, 120)))
            .otherwise(col("text")).as("text"))
      TextOps.contaminationFraction(corpus, evalSet, "doc_id", "text", n = 5)
    },

    // Gopher-style repetition quality signal: the most frequent bigram's
    // share of each document's bigrams.
    "repetition_scores" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(max(col("tf")).as("max_tf"), sum(col("tf")).as("n_bigrams"))
        .withColumn("rep_ratio",
          col("max_tf").cast("double") / col("n_bigrams").cast("double"))),

    // REAL nearest-neighbor resize on opaque payload bytes (16-wide
    // 8-bit raster -> 8x8 thumbnail, exact integer index map) — the
    // thumbnail kernel without a codec; digest + mean leave the scan.
    "multimodal_resize" -> { (s, dir) =>
      val df = MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text")
      MultimodalOps.resizeNearest(df, "doc_id", srcW = 16, dstW = 8, dstH = 8)
    },

    // End-to-end WEB pipeline, oracle-checked as one query: planted
    // markup+footer pages -> HTML strip -> corpus-frequency boilerplate
    // scrub -> quality gate on the cleaned text -> per-source yield
    // (docs + BPE token budget). The round-5 cleaning ops composed the
    // way a crawl-ingest job runs them.
    "web_pipeline" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val cleaned = webCleaned(s, dir)
      val scrubbed = TextOps.boilerplateScrubText(cleaned, "doc_id", "text",
          BoilerTileWidth, BoilerMinDf, Some(webBoilerDict(s, dir)))
        .select(col("doc_id"), col("clean_text").as("text"))
      scrubbed
        .filter(TextFunctions.qualityScore(col("text")) >= WebQualityMin)
        .join(cleaned.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.bpeTokenCount(col("text")).cast("long"))
            .as("total_tokens"))
    },

    // PII card-number scan with Luhn validation (regex alone
    // false-positives on arbitrary 16-digit runs): every 11th doc gets a
    // Luhn-valid planted number, every 13th an invalid one — only the
    // valid ones count as findings; output keeps just the masked tail.
    "pii_luhn_cards" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit(" card 4539148803436467")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" card 4539148803436468")).otherwise(lit("")))
          .as("text"))
      planted
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[0-9]{16}"), lit(0)))
            .as("num"))
        .select(col("doc_id"), col("num"),
          TextFunctions.luhnValid(col("num")).as("ok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
          max(when(col("ok"), concat(lit("****"), substring(col("num"), 13, 4))))
            .as("masked"))
    },

    // HTML stripping on a planted-markup corpus: even docs get wrapped in
    // tags + entities, the cleaner recovers text (+ the unescaped link
    // text); odd docs pass through untouched.
    "clean_html" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<div class=\"post\"><p>"), col("text"),
            lit("</p>&nbsp;<a href=\"#\">Read&amp;more</a></div>")))
          .otherwise(col("text")).as("html"))
      planted.select(col("doc_id"),
        length(col("html")).as("n_raw"),
        md5(TextFunctions.cleanHtml(col("html"))).as("clean_md5"),
        length(TextFunctions.cleanHtml(col("html"))).as("n_clean"))
    },

    // Line-level boilerplate removal (C4/RefinedWeb cleaning pass) on a
    // planted corpus: every document gets the same 20-token footer, the
    // scrub detects tiles shared by >= minDf docs and reconstructs each
    // document from its surviving tiles.
    "boilerplate_scrub" -> { (s, dir) =>
      TextOps.boilerplateScrub(plantedBoilerCorpus(s, dir), "doc_id", "text",
        BoilerTileWidth, BoilerMinDf, Some(plantedBoilerDict(s, dir)))
    },

    // The dictionary-training half of the scrub as its own oracle-checked
    // query (the bpe_train_dict / pq_train_codebooks pattern): every tile
    // of the planted footer crosses minDf, nothing organic does at
    // df >= 20, and the oracle replays the identical tile construction.
    "boilerplate_dict_train" -> { (s, dir) =>
      TextOps.boilerplateDict(plantedBoilerCorpus(s, dir), "doc_id", "text",
        BoilerTileWidth, BoilerMinDf)
    },

    // URL canonicalization — the key derivation for URL-level exact
    // dedup (every crawl pipeline's first pass). Pure regexp projection.
    "url_canonicalize" -> { (s, dir) =>
      docsWithUrls(s, dir).select(col("doc_id"), col("url"),
        operators.CurationOps.canonicalizeUrl(col("url")).as("canonical_url"))
    },

    // URL-level exact dedup over the canonical form: the four surface
    // variants of every logical page converge to one canonical URL;
    // meaningful ?q= params survive and stay part of the key.
    "url_dedup" -> { (s, dir) =>
      docsWithUrls(s, dir)
        .select(col("doc_id"),
          operators.CurationOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_id"))
    },

    // Per-domain cap (RefinedWeb source balancing): each source keeps
    // its DomainCap best docs by quality (ties by doc_id). The
    // rank-limit filter runs as WindowGroupLimit(Partial) below the
    // exchange — map-side pruning to O(domains * cap) per partition.
    "domain_cap_sample" -> { (s, dir) =>
      import graft.functions.TextFunctions
      // Score BEFORE ranking: with qualityScore(text) as the window
      // order expression the full text column would travel through the
      // domain exchange; projected to (id, domain, score) the shuffle
      // carries ~24 bytes/doc and column pruning reaches the scan.
      operators.CurationOps.domainCap(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            TextFunctions.qualityScore(col("text")).as("__q")),
          "doc_id", "source", col("__q"), DomainCap)
        .select(col("doc_id"), col("source"), col("rank_in_domain"))
    },

    // The full crawl-curation pipeline as ONE DAG — the RefinedWeb
    // recipe end-to-end: URL-canonical dedup (cheapest filter first) →
    // boilerplate scrub against the PERSISTED dictionary artifact
    // (trained on the full corpus snapshot, applied to the kept subset —
    // the train-once/scrub-many split) → heuristic quality gate on the
    // scrubbed text → per-domain cap → per-source doc/token yield.
    // Token counts are computed per-doc BEFORE the domain window so the
    // rank exchange carries (id, source, q, n_toks), never text.
    "crawl_curation_pipeline" -> { (s, dir) =>
      import graft.functions.TextFunctions
      // keep is ids-only and feeds TWO branches (scrub input + the
      // source re-join) — materialize it once or the canonicalization
      // and keep-list aggregation run twice.
      val keep = docsWithUrls(s, dir)
        .select(col("doc_id"),
          operators.CurationOps.canonicalizeUrl(col("url")).as("cu"))
        .groupBy(col("cu")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).localCheckpoint(true)
      val kept = t(s, dir, "documents").join(keep, "doc_id")
        .select(col("doc_id"), col("source"),
          concat_ws(" ", col("text"), lit(BoilerFooter)).as("text"))
      val scrubbed = TextOps.boilerplateScrubText(
          kept.select(col("doc_id"), col("text")), "doc_id", "text",
          BoilerTileWidth, BoilerMinDf, Some(plantedBoilerDict(s, dir)))
        .select(col("doc_id"), col("clean_text"))
      val gated = scrubbed
        .join(kept.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("clean_text")).as("__q"),
          size(TextFunctions.tokens(col("clean_text"))).cast("long")
            .as("__ntok"))
        .filter(col("__q") >= WebQualityMin)
      operators.CurationOps.domainCap(gated, "doc_id", "source",
          col("__q"), DomainCap)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
    },

    // KenLM-style corpus LM quality score: mean add-one-smoothed bigram
    // transition probability per document (fixed-point exact).
    "bigram_lm_scores" -> ((s, dir) =>
      TextOps.bigramLmScores(t(s, dir, "documents"), "doc_id", "text")),

    // BM25 retrieval scoring against a fixed query (rational-idf form —
    // see TextOps.bm25Scores for the ln determinism note).
    "bm25_scores" -> ((s, dir) =>
      TextOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text", Bm25Terms)),

    // ---- dedup family ----
    "dedup_exact_docs" -> ((s, dir) =>
      // arg-min aggregation form: partial (map-side) combine, unlike the
      // window row_number form which must shuffle every row.
      DedupOps.exactAgg(t(s, dir, "documents"),
        Seq(graft.functions.TextFunctions.fingerprint(col("text"))),
        col("doc_id"))),

    "dedup_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashCandidates(plantedDocs(s, dir), "doc_id", "text")
        .filter(col("est_jaccard") >= MinhashMinEst)),

    // The MaxBucket guard's in-gate evidence: n_over_cap must be 0 on
    // the gate corpus (cap dormant ⇒ capped ≡ uncapped candidates),
    // and max_bucket documents how far real buckets sit below the cap.
    "dedup_lsh_bucket_ledger" -> ((s, dir) =>
      DedupOps.lshBucketLedger(plantedDocs(s, dir), "doc_id", "text")),

    // The SCALE path carries the gate name: prefix-filtered AllPairs
    // (PPJoin-family) exact Jaccard — each doc indexes only its
    // ⌊(1−t)·n⌋+1 rarest shingles, candidates verified by one sorted
    // intersection each — measured on the REALISTIC-VOCABULARY fixture
    // (the prefix filter's operating regime; see realisticVocabDocs).
    // The Θ(n²) dense walk stays available as the explicitly-named
    // `_exact` truth entry below (dedup_cc_components/_exact precedent),
    // still on the raw dense-vocab corpus where it is the right tool.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPrefix(realisticVocabDocs(s, dir), "doc_id", "text",
        NgramMinJaccard)),

    // The JaccardMaxDf guard's in-gate evidence (same pattern as the
    // LSH/SimHash bucket ledgers): n_over_cap must be 0 on the gate
    // corpus (cap dormant ⇒ guarded ≡ unguarded index, so
    // dedup_ngram_jaccard's oracle byte-equality doubles as the no-op
    // proof), max_df documents the population the cap was sized
    // against, and n_docs_degraded counts the docs whose prefix the
    // exclusion could touch — the guard's recall exposure, measured.
    "jaccard_df_ledger" -> ((s, dir) =>
      DedupOps.jaccardDfLedger(realisticVocabDocs(s, dir), "doc_id", "text",
        NgramMinJaccard)),

    "dedup_ngram_jaccard_exact" -> ((s, dir) =>
      // Dense-vocab all-pairs form (codegen'd sorted-array merge walk):
      // this synthetic corpus has a ~40-word vocab, so the inverted
      // index degenerates (every shingle hits most docs) and one
      // set-intersection per pair is 5x faster — but the candidate set
      // is Θ(n²) BY CONSTRUCTION, so this form is scoped to bounded
      // corpora / ground-truth duty only (docstring contract at
      // DedupOps.ngramJaccardDense); committed pipelines ride the
      // prefix or banded forms.
      DedupOps.ngramJaccardDense(plantedDocs(s, dir), "doc_id", "text",
        NgramMinJaccard)),

    // Incremental dedup's core join, batch-oracle-checked: arrivals
    // banded against a PERSISTED corpus signature table (the corpus is
    // never re-shingled — what nearDupRejectStream/ccLabelStream run
    // per micro-batch, here as the one-shot batch form).
    "dedup_incremental_candidates" -> { (s, dir) =>
      val base = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val corpusSig = DedupOps.minhashSignatureArr(base, "doc_id", "text")
      val arrivals = base.select((col("doc_id") + 10000000L).as("doc_id"),
        expr("substring(text, 1, (length(text) * 4) div 5)").as("text"))
      DedupOps.minhashCandidatesAgainst(corpusSig, arrivals, "doc_id", "text")
        .filter(col("est_jaccard") >= MinhashMinEst)
    },

    // The MinHash recall CONTRACT, measured in-gate at the COMMITTED
    // production banding (8 bands of r=4, DedupOps.Bands: per-band
    // collision sim^4, so the planted J~0.8 pairs collide with prob
    // ~1-(1-0.41)^8 ~ 0.985): true pairs at the Jaccard threshold,
    // banded candidate pairs, and their overlap as integer-exact
    // counts — the S-curve math pinned by measurement, not trusted.
    // Composes the two already-oracle-green chains; 1-row aggregate
    // crossJoins are broadcast-bounded by construction.
    "dedup_minhash_recall" -> ((s, dir) => minhashRecallCounts(s, dir,
      DedupOps.Bands)),

    // Same measurement at the r=8 CONTRAST banding (4 bands of r=8 —
    // the pre-r18 default, collision sim^8, S-curve midpoint ~0.84):
    // kept in-gate so the trade that motivated the flip stays a
    // measured table (~0.3 recall here vs ~0.94 above at t=0.5) and so
    // the exact-leaning configuration callers can still pick
    // (`bands = 4` for t >~ 0.85 duty) keeps its own pinned numbers.
    "dedup_minhash_recall_r8" -> ((s, dir) => minhashRecallCounts(s, dir,
      bands = 4)),

    "dedup_simhash" -> ((s, dir) =>
      DedupOps.simhash(t(s, dir, "documents"), "doc_id", "text")),

    "simhash_near_dup" -> ((s, dir) =>
      DedupOps.simhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        SimhashMaxHamming)),

    // The SimMaxBucket guard's in-gate evidence (same pattern as
    // dedup_lsh_bucket_ledger): n_over_cap must be 0 on the gate corpus
    // (cap dormant ⇒ capped ≡ uncapped candidates, so simhash_near_dup's
    // oracle byte-equality doubles as the guard's no-op proof), and
    // max_bucket documents the measured population the cap was sized
    // against — unlike the 64-bit MinHash band keys this one GROWS with
    // corpus size (fixed 4096-value chunk space), which is the ledger's
    // whole point.
    "simhash_bucket_ledger" -> ((s, dir) =>
      DedupOps.simhashBucketLedger(t(s, dir, "documents"), "doc_id", "text")),

    // The SimHash recall CONTRACT under a FIRING level-1 cap, measured
    // in-gate (the dedup_minhash_recall / session_topk_recall pattern).
    // The production cap (SimMaxBucket = 1024) is dormant on the gate
    // corpus (simhash_bucket_ledger: n_over_cap = 0), so this contract
    // forces the capped regime with a test cap of 32 — max distinct-sim
    // chunk bucket is 57 at sf0.01 and 539 at sf0.1, so the cap fires
    // at BOTH scales (2 and 118 buckets respectively) — and pins exact
    // pairs, capped pairs, and their overlap as one row of counts.
    // Post-round-16, over-cap buckets are rescued by the 1-bit-flip
    // variant equi-join, which is EXACT by pigeonhole for maxHamming
    // <= 8: the contract pins n_hit = n_capped = n_exact (recall 1.0,
    // structural, not dormancy — the level-1 cap measurably fires) and
    // the oracle replays every stage verbatim so any drift breaks the
    // hash. The r15 verdict measured the old clique→path degrade at
    // 0.773 (sf0.01) → 0.114 (sf0.1); this is the fix, re-measured
    // every round. Since the r20 flip the capped form runs the
    // COMMITTED defaults (production variantCap + budgeted
    // escalation) and the oracle replays the budget arithmetic — at
    // the production variantCap the gate corpus has no over-cap
    // variant bucket, so this row pins the escalation's DORMANT path
    // (empty histogram => cut = vcap); the firing path is
    // simhash_recall_auto's contract.
    "simhash_recall" -> { (s, dir) =>
      // Signature aggregation computed ONCE for both forms (the
      // shingle-once pattern) — the contrast is about the candidate
      // stages, not about paying the tokenize+bit-sum twice.
      val sig = DedupOps.simhash(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(true)
      // Each form feeds BOTH the intersect and its own count — pin the
      // candidate pipelines so neither runs twice.
      def form(cap: Int) = DedupOps.simhashCandidatesFromSig(sig, "doc_id",
        SimhashMaxHamming, maxBucket = cap).localCheckpoint(true)
      val exact = form(Int.MaxValue)
      val capped = form(SimhashRecallCap)
      // Both candidate sets are duplicate-free by construction (one
      // simhash per id ⇒ a member pair appears under exactly one
      // distinct-sim pair; cross pairs have hamming ≥ 1, intra pairs
      // hamming = 0, clique/path groups are cap-disjoint), so all
      // three counts ride the single-pass tagged-union form.
      contractCounts(exact, capped, "n_capped")
    },

    // The LOSSY tail of the same contract: both caps forced to the test
    // value AND the r20 budgeted escalation opted OUT (escalateBudget
    // = 0), so the variant stage's own guard fires and the final
    // Manku-Jindal-Ullman sorted-window degrade — the regime the
    // committed pipeline falls back to once the escalation budget is
    // spent — is priced in-gate: measured recall 0.9203 at sf0.1
    // (multi-rotation MJU windows; 0.8639 with a single order) / 1.0
    // at sf0.01 under cap 32+32, vs 0.114 for the r15 path walk. In
    // production the window regime is reachable only by over-budget
    // variant buckets (>= SimMaxBucket DISTINCT simhashes agreeing on
    // ~24 of 48 bits, past the smallest-first admission cut); this row
    // keeps its quality a number the gate re-measures, not a
    // docstring. The committed default's own regime is the
    // simhash_recall_auto twin below.
    "simhash_recall_window" -> { (s, dir) =>
      val sig = DedupOps.simhash(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(true)
      val exact = DedupOps.simhashCandidatesFromSig(sig, "doc_id",
        SimhashMaxHamming, maxBucket = Int.MaxValue).localCheckpoint(true)
      val capped = DedupOps.simhashCandidatesFromSig(sig, "doc_id",
        SimhashMaxHamming, maxBucket = SimhashRecallCap,
        variantCap = SimhashRecallCap, escalateBudget = 0)
        .localCheckpoint(true)
      contractCounts(exact, capped, "n_capped") // see simhash_recall
    },

    // The COMMITTED DEFAULT's regime under the same forced caps: the
    // r20 flip made the budgeted variant-stage auto-escalation
    // (DedupOps.SimVariantEscalateBudget = 4096 pairs per distinct
    // signature, smallest-size-classes-first) the default, so this
    // twin pins the admission arithmetic itself in-gate — the oracle
    // replays the over-cap size histogram, the cumulative-work prefix
    // sum, and the cut (Oracles.simhashCandCtes escalation CTEs), so
    // any drift in escalationCut or the pipeline's use of it breaks
    // the hash at a scale where the escalation measurably FIRES (the
    // window twin above loses pairs at sf0.1 that this row recovers).
    // Heaps-ledger evidence for the flip: recall 0.891 -> 1.000 at
    // both decades at 1.15x the contract wall; the saturated fixture's
    // admitted work stays <= budget (OperatorsSpec's dense-ball spec).
    "simhash_recall_auto" -> { (s, dir) =>
      val sig = DedupOps.simhash(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(true)
      val exact = DedupOps.simhashCandidatesFromSig(sig, "doc_id",
        SimhashMaxHamming, maxBucket = Int.MaxValue).localCheckpoint(true)
      val escalated = DedupOps.simhashCandidatesFromSig(sig, "doc_id",
        SimhashMaxHamming, maxBucket = SimhashRecallCap,
        variantCap = SimhashRecallCap).localCheckpoint(true)
      contractCounts(exact, escalated, "n_capped") // see simhash_recall
    },

    // Transitive duplicate clusters: connected components of the BANDED
    // MinHash candidate graph by distributed min-label propagation
    // (every doc labeled with the smallest id reachable through pairs).
    // The candidate stage is the same sub-quadratic (band, bkey)
    // bucket-join the lsh entry runs — at 100 TB all-pairs candidate
    // generation is not an option, so the CC family rides banding; the
    // exact-Jaccard form stays measured as dedup_cc_components_exact.
    "dedup_cc_components" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      DedupOps.connectedComponents(docs.select(col("doc_id")),
        bandedPairs(docs), "doc_id")
    },

    // Exact-Jaccard truth twin of dedup_cc_components: all-pairs
    // candidates (Θ(n²) by contract — the truth baseline, not the
    // pipeline default).
    "dedup_cc_components_exact" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      val pairs = DedupOps.ngramJaccardDense(docs, "doc_id", "text", NgramMinJaccard)
      DedupOps.connectedComponents(docs.select(col("doc_id")), pairs, "doc_id")
    },

    // CONTINUOUS-INGEST twin of dedup_cc_components: the corpus split
    // into two batches (id parity), batch-1 components built first,
    // then folded forward with incrementalComponents over every edge
    // that touches batch 2. A batch can only merge whole components
    // and the merged label is the min over the old labels — i.e. the
    // true component minimum — so the result provably equals the full
    // rebuild and the oracle is the SAME recursive SQL the batch form
    // checks against (StreamingSpec ccLabelStream parity). This puts
    // the incremental path itself under the driver's oracle gate.
    "dedup_cc_incremental" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      val pairs = bandedPairs(docs).localCheckpoint(true)
      val newSide = (c: org.apache.spark.sql.Column) => c % 2 === 1
      val oldEdges =
        pairs.filter(!newSide(col("id_a")) && !newSide(col("id_b")))
      val newEdges =
        pairs.filter(newSide(col("id_a")) || newSide(col("id_b")))
      val prev = DedupOps.connectedComponents(
        docs.filter(!newSide(col("doc_id"))).select(col("doc_id")),
        oldEdges, "doc_id")
      DedupOps.incrementalComponents(prev,
        docs.filter(newSide(col("doc_id"))).select(col("doc_id")),
        newEdges, "doc_id")
    },

    // Exact substring dedup (Lee et al. arXiv:2107.06499, Spark-shaped):
    // content-defined chunk spans shared verbatim across documents — the
    // planted 80%-prefix copies share every prefix chunk with their
    // originals regardless of offset.
    "dedup_substring" -> { (s, dir) =>
      DedupOps.duplicateSpans(plantedDocs(s, dir), "doc_id", "text",
        CdcWindow, CdcDivisor)
    },

    // The REMOVAL half of the Lee-et-al. recipe: cut every cross-doc
    // duplicated chunk and reconstruct each document from its surviving
    // spans in order (digest + counts leave the scan, not the text).
    "substring_scrub" -> { (s, dir) =>
      DedupOps.scrubDuplicateSpans(plantedDocs(s, dir), "doc_id", "text",
        CdcWindow, CdcDivisor)
    },

    // Cluster-minimum keep list: exactly one survivor per component
    // (banded candidates — see dedup_cc_components).
    "dedup_cc_keep" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      DedupOps.keepClusterMin(docs, bandedPairs(docs), "doc_id")
        .select(col("doc_id"))
    },

    // Quality-weighted cluster collapse: keep each near-dup cluster's
    // BEST-quality member (not the arbitrary lowest id) — on the planted
    // corpus the truncated copies score differently from their originals,
    // so the choice is exercised. Banded candidates.
    "dedup_keep_best" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      DedupOps.keepClusterBest(docs, bandedPairs(docs), "doc_id",
        graft.functions.TextFunctions.qualityScore(col("text")))
    },

    // ---- similarity search ----
    "knn_bruteforce" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.bruteForceKnn(probes, corpus, KnnK)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // ---- event analytics ----
    "events_tumbling_1h" -> ((s, dir) =>
      AnalyticOps.tumblingAgg(t(s, dir, "events"), "ts", "1 hour")),

    "sessionize_30m" -> ((s, dir) =>
      AnalyticOps.sessionize(t(s, dir, "events"), 30)),

    "events_sliding_1h_30m" -> ((s, dir) =>
      // Sliding windows: each event lands in 2 overlapping 1h buckets.
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))),

    "session_window_30m" -> ((s, dir) =>
      // Spark's native session windows (streaming-compatible gap merge);
      // same semantics as AnalyticOps.sessionize with end = max(ts)+gap.
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))),

    // Session-scoped conversion: within each gap session, did a click
    // precede a purchase? Built on the per-event session labels.
    "session_conversion" -> ((s, dir) =>
      AnalyticOps.sessionizeEvents(t(s, dir, "events"), 30)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .withColumn("converted",
          col("first_click") < col("first_purchase"))),

    "interval_join_click_purchase" -> { (s, dir) =>
      // Bounded interval join: purchases within 10 minutes AFTER a click by
      // the same user. Equi-key on user (one shuffle), range as filter.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      clicks.join(purchases, "user_id")
        .filter(col("purchase_ts") >= col("click_ts") &&
          unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")) <= 600L)
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    },

    "asof_click_purchase" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    },

    // Same as-of semantics, executed by the custom sort-merge physical
    // operator (plans.AsOfJoinExec: custom LogicalPlan + SparkStrategy +
    // SparkPlan) — per-side shuffles and a single forward merge walk
    // instead of the union+window composition. Checked against the SAME
    // oracle as asof_click_purchase.
    "asof_merge_exec_click" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    },

    "asof_forward_next_click" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoinForward(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    },

    // Forward + tolerance variants through the custom exec, against the
    // SAME oracles as their window-form twins.
    "asof_merge_exec_forward" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id", forward = true)
    },

    "asof_merge_exec_tolerance" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id",
        toleranceSec = Some(3600L))
    },

    "asof_tolerance_click" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoinTolerance(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id", toleranceSec = 3600L)
    },

    // Point-in-time lookup over the SCD2 table: the version of each key
    // valid at the probe timestamp.
    "scd2_asof_lookup" -> { (s, dir) =>
      val target = t(s, dir, "orders")
        .withColumn("valid_from", lit("1990-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val probe = lit("1995-06-01").cast("timestamp")
      LoadOps.scd2Merge(target, stagedOrders(s, dir), "o_orderkey", lit("2000-01-01"))
        .filter(col("valid_from") <= probe &&
          (col("valid_to").isNull || col("valid_to") > probe))
        .select(col("o_orderkey"), col("o_orderstatus"), col("valid_from"))
    },

    // Concurrent sessions across users: interval × interval overlap via
    // bucketed candidates + exact verify (never O(n²) CANDIDATES — but
    // the OUTPUT is intrinsically quadratic in per-window user density:
    // measured 99.9x output at 10x data, ~1.5B pairs at 100x, CONTRACTS
    // §4. This stays the labeled all-pairs truth row; committed
    // pipelines ride session_topk_overlaps below.)
    "session_overlap_pairs" -> { (s, dir) =>
      // NOT checkpointed (r21: measured 1.03x — with only two
      // consumer legs the exchange reuse already covers it, unlike
      // session_topk_recall's six).
      val sess = AnalyticOps.sessionize(t(s, dir, "events"), 30)
      val a = sess.select(col("user_id").as("user_a"),
        col("session_start").as("start_a"), col("session_end").as("end_a"))
      val b = sess.select(col("user_id").as("user_b"),
        col("session_start").as("start_b"), col("session_end").as("end_b"))
      AnalyticOps.intervalOverlapJoin(a, b,
          "start_a", "end_a", "start_b", "end_b",
          bucketSec = 1800L, extraCond = col("user_a") < col("user_b"))
        .select(col("user_a"), col("start_a"), col("user_b"), col("start_b"))
    },

    // The BOUNDED concurrency twin (committed-pipeline form): per
    // session, its top-3 partners by true intersection seconds, with
    // per-bucket candidates pruned to the 32 longest sessions — output
    // ≤ k·sessions, work linear in sessions. The pruning is part of the
    // deterministic operator semantics (longest-first, (user, start)
    // tie-break), so the oracle replays it verbatim at any scale; the
    // recall vs the exact all-candidates form is pinned by the next
    // entry, not promised.
    "session_topk_overlaps" -> { (s, dir) =>
      AnalyticOps.topKOverlapsPerSession(
        // Not checkpointed (r21: measured 1.01x — two legs, covered
        // by exchange reuse; see session_overlap_pairs).
        AnalyticOps.sessionize(t(s, dir, "events"), 30),
        "user_id", "session_start", "session_end",
        k = SessionTopK, bucketSec = 1800L)
    },

    // The bounded form's recall CONTRACT, measured in-gate (the
    // dedup_minhash_recall pattern): exact top-k rows, bounded top-k
    // rows, and their row-level intersection as one row of counts.
    "session_topk_recall" -> { (s, dir) =>
      // Sessionize ONCE for all consumers (each form reads it twice —
      // sessions + partners — and each form feeds both the intersect
      // and its own count: 6 plan legs re-ran the sessionize window
      // before this checkpoint). The FORMS deliberately stay
      // un-checkpointed: materializing them serializes the two
      // pipelines and measured 4.2 s vs 2.5 s with sess-only (r21
      // XProf) — recomputing a form leg from the tiny checkpointed
      // session frame is cheaper than the lost overlap.
      val sess = AnalyticOps.sessionize(t(s, dir, "events"), 30)
        .localCheckpoint(true)
      def form(m: Int) = AnalyticOps.topKOverlapsPerSession(sess,
        "user_id", "session_start", "session_end",
        k = SessionTopK, bucketSec = 1800L, candM = m)
      val exact = form(Int.MaxValue)
      val bounded = form(AnalyticOps.TopOverlapCandidates)
      // Duplicate-free: one row per (session, rank ≤ k), rank distinct
      // within its window partition; all columns non-null. The
      // single-pass form also halves each UNCHECKPOINTED form's
      // consumer count (was two legs per form: its own count + the
      // semi-join side; now each feeds the tagged union once).
      contractCounts(exact, bounded, "n_bounded")
    },

    "topk_orders_by_priority" -> ((s, dir) =>
      AnalyticOps.topKPerGroup(
        t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)),

    "rollup_lineitem" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      AnalyticOps.rollupAgg(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
        Seq(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty")))
    },

    // ---- TPC-H-style multi-join analytics ----
    "q3_shipping_priority" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val cust = t(s, dir, "customer").filter(col("c_nationkey") < 5)
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      // Dim chain broadcasts (customer filter, then orders×lineitem shuffles
      // on the join key once).
      val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
      // Global top-10: TakeOrderedAndProject (partial top-k per
      // partition), NOT a single-partition global window over all groups.
      AnalyticOps.globalTopK(agg, Seq(col("revenue").desc, col("o_orderkey")), 10)
    },

    "q5_nation_revenue" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") =!= "ASIA")
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // Sketch: KMV / bottom-k distinct estimate — the deterministic,
    // oracle-able counterpart of HLL (SketchOps.approxDistinct is the
    // tolerance-spec'd HLL twin). Both engines keep the k smallest
    // 60-bit md5 hashes and derive the estimate in pure integer
    // arithmetic, so the result hashes bit-identically.
    "kmv_distinct_users" -> ((s, dir) =>
      SketchOps.kmvDistinct(t(s, dir, "events"), Seq(col("event_type")),
        col("user_id"), KmvK)),

    // KMV distinct as a ONE-PASS typed aggregate (BottomKDistinct): the
    // window form above first shuffles the full distinct hash set; here
    // partial k-bounded buffers merge map-side and the shuffle carries
    // only O(groups·k·partitions) longs — the aggregation form of the
    // sketch, sharing the window form's oracle (same estimate by
    // construction; the spec also pins partition invariance).
    "kmv_distinct_users_agg" -> { (s, dir) =>
      import s.implicits._
      val k = KmvK
      // NULL guard matches SketchOps.kmvBottomK's sketch domain (a null
      // user_id would hash to a null hkey and break the Long encoder).
      t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type"),
          SketchOps.hash60(col("user_id")).as("hkey"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.BottomKAgg.bottomKDistinct(k).name("sk"))
        .map { case (t0, buf) =>
          val n = buf.keys.length
          val est = if (n < k) n.toLong
            else (k - 1L) * (SketchOps.HashDomain / buf.keys.last)
          (t0, est)
        }
        .toDF("event_type", "users_est")
    },

    // ---- corpus statistics ----
    "vocab_doc_freq" -> ((s, dir) =>
      // Vocabulary table: document frequency + total term frequency per
      // token (integer-exact; the tf-idf building block). One explode +
      // one shuffle.
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(
            graft.functions.TextFunctions.normalized(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf_total"))),

    "embeddings_l2_normalized" -> { (s, dir) =>
      // L2 normalization as a pure projection (broadcast-free); the
      // custom dot expression computes the norm in one pass. Scalar
      // outputs only — the driver's compare can't sort array columns —
      // so the norm plus first/last unit components pin the vector down.
      val nrm = sqrt(SimilarityOps.dot(col("embedding"), col("embedding")))
      t(s, dir, "embeddings").select(col("vec_id"),
        nrm.as("norm"),
        (element_at(col("embedding"), 1).cast("double") / nrm).as("unit_first"),
        (element_at(col("embedding"), 64).cast("double") / nrm).as("unit_last"))
    },

    // ---- corpus filtering / scrubbing ----
    "quality_filter" -> ((s, dir) =>
      // Keep only documents above the quality bar — the filter predicate
      // is the same pure projection the oracle recomputes.
      t(s, dir, "documents")
        .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= QualityMin)
        .select(col("doc_id"), col("lang"), col("source"))),

    // TRAINED quality model (fastText-shaped: hashed 1-/2-gram bag +
    // hard-sigmoid logistic regression, Q16 integer training — see
    // QualityModelOps): trains once on the spam-planted corpus (every
    // doc paired with a junk-appended copy at +20000000, label 0),
    // persists the weight table in the model store, returns it.
    "quality_train_model" -> { (s, dir) =>
      qualityWeights(s, dir).orderBy(col("bucket"))
    },

    // The trained gate applied to the planted corpus: per-doc Q16 score
    // under the persisted weights, kept = score >= 0. Label recovery is
    // the planted-spec contract; this query is the production shape
    // (read artifact, one feature join, one aggregation).
    "quality_model_filter" -> { (s, dir) =>
      val scored = QualityModelOps.scores(
        QualityModelOps.hashedFeatures(spamPlantedDocs(s, dir), "doc_id", "text"),
        qualityWeights(s, dir), "doc_id")
      scored.select(col("doc_id"), col("score"),
        when(col("score") >= 0, 1).otherwise(0).as("kept"))
    },

    // The SAMPLED training path: identical Q16 recurrence on the
    // deterministic pair-stable 1-in-QmSampleMod sample — the
    // bounded-cost twin for corpora where full-batch training dominates
    // (measured 208 s one-time at 1 M docs in the 100x ledger; sample
    // cost drops by the mod).
    "quality_train_sampled" -> { (s, dir) =>
      qualityWeightsSampled(s, dir).orderBy(col("bucket"))
    },

    // The sampled-vs-full gate agreement MEASURED on the full corpus as
    // one row of integer counts (the ANN recall-contract pattern):
    // justifies the sampled path with a number, not a docstring claim.
    "quality_sampled_agreement" -> { (s, dir) =>
      // Feature-hash the corpus ONCE for both scorers (narrow
      // (id, features) rows; the shingle-once pattern).
      val feats = QualityModelOps.hashedFeatures(
        spamPlantedDocs(s, dir), "doc_id", "text").localCheckpoint(true)
      val full = QualityModelOps.scores(feats, qualityWeights(s, dir), "doc_id")
        .withColumnRenamed("score", "score_full")
      val smp = QualityModelOps.scores(feats, qualityWeightsSampled(s, dir), "doc_id")
        .withColumnRenamed("score", "score_sampled")
      full.join(smp, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score_full") >= 0, 1L).otherwise(0L)).as("n_kept_full"),
          sum(when(col("score_sampled") >= 0, 1L).otherwise(0L)).as("n_kept_sampled"),
          sum(when((col("score_full") >= 0) === (col("score_sampled") >= 0), 1L)
            .otherwise(0L)).as("n_agree"))
    },

    // Corpus quality deciles — the "train on the top-N quality buckets"
    // primitive, via the distributed global ntile (no single-partition
    // window).
    "quality_deciles" -> { (s, dir) =>
      val scored = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      AnalyticOps.globalNtile(scored, 10,
        Seq(col("quality"), col("doc_id")), "decile")
        .select(col("doc_id"), col("decile"))
    },

    // Feature standardization: per-type z-scores from the exact-decimal
    // moment sums (the same fixed IEEE derivation as
    // stats_moments_by_type), joined back broadcast.
    "standardized_values" -> { (s, dir) =>
      val dec = DecimalType(18, 6)
      val nD = col("n").cast("double")
      val moments = t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"),
          sum(col("value").cast(dec) * col("value").cast(dec))
            .cast("double").as("sum_v2"))
        .select(col("event_type"), (col("sum_v") / nD).as("mean"),
          sqrt((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("std"))
      t(s, dir, "events").filter(col("event_id") % 50 === 0)
        .join(broadcast(moments), "event_type")
        .select(col("event_id"), col("event_type"),
          ((col("value") - col("mean")) / col("std")).as("z"))
    },

    "scrub_pii" -> { (s, dir) =>
      // Deterministically plant an email + phone per doc, then scrub both
      // (the real-corpus op; planted so the testdata exercises the regexes).
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact: user"), col("doc_id"), lit("@example.com tel +1-555-000"),
          col("doc_id") % 10000).as("text"))
      planted.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+?\\d[\\d-]{7,}", "<PHONE>").as("text_scrubbed"))
    },

    // ---- multimodal columns ----
    "multimodal_meta" -> ((s, dir) =>
      MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))),

    // Real end-to-end decode of the self-describing GRB1 raster format:
    // ENCODE a genuine binary payload (magic + u16 dims + pixel bytes),
    // then batch-DECODE it back — magic check, header parse, raster
    // read — and hash the decoded histogram. The oracle rebuilds the
    // identical raster at hex level, so a decoder bug (wrong endianness,
    // off-by-one header skip) breaks the hash.
    "multimodal_decode" -> ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withToyRaster(t(s, dir, "documents"), "text"), "doc_id")
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          md5(array_join(transform(col("hist"), v => v.cast("string")), ","))
            .as("hist_md5"))),

    // Binary-file ingestion end-to-end: stage each sampled doc's GRB1
    // payload as its OWN FILE (Ingest.writeBinaryFiles — executor-side
    // Hadoop FS writes, one object per asset like a media bucket), read
    // the directory back through the binaryFile source, parse ids from
    // paths, and decode. The oracle recomputes the same derivation from
    // the documents table, so a staging or listing bug breaks the hash.
    "binary_file_ingest" -> { (s, dir) =>
      val sample = MultimodalOps.withToyRaster(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0), "text")
      // Staged through the SAME job-scoped layout (and so the same C1-C5
      // cleanup policies) as every other staged body: jobTime scoped to
      // the corpus, uuid to the process — concurrent gates on one
      // machine each stage their own copy, no truncate-vs-lazy-read race
      // across JVMs, no cross-contamination between corpora.
      val writer = new graft.io.StagingWriter(
        s"${System.getProperty("java.io.tmpdir")}/graft_stage",
        graft.core.LoaderConfig(filePrefix = "graft/grb1"),
        jobTime = Integer.toHexString(dir.hashCode),
        uuid = s"p${ProcessHandle.current().pid()}")
      val staged = writer.writeBinaryBody(sample, "doc_id", "payload", 0, ".grb")
      val back = graft.io.Ingest.binaryFiles(s, staged.dir, Some("*.grb"))
        .select(
          regexp_extract(col("path"), "(\\d+)\\.grb$", 1).cast("long")
            .as("doc_id"),
          col("length").as("file_len"), col("content").as("payload"))
      back.select(col("doc_id"), col("file_len"))
        .join(MultimodalOps.decodeFeatures(back, "doc_id"), "doc_id")
        .select(col("doc_id"), col("file_len"), col("width"), col("height"),
          col("n_px"),
          md5(array_join(transform(col("hist"), v => v.cast("string")), ","))
            .as("hist_md5"))
    },

    // Feature extraction over the decoded raster (normalized histogram):
    // scalar summary columns only — the driver sorts rows before
    // hashing, and pandas can't sort array cells.
    "multimodal_features" -> ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withToyRaster(t(s, dir, "documents"), "text"), "doc_id")
        .select(col("doc_id"), lit(MultimodalOps.FeatureDim).as("dim"),
          round(element_at(col("hist"), 1).cast("double") /
            col("n_px").cast("double"), 9).as("f_first"),
          round(aggregate(
            transform(col("hist"), v =>
              v.cast("double") / col("n_px").cast("double")),
            lit(0.0), (a, x) => a + x), 6).as("f_l1"))),

    // ---- relational coverage: joins, set ops, distinct, scalar fns ----
    "join_customer_orders" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      // Dim side (customer) is small → Catalyst broadcasts it; the fact
      // scan never shuffles.
      t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    },

    "set_ops_customers" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      urgent.intersect(high)
        .unionByName(urgent.except(high))
        .withColumnRenamed("o_custkey", "custkey")
    },

    "count_distinct_exact" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),

    "scalar_functions" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        upper(col("event_type")).as("type_upper"),
        substring(col("event_type"), 1, 3).as("type_prefix"),
        concat(col("event_type"), lit(":"), col("user_id").cast("string")).as("type_user"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        round(col("value") * 100, 0).cast("long").as("value_cents"),
        abs(col("value") - 50.0).as("dist50"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        levenshtein(col("event_type"), lit("click")).as("lev_click"),
        array_join(array(col("user_id").cast("string"),
          col("event_id").cast("string")), "-").as("id_pair_str"),
        array_max(array(col("user_id"), col("event_id"))).as("id_max"),
        length(col("props")).as("props_len"))),

    "pivot_user_events" -> ((s, dir) =>
      // Crosstab: per-user event-type counts. Fixed pivot values so the
      // output schema is static (and the 100 TB plan is one hash-agg —
      // conditional aggregation, no per-value shuffle).
      t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)),

    "ntile_quartiles" -> ((s, dir) =>
      // Quartile assignment (integer-exact, fully tie-broken) — computed
      // distributed (range-partition + zipWithIndex + bucket formula),
      // not via the single-partition global-window ntile.
      AnalyticOps.globalNtile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        4, Seq(col("o_totalprice"), col("o_orderkey")), "quartile")),

    "top1_latest_error" -> ((s, dir) =>
      // The reference's diagnostics top-1 (SELECT * FROM stl_load_errors
      // ORDER BY starttime DESC LIMIT 1 - core.ts:42) restated.
      t(s, dir, "events").filter(col("event_type") === "error")
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1)
        .select(col("event_id"), col("ts"), col("user_id"))),

    "cube_events" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))),

    // Per-label centroid norms — the vector-aggregate primitive behind
    // IVF training. Element sums use explicit 2^-24 fixed-point
    // quantization (float precision): decimal casts of FLOATS diverge
    // across engines (shortest-repr vs exact-binary rounding), while
    // floor(x * 2^24) is identical integer arithmetic everywhere —
    // exact, order-free, partial-agg friendly. The norm is then one
    // pos-ordered double fold per label.
    "label_centroid_norms" -> { (s, dir) =>
      val q = lit(16777216.0) // 2^24
      val e = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      e.groupBy(col("label"), col("pos"))
        .agg(sum(floor(col("x").cast("double") * q).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(min(col("n")).as("n_vectors"),
          sqrt(aggregate(
            array_sort(collect_list(struct(col("pos"),
              (col("s").cast("double") / (col("n").cast("double") * q)).as("m")))),
            lit(0.0),
            (acc, v) => acc + v.getField("m") * v.getField("m")))
            .as("centroid_norm"))
    },

    "knn_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      // centroidTarget 0 = scale-aware C = max(4, ceil(sqrt(N))) — K
      // tracks the corpus so nprobe/C coverage holds at any scale.
      SimilarityOps.ivfKnn(probes, corpus, KnnK,
          centroidTarget = IvfAutoC, nprobe = IvfNprobe)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // ---- joins: explicit semi / anti forms (the upsert's building
    // blocks as first-class relational operators) ----
    "left_join_counts" -> ((s, dir) =>
      // LEFT OUTER join preserved-side semantics: customers with zero
      // orders keep their row (count of the null-extended side = 0).
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))),

    "full_outer_flags" -> { (s, dir) =>
      // FULL OUTER join: presence flags on both sides survive.
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("uk")).distinct()
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey").as("hk")).distinct()
      urgent.join(high, col("uk") === col("hk"), "full_outer")
        .select(coalesce(col("uk"), col("hk")).as("custkey"),
          col("uk").isNotNull.as("has_urgent"),
          col("hk").isNotNull.as("has_high"))
    },

    "semi_anti_orders" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select(col("c_custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val any = t(s, dir, "orders").select(col("o_custkey"))
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_urgent").as("tag"))
        .unionByName(
          cust.join(any, col("c_custkey") === col("o_custkey"), "left_anti")
            .select(col("c_custkey"), lit("no_orders").as("tag")))
    },

    // ---- window-function family: lag/lead, running and moving aggs ----
    "window_running_user" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wCum = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val w3 = w.rowsBetween(-2, 0)
      val dec = DecimalType(18, 6)
      t(s, dir, "events").select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lead(col("event_id"), 1).over(w).as("next_event_id"),
        row_number().over(w).as("seq"),
        sum(col("value").cast(dec)).over(wCum).cast("double").as("cum_value"),
        (sum(col("value").cast(dec)).over(w3).cast("double") /
          count(lit(1)).over(w3).cast("double")).as("avg3"))
    },

    "error_rate_by_hour" -> ((s, dir) =>
      // Operational monitoring: error share per hour-of-day (one count
      // pass, single double division).
      t(s, dir, "events").groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "error", 1)).as("errors"))
        .withColumn("error_rate",
          col("errors").cast("double") / col("n").cast("double"))),

    // Pearson correlation between value and the props.k field, derived
    // from exact sums in a fixed IEEE op order (the built-in corr()
    // accumulates in partition order — not oracle-stable).
    "corr_value_k" -> { (s, dir) =>
      val dec = DecimalType(18, 6)
      val ev = t(s, dir, "events").select(col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val nD = col("n").cast("double")
      ev.agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sx"),
          sum(col("k")).cast("double").as("sy"),
          sum(col("value").cast(dec) * col("k")).cast("double").as("sxy"),
          sum(col("value").cast(dec) * col("value").cast(dec)).cast("string")
            .cast("double").as("sx2"),
          sum(col("k") * col("k")).cast("double").as("sy2"))
        .select(col("n"),
          ((col("sxy") - ((col("sx") * col("sy")) / nD)) /
            (sqrt(col("sx2") - ((col("sx") * col("sx")) / nD)) *
              sqrt(col("sy2") - ((col("sy") * col("sy")) / nD)))).as("corr_vk"))
    },

    "percent_rank_values" -> { (s, dir) =>
      // percent_rank/cume_dist per event type (integer-ratio exact);
      // keyed window — partitions stay distributed.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      t(s, dir, "events").filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    },

    "grouping_sets_events" -> ((s, dir) =>
      // Explicit GROUPING SETS (finer-grained than cube/rollup; one
      // shuffle, Expand feeds all three sets through one hash-agg).
      t(s, dir, "events").withColumn("h", hour(col("ts")))
        .groupingSets(
          Seq(Seq(col("event_type"), col("h")), Seq(col("event_type")), Seq()),
          col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))),

    // Exact interpolated percentiles (sort-based partial aggregation;
    // for sketch-grade scale use percentile_approx — spec-checked).
    "percentiles_by_type" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.25D)").as("p25"),
          expr("percentile(value, 0.5D)").as("p50"),
          expr("percentile(value, 0.75D)").as("p75"))),

    // Second-moment statistics from exact decimal sums: one partial-agg
    // pass, derived in a fixed IEEE op order (oracle-exact, unlike
    // stddev/var built-ins whose accumulation order is partition-timing
    // dependent).
    "stats_moments_by_type" -> { (s, dir) =>
      val dec = DecimalType(18, 6)
      val nD = col("n").cast("double")
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"),
          sum(col("value").cast(dec) * col("value").cast(dec))
            .cast("double").as("sum_v2"))
        .select(col("event_type"), col("n"),
          (col("sum_v") / nD).as("mean"),
          ((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("var_v"),
          sqrt((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("std_v"))
    },

    "user_digest_typed" -> ((s, dir) =>
      AnalyticOps.userDigestTyped(t(s, dir, "events"))),

    "user_event_sequences" -> ((s, dir) =>
      // Ordered per-user behavior sequence (sequence-mining primitive):
      // collect_list is partition-order dependent, so order inside the
      // aggregate via array_sort over (ts, event_id, type) structs.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), "->").as("sequence"),
          count(lit(1)).as("n_events"))),

    "bigram_counts" -> ((s, dir) =>
      // Corpus n-gram table (language-model counts): word bigrams with
      // document and total frequencies, pruned to df >= 5. Two-level
      // aggregation instead of countDistinct+count in one agg: the
      // (doc_id, bigram) pre-agg collapses within-doc repeats map-side
      // and avoids the Expand (2x shuffle rows) a mixed distinct/plain
      // aggregate plans.
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text"))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"))
        .filter(col("df") >= 5)),

    // Training-data chunking: split each document into fixed-width
    // character windows with overlap (stride < width), the pre-tokenizer
    // segmentation pass. Pure projection (sequence + substring), chunk
    // text summarized as md5 + length so the output stays compact.
    "doc_chunks" -> { (s, dir) =>
      val stride = 150
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            greatest(expr(s"(length(text) - 1) div $stride"), lit(0))))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          expr(s"substring(text, chunk_idx * $stride + 1, 200)").as("chunk"))
        .filter(length(col("chunk")) > 0)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
    },

    // Sequence packing: assign documents to fixed-token-budget packs,
    // greedily in doc_id order WITHIN each source (per-source windows —
    // never a global single-partition cumsum). pack_id = the pack the
    // doc STARTS in: (running-total-before-doc) div budget.
    "sequence_packing" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.bpeTokenCount(col("text"))
            .as("n_tokens"))
        .withColumn("tokens_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("tokens_before div 2000").as("pack_id"))
    },

    // Token-budget head selection — "train on the best documents until
    // the budget is spent": rank the corpus by quality (descending,
    // doc_id tie-break) and keep the prefix whose cumulative trained-BPE
    // token count fits the budget. The cumulative sum is the DISTRIBUTED
    // prefix sum (AnalyticOps.globalRunningSum — range repartition +
    // per-partition offsets), NOT the single-partition global window
    // that dies at 100 TB; integer token counts make every prefix
    // exact, so the oracle's plain window cumsum matches bit-for-bit.
    "token_budget_head" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality"))
        .join(TextOps.bpeTokenCountsWith(docs, "doc_id", "text",
            bpeDict(s, dir))
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
      AnalyticOps.globalRunningSum(scored,
          Seq(col("quality").desc, col("doc_id")), col("n_bpe_tokens"),
          "tokens_cum")
        .filter(col("tokens_cum") <= TokenBudget)
        .select(col("doc_id"), col("n_bpe_tokens"), col("tokens_cum"))
    },

    // Trained-BPE token counts per document — the real-tokenizer upgrade
    // of the regex proxy: a merge table is TRAINED on the corpus
    // (Sennrich-style pair-count iterations, vocabulary-bounded state),
    // and token counts come from the learned symbolization. The oracle
    // replays the identical training recurrence as an unrolled CTE
    // chain (Oracles.bpeDictCtes), so the two engines cannot drift.
    "bpe_token_counts" -> ((s, dir) =>
      TextOps.bpeTokenCountsWith(t(s, dir, "documents"), "doc_id", "text",
        bpeDict(s, dir))),

    // Tokenizer fertility per source — tokens-per-byte is THE tokenizer
    // quality metric (a domain whose text explodes into symbols wastes
    // budget); reported as exact integer sums so the ratio is computed
    // by the consumer, not hashed as a float.
    "bpe_compression_by_source" -> { (s, dir) =>
      val counts = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
        "doc_id", "text", bpeDict(s, dir))
      counts.join(t(s, dir, "documents").select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long").as("__b")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_bpe_tokens")).as("n_tokens"),
          sum(col("__b")).as("n_bytes"))
    },

    // Sequence packing re-expressed over TRUE trained-BPE budgets (the
    // packing twin of sequence_packing, which uses the regex proxy):
    // token budgets are the currency of corpus assembly, so the bin
    // arithmetic should run on what the tokenizer will actually emit.
    "bpe_sequence_packing" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val counts = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
        "doc_id", "text", bpeDict(s, dir))
      // Every packed document is terminated by an <|endoftext|> special
      // token, so its budget cost is n_bpe_tokens + 1 — the separator
      // convention GPT-style packing charges per document boundary.
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(counts.select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .withColumn("tokens_before",
          coalesce(sum(col("n_bpe_tokens") + 1).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          expr(s"tokens_before div $BpePackBudget").as("pack_id"))
    },

    // The tokenization ITSELF (not just counts): each doc's full BPE
    // token sequence under the persisted trained dictionary, word order
    // preserved — what a training-data writer emits. Output carries the
    // md5 of the sequence (driver-hash-friendly) plus its length.
    "bpe_tokenize" -> { (s, dir) =>
      TextOps.bpeTokenizeWith(t(s, dir, "documents"), "doc_id", "text",
          bpeDict(s, dir))
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(col("toks")).as("toks_md5"))
    },

    // Byte-fallback tokenization: the sf-corpus-trained dictionary
    // applied to a corpus with PLANTED out-of-vocabulary words (every
    // 7th doc gets lowercase multibyte tokens the training corpus never
    // saw) — OOV words degrade to one token per UTF-8 byte instead of
    // vanishing from the budget.
    "bpe_token_counts_oov" -> { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" naïve café zürich")).otherwise(lit("")))
          .as("text"))
      TextOps.bpeTokenCountsWith(planted, "doc_id", "text", bpeDict(s, dir))
    },

    // Dataset mixture sampling: per-source keep rates applied via a
    // deterministic uniform hash — the "mix web at 30%, books at 100%"
    // step of corpus assembly. Rates inline on both sides.
    "mixture_sample" -> { (s, dir) =>
      val rate = typedLit(Map("src0" -> 300L, "src2" -> 800L,
        "src3" -> 500L, "src4" -> 0L))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1000L))
      t(s, dir, "documents")
        .filter(h < coalesce(element_at(rate, col("source")), lit(1000L)))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    },

    // Multinomial temperature sampling (alpha = 0.5 via sqrt — exact in
    // IEEE): per-source keep rate proportional to n^alpha / n, so small
    // sources are up-weighted relative to their share — the multilingual
    // mixture-balancing pass. Z folds the per-source sqrt terms in
    // sorted source order (sum-of-doubles order is part of the
    // contract); thresholds are integer 2^20-ths so the per-row keep
    // test is exact.
    "mixture_temperature" -> { (s, dir) =>
      val frac = 0.5
      val docs = t(s, dir, "documents")
      val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val zdf = bySrc.agg(
        aggregate(
          array_sort(collect_list(struct(col("source"),
            sqrt(col("n_src").cast("double")).as("r")))),
          lit(0.0), (a, x) => a + x.getField("r")).as("z"),
        sum(col("n_src")).as("n_total"))
      val rates = bySrc.crossJoin(broadcast(zdf))
        .select(col("source"), col("n_src"),
          floor(least(lit(1.0),
            (lit(frac) * col("n_total").cast("double") *
              sqrt(col("n_src").cast("double"))) /
            (col("z") * col("n_src").cast("double"))) * lit(1048576.0))
            .cast("long").as("thr"))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1048576L))
      docs.join(broadcast(rates), "source")
        .filter(h < col("thr"))
        .groupBy(col("source"))
        .agg(min(col("n_src")).as("n_src"), min(col("thr")).as("thr"),
          count(lit(1)).as("n_kept"))
    },

    // TPC-H q11 shape over the derived partsupp (see Oracles.partsuppCte
    // — integer cents keep every aggregate exact): stock value per part
    // for suppliers in the first five nations, kept where the part's
    // value exceeds 0.1% of the total (integer comparison, no float
    // threshold).
    "q11_important_stock" -> { (s, dir) =>
      val ps = derivedPartsupp(s, dir)
        .join(t(s, dir, "supplier")
          .filter(col("s_nationkey") < 5).select(col("s_suppkey")),
          col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("ps_partkey"),
          (col("ps_cost_cents") * col("ps_availqty")).as("value_cents"))
      val perPart = ps.groupBy(col("ps_partkey"))
        .agg(sum(col("value_cents")).as("part_cents"))
      val total = perPart.agg(sum(col("part_cents")).as("total_cents"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_cents") * 1000 > col("total_cents"))
        .select(col("ps_partkey"),
          (col("part_cents").cast("double") / 100.0).as("stock_value"))
    },

    // TPC-H q2 shape over the derived partsupp: the cheapest supplier
    // per PROMO part among suppliers in the first two regions — the
    // correlated-min pattern as two exact integer min-aggregations
    // (min cents, then min suppkey among ties), top 20 by account
    // balance.
    "q2_min_cost_supplier" -> { (s, dir) =>
      val regionSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_regionkey") < 2).select(col("n_nationkey"),
            col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = derivedPartsupp(s, dir)
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_type") === "PROMO").select(col("p_partkey"))),
          col("ps_partkey") === col("p_partkey"))
        .join(regionSupp.select(col("s_suppkey")),
          col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_cost_cents"))
      val minCost = ps.groupBy(col("ps_partkey"))
        .agg(min(col("ps_cost_cents")).as("min_cents"))
      val winner = ps.join(minCost, Seq("ps_partkey"))
        .filter(col("ps_cost_cents") === col("min_cents"))
        .groupBy(col("ps_partkey"), col("min_cents"))
        .agg(min(col("ps_suppkey")).as("win_suppkey"))
      winner.join(regionSupp, col("win_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("ps_partkey"),
          (col("min_cents").cast("double") / 100.0).as("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("ps_partkey")).limit(20)
    },

    // TPC-H q9 in its TRUE shape (the earlier q9_profit_nation_year used
    // retail price as a cost proxy): profit by supplier nation and order
    // year with the derived partsupp's per-(part, supplier) cost —
    // revenue as an exact decimal sum, cost as an exact integer cents
    // sum, one double subtraction at the end.
    "q9_profit_partsupp" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .filter(col("l_partkey") % 4 === 0) // a quarter of parts, q9's p_name-LIKE analog
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(derivedPartsupp(s, dir),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast("double").as("revenue"),
          (sum(col("ps_cost_cents") * col("l_quantity").cast("long"))
            .cast("double") / 100.0).as("supply_cost"))
        .withColumn("profit", col("revenue") - col("supply_cost"))
    },

    // TPC-H q16 shape over the derived partsupp: distinct supplier count
    // per (brand, type, size) for parts outside one brand.
    "q16_supplier_variety" -> { (s, dir) =>
      derivedPartsupp(s, dir)
        .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#3" && col("p_size") <= 20)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
          col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    },

    // TPC-H q20 shape: suppliers holding excess stock — availqty more
    // than half the 1996 shipped quantity of that (part, supplier).
    // Quantities are integral, so 2*availqty > sum(qty) is an exact
    // integer comparison (no 0.5 float factor).
    "q20_excess_stock" -> { (s, dir) =>
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty_shipped"))
      val excess = derivedPartsupp(s, dir)
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty_shipped"))
        .select(col("ps_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },

    // Skew diagnostic: heaviest keys and their row share — the input to
    // choosing salt counts (SkewOps.keyHistogram).
    "skew_key_histogram" -> ((s, dir) =>
      SkewOps.keyHistogram(t(s, dir, "events"), col("user_id"), 10)),

    // Activity heatmap: events by (day-of-week, hour) — the classic
    // usage-pattern matrix, one hash-agg.
    "activity_heatmap" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(dayofweek(col("ts").cast("timestamp")).as("dow"),
          hour(col("ts").cast("timestamp")).as("hr"))
        .agg(count(lit(1)).as("n_events"))),

    // Conversion latency: exact percentiles of first-view -> first-
    // purchase delay (seconds). Interpolated percentile is bit-exact vs
    // quantile_cont; the delay itself is integer epoch-second math.
    "funnel_latency" -> { (s, dir) =>
      val firsts = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view",
            (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
              .cast("long"))).as("first_view"),
          min(when(col("event_type") === "purchase",
            (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
              .cast("long"))).as("first_purchase"))
        .filter(col("first_view").isNotNull &&
          col("first_purchase") > col("first_view"))
        .select((col("first_purchase") - col("first_view")).as("delay_s"))
      firsts.agg(count(lit(1)).as("n_converted"),
        percentile(col("delay_s"), lit(0.5)).as("p50_s"),
        percentile(col("delay_s"), lit(0.9)).as("p90_s"))
    },

    // Entity resolution: fuzzy supplier-name match (levenshtein <= 2)
    // against planted one-char-dropped corruptions, with prefix+length
    // blocking so the comparison never goes O(n^2) — the blocking join
    // prunes to same-2-char-prefix pairs before any edit distance runs.
    "fuzzy_name_match" -> { (s, dir) =>
      val base = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val corrupted = base.select((col("s_suppkey") + 100000L).as("c_suppkey"),
        // drop the 3rd character: a deterministic 1-edit corruption
        concat(substring(col("s_name"), 1, 2), expr("substring(s_name, 4)"))
          .as("c_name"))
      // Symmetric-delete candidate join (DedupOps.editCandidates): the
      // natural 2-char-prefix block key is DEGENERATE on this corpus
      // (every name starts "Supplier#"), which would collapse blocking
      // to all-pairs — O(N²) levenshteins. Deletion-neighborhood keys
      // stay O(N·L²) regardless of key skew; every original predicate
      // (prefix, length band, dist ≤ 2) is re-applied on the candidate
      // superset, so the result — and the oracle — are unchanged.
      DedupOps.editCandidates(base, corrupted,
          "s_suppkey", "s_name", "c_suppkey", "c_name")
        .filter(substring(col("s_name"), 1, 2) === substring(col("c_name"), 1, 2) &&
          abs(length(col("s_name")) - length(col("c_name"))) <= 1)
        .withColumn("dist", levenshtein(col("s_name"), col("c_name")))
        .filter(col("dist") <= 2)
        .select(col("s_suppkey"), col("c_suppkey"), col("dist"))
    },

    // The deletion-neighborhood blocking's in-gate instrument (the
    // lshBucketLedger pattern for the SymSpell join): block populations
    // + the exact join-row count the candidate stage materializes.
    // Measured verdict (docstring at DedupOps.editBlockLedger): fuzzy
    // match growth on this corpus is intrinsic result density — the
    // exact lev<=2 output itself grows 13.2x at 10x data and candidates
    // stay within 2.7-3.5x of it — so the ledger stands guard instead
    // of a cap (a cap was tested and removed zero candidates).
    "fuzzy_block_ledger" -> { (s, dir) =>
      val base = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val corrupted = base.select((col("s_suppkey") + 100000L).as("c_suppkey"),
        concat(substring(col("s_name"), 1, 2), expr("substring(s_name, 4)"))
          .as("c_name"))
      DedupOps.editBlockLedger(base, corrupted,
        "s_suppkey", "s_name", "c_suppkey", "c_name")
    },

    // Trailing 7-day distinct actives per day: explode each event into
    // the 7 day-buckets it contributes to, then one distinct-agg per
    // day — the bounded-window form of distinct counting (no
    // ever-growing state, shuffle keyed by day).
    "trailing_7d_active_users" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).as("event_day"))
        .select(col("user_id"), explode(sequence(col("event_day"),
          col("event_day") + expr("INTERVAL 6 DAYS"),
          expr("INTERVAL 1 DAY"))).as("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
    },

    // End-to-end corpus assembly pipeline, oracle-checked as a WHOLE:
    // mixture sample → exact dedup (min id per content hash) → quality
    // gate → per-source doc and token totals. The composability proof
    // for the LLM-pipeline operator family.
    "corpus_pipeline" -> { (s, dir) =>
      val rate = typedLit(Map("src0" -> 300L, "src2" -> 800L,
        "src3" -> 500L, "src4" -> 0L))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1000L))
      val kept = t(s, dir, "documents")
        .filter(h < coalesce(element_at(rate, col("source")), lit(1000L)))
      val dedup = kept.groupBy(md5(col("text")).as("__fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      kept.join(dedup, "doc_id")
        .filter(graft.functions.TextFunctions.qualityScore(col("text")) >=
          QualityMin)
        .select(col("source"),
          graft.functions.TextFunctions.bpeTokenCount(col("text"))
            .as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
    },

    // Corpus-commonness score per document: mean corpus frequency of its
    // bigrams — a quality/novelty signal (low = rare vocabulary). The
    // counts dictionary is compact (vocab-scale) so the dictionary join
    // broadcasts under AQE at any corpus size.
    "doc_commonness" -> { (s, dir) =>
      // Shingle once (r21): the exploded bigram rows feed the counts
      // dictionary AND the score join — materialized so the
      // tokenize+bigram chain runs one pass, not two.
      val bigr = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text")))
            .as("bigram")).localCheckpoint(true)
      val counts = bigr.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      bigr.join(counts, "bigram")
        .groupBy(col("doc_id"))
        .agg((sum(col("cnt")).cast("double") /
          count(lit(1)).cast("double")).as("commonness"),
          count(lit(1)).as("n_bigrams"))
    },

    // Size distribution of the duplicate clusters (how big do near-dup
    // families get) — derived from the CC labels.
    "dup_cluster_sizes" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      DedupOps.connectedComponents(docs.select(col("doc_id")),
          bandedPairs(docs), "doc_id")
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
    },

    "funnel_view_click_purchase" -> ((s, dir) =>
      // Ordered conversion funnel: users whose first view precedes their
      // first click precedes their first purchase. One conditional-agg
      // pass (min ts per stage), then a pure ordering predicate.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .withColumn("converted",
          col("first_view") < col("first_click") &&
            col("first_click") < col("first_purchase"))),

    "retention_cohorts" -> ((s, dir) =>
      // Cohort retention: users grouped by first-activity week, counted
      // per subsequent activity week. Two aggregations, both key-local.
      {
        val ev = t(s, dir, "events")
        val cohort = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
          .distinct()
          .join(cohort, "user_id")
          .groupBy(col("cohort_week"), col("active_week"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      }),

    // Audience overlap between event types: exact Jaccard over sorted
    // distinct-user arrays (the codegen'd merge walk again — collected
    // sets are bounded by the user population).
    "type_user_jaccard" -> { (s, dir) =>
      val sets = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sort_array(collect_set(col("user_id"))).as("users"))
        .select(col("event_type"), col("users"),
          size(col("users")).cast("long").as("n"))
      sets.as("a").join(broadcast(sets.as("b")),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          graft.expressions.GraftFunctions.sortedIntersectCount(
            col("a.users"), col("b.users")).as("common"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .withColumn("jaccard", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
        .select(col("type_a"), col("type_b"), col("common"), col("jaccard"))
    },

    // DAU / trailing-7-day WAU per active day: user-day pairs exploded
    // to the 7 days they contribute to, then exact distinct counts —
    // distinct is non-additive, so the explode happens BEFORE the count.
    "dau_wau" -> { (s, dir) =>
      val userDays = t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
      val dau = userDays.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = userDays
        .select(col("user_id"), col("day"), explode(sequence(lit(0), lit(6))).as("k"))
        .select(col("user_id"), expr("timestampadd(DAY, k, day)").as("day"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day").select(col("day"), col("dau"), col("wau"))
    },

    "minmax_by_events" -> ((s, dir) =>
      // Ordered-argument aggregates; the ordering key (event_id) is
      // unique, so results are deterministic across partitionings.
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(max_by(col("user_id"), col("event_id")).as("last_user"),
          min_by(col("user_id"), col("event_id")).as("first_user"),
          max(col("event_id")).as("max_event_id"))),

    "date_functions_orders" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("omonth"),
        quarter(col("o_orderdate")).as("q"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_add(col("o_orderdate"), 30).cast("timestamp").as("d30"),
        last_day(col("o_orderdate")).cast("timestamp").as("dlast"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"))),

    "regexp_extract_props" -> ((s, dir) =>
      // Regex field extraction + rlike filtering over the JSON props
      // payload (pattern valid in both Java regex and RE2).
      t(s, dir, "events")
        .filter(col("props").rlike("\"k\": [0-9]+"))
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
            .cast("long").as("k_val"))),

    "string_functions" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        lpad(col("event_type"), 10, ".").as("padded_l"),
        rpad(col("event_type"), 10, ".").as("padded_r"),
        regexp_replace(col("event_type"), "e", "3").as("leeted"),
        reverse(col("event_type")).as("rev"),
        substring(col("event_type"), 2, 3).as("mid"),
        repeat(col("event_type"), 2).as("doubled"),
        instr(col("event_type"), "c").as("c_pos"),
        concat_ws("|", col("event_type"), col("user_id").cast("string")).as("joined"),
        ltrim(rtrim(col("event_type"))).as("trimmed"),
        element_at(split(col("props"), "\\{"), -1).as("after_brace"))),

    "array_functions" -> { (s, dir) =>
      import graft.functions.TextFunctions.tokens
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).as("n"),
          array_join(slice(col("tk"), 1, 3), " ").as("first3"),
          array_contains(col("tk"), "the").as("has_the"),
          array_position(col("tk"), "the").as("pos_the"),
          size(array_distinct(col("tk"))).as("n_distinct"),
          element_at(col("tk"), -1).as("last_tok"))
    },

    "bitwise_functions" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        col("event_id").bitwiseAND(255L).as("lo_byte"),
        col("event_id").bitwiseOR(lit(4096L)).as("with_flag"),
        col("event_id").bitwiseXOR(col("user_id")).as("xored"),
        shiftleft(col("event_id"), 3).as("shl3"),
        shiftright(col("event_id"), 2).as("shr2"),
        bit_count(col("event_id")).as("popcount"))),

    "null_handling" -> ((s, dir) =>
      // Conditional/null scalar family over planted nulls (the testdata
      // itself is null-free): nullif plants them, the rest handle them.
      t(s, dir, "orders").select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("maybe_status"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or"),
        when(col("o_totalprice") > 300000.0, col("o_totalprice")).as("big_or_null"),
        nvl2(nullif(col("o_orderstatus"), lit("O")), lit(1L), lit(0L)).as("has_status"),
        greatest(col("o_custkey"), col("o_orderkey") % 1000).as("g"),
        least(col("o_custkey"), col("o_orderkey") % 1000).as("l"))),

    "having_big_customers" -> ((s, dir) =>
      // GROUP BY + HAVING: repeat customers, with their latest order ts.
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_orderdate")).as("last_order"))
        .filter(col("n_orders") >= 12)),

    "token_counts" -> ((s, dir) =>
      // Whitespace vs BPE-ish subword token budgets per document.
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"))),

    // SCD2 history-keeping upsert: replaced current rows get their
    // validity interval closed instead of being deleted (the
    // history-auditable variant of the reference's L3 merge).
    "load_scd2_merge" -> { (s, dir) =>
      val target = t(s, dir, "orders")
        .withColumn("valid_from", lit("1990-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      LoadOps.scd2Merge(target, stagedOrders(s, dir), "o_orderkey",
        lit("2000-01-01"))
    },

    // ---- corpus scoring / profiling / sampling ----
    "tfidf_top_terms" -> { (s, dir) =>
      // Top-3 tf-idf terms per document. Score = (tf · N) / df — exact
      // integer product, one double division (ln-free so both engines
      // produce identical bits; the ranking is the same as classic
      // tf·idf at fixed N). N rides along as a broadcast scalar.
      import graft.functions.TextFunctions.{normalized, tokens}
      val docs = t(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(tokens(normalized(col("text")))).as("term"))
      // tf feeds the df dictionary AND the score join (r21): one
      // materialization instead of re-running the explode+groupBy.
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")).localCheckpoint(true)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rnk", rank().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term"))))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rnk"))
    },

    "profile_orders" -> ((s, dir) =>
      // One-pass table profiling (row count, per-column cardinalities,
      // value ranges) — the data-quality summary a pipeline runs before
      // training ingestion.
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderstatus")).as("d_status"),
        countDistinct(col("o_orderpriority")).as("d_priority"),
        countDistinct(col("o_custkey")).as("d_custkey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"))),

    // Reproducible global shuffle + fixed-size sharding — the export
    // step of every pretraining pipeline (shuffle the corpus into a
    // deterministic pseudorandom order, cut into equal document
    // shards). Order key = seeded md5 hash, so the permutation is
    // stable across runs, engines, and partitionings; the global rank
    // is the range-partitioned distributed row number (no
    // single-partition window); per-shard token totals are what the
    // writer needs to budget output files.
    "shuffled_shard_plan" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.hash60(concat(lit("shard-seed-7:"),
          col("doc_id").cast("string"))).as("__k"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("__ntok"))
      AnalyticOps.globalRowNumber(keyed,
          Seq(col("__k"), col("doc_id")), "rank")
        .select(expr(s"(rank - 1) div $ShardSize").as("shard_id"),
          col("__ntok"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
    },

    // Token-granular sequence packing — the GPT-style pretraining export
    // step (concatenate the corpus in a seeded shuffled order, cut into
    // fixed-seqLen chunks; documents may span pack boundaries). Each
    // doc's token span [cum - nt, cum) is located against the S-token
    // grid with pure integer arithmetic over ONE distributed prefix sum
    // (range-partitioned, per-partition totals — no global window).
    // Unlike shuffled_shard_plan (fixed DOC-count shards), boundaries
    // here are token-exact: start pack, offset within it, and how many
    // packs the doc spans — what a sequence-packing writer consumes.
    "sequence_pack_plan" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.hash60(concat(lit("pack-seed-7:"),
          col("doc_id").cast("string"))).as("__k"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      AnalyticOps.globalRunningSum(keyed,
          Seq(col("__k"), col("doc_id")), col("nt"), "cum")
        .select(col("doc_id"), col("nt"),
          expr(s"(cum - nt) div $PackSeqLen").as("start_pack"),
          expr(s"(cum - nt) % $PackSeqLen").as("pack_off"),
          (expr(s"(cum - 1) div $PackSeqLen") -
            expr(s"(cum - nt) div $PackSeqLen") + lit(1L)).as("n_spans"))
    },

    // The same packing under the TRAINED BPE dictionary — what the
    // export actually budgets with: token counts from the persisted
    // merge dict (train-once artifact), then the identical grid
    // arithmetic. Composes two independently-green chains.
    "sequence_pack_plan_bpe" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val nt = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
          "doc_id", "text", bpeDict(s, dir))
        .select(col("doc_id"),
          TextFunctions.hash60(concat(lit("pack-seed-7:"),
            col("doc_id").cast("string"))).as("__k"),
          col("n_bpe_tokens").as("nt"))
      AnalyticOps.globalRunningSum(nt,
          Seq(col("__k"), col("doc_id")), col("nt"), "cum")
        .select(col("doc_id"), col("nt"),
          expr(s"(cum - nt) div $PackSeqLen").as("start_pack"),
          expr(s"(cum - nt) % $PackSeqLen").as("pack_off"),
          (expr(s"(cum - 1) div $PackSeqLen") -
            expr(s"(cum - nt) div $PackSeqLen") + lit(1L)).as("n_spans"))
    },

    "deterministic_sample" -> ((s, dir) =>
      // Hash-bucket sampling: reproducible across runs, engines, and
      // partitionings (unlike df.sample) — the train/eval-split
      // primitive. md5-derived bucket so the oracle reproduces it.
      t(s, dir, "documents")
        .filter(pmod(graft.functions.TextFunctions.hash60(
          col("doc_id").cast("string")), lit(10)) === 0)
        .select(col("doc_id"), col("lang"), col("source"))),

    "trailing_7d_revenue" -> { (s, dir) =>
      // Trailing 7-day revenue per active day, WITHOUT a global range
      // window (single-partition at scale): each day's decimal revenue
      // is exploded to the 7 days it contributes to and re-aggregated —
      // decimal addition is associative, so re-merging is exact.
      val dec = DecimalType(18, 2)
      val daily = t(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev"))
      val contrib = daily
        .select(col("rev"), col("day"), explode(sequence(lit(0), lit(6))).as("k"))
        .select(expr("timestampadd(DAY, k, day)").as("day"), col("rev"))
        .groupBy(col("day")).agg(sum(col("rev")).cast("double").as("rev_7d"))
      contrib.join(daily.select(col("day")), "day")
        .select(col("day"), col("rev_7d"))
    },

    // End-to-end near-dedup: candidates → keep list (lowest-id
    // representative survives; the corpus a training run would ingest).
    "dedup_near_keep" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= MinhashMinEst)
      DedupOps.keepAfterNearDedup(docs, pairs, "doc_id")
        .select(col("doc_id"))
    },

    // The PRECISION form of the keep: est-passing candidates are
    // re-checked against their TRUE shingle Jaccard before any doc is
    // dropped ([[DedupOps.exactShingleJaccard]] — pair-count-sized
    // work on top of the banded candidates). Justified by a measured
    // number, not caution: at 8×10¹⁰ implicit pair tests the K = 32
    // estimator false-positived at est 0.53 on a true-J-0.07 pair
    // (SCALING.md "exactness has a measured domain"), so
    // precision-critical dedup verifies before it deletes.
    "dedup_near_keep_verified" -> { (s, dir) =>
      val docs = plantedDocs(s, dir)
      val confirmed = DedupOps.verifyPairsExact(
        DedupOps.minhashCandidates(docs, "doc_id", "text")
          .filter(col("est_jaccard") >= MinhashMinEst),
        "id_a", docs, "id_b", docs, "doc_id", "text", MinhashMinEst)
        .select(col("id_a"), col("id_b"))
      DedupOps.keepAfterNearDedup(docs, confirmed, "doc_id")
        .select(col("doc_id"))
    },

    // Cross-table feature assembly: documents joined to their embedding
    // row (text features + vector stats in one projection).
    "docs_with_embeddings" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          SimilarityOps.norm(col("embedding")).as("emb_norm"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("label"), col("emb_norm"))
    },

    // Stratified deterministic split: hash-bucket train/eval assignment,
    // counted per (language, split) — reproducible across engines and
    // partitionings.
    "stratified_split_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("split",
          when(pmod(graft.functions.TextFunctions.hash60(
            col("doc_id").cast("string")), lit(10)) < 8, "train")
          .otherwise("eval"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))),

    // ---- skew handling (salted forms; results identical to the
    // unsalted plans, which the oracles verify) ----
    "salted_agg_events" -> ((s, dir) =>
      SkewOps.saltedSumCount(t(s, dir, "events"),
        col("event_type"), "event_type",
        pmod(col("event_id"), lit(16)), col("value"))),

    "salted_join_customer_orders" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val fact = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"), col("o_orderkey"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      SkewOps.saltedJoin(fact, dim, "custkey", 8, col("o_orderkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    },

    // Bloom-prefiltered join: the selective order subset's keys become a
    // distributed-built Bloom sketch; lineitem rows are probed against it
    // BEFORE the join shuffle (only ~might-match rows move), then the
    // equi-join removes false positives — row-identical to the plain
    // join, at a fraction of the shuffled bytes.
    "bloom_prefilter_join" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val small = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      SkewOps.bloomPrefilteredJoin(big, small, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
    },

    // ---- TPC-H q17 shape: aggregate-derived per-group threshold
    // (scalar subquery as a join against the per-part averages) ----
    "q17_small_quantity" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val brandParts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg((sum(col("l_quantity").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("avg_qty"))
      li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast(dec)).cast("double") / lit(7.0))
          .as("avg_yearly"))
    },

    "supplier_nation_acctbal" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(dec)).cast("double").as("total_acctbal"))
    },

    // TPC-H q4 shape: EXISTS decorrelated to a left-semi join — orders
    // with at least one lineitem shipped >60 days after order date.
    // The semi join shuffles on the order key once; no row duplication.
    "q4_priority_exists" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > expr("timestampadd(DAY, 60, o_orderdate)"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H q10 shape: returned-item revenue per customer, global top-20
    // via TakeOrderedAndProject (partial per-partition top-k, no global
    // sort). Nation broadcasts; the fact-side join shuffles once.
    "q10_returned_revenue" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      returned.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // TPC-H q12 shape: late-shipment share per priority (conditional
    // aggregation over the orders×lineitem join).
    "q12_late_shipments" -> { (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("l_shipdate") > expr("timestampadd(DAY, 90, o_orderdate)"), 1L)
          .otherwise(0L)).as("late_count"),
          count(lit(1)).as("total_count"))
    },

    // TPC-H q13: customer order-count distribution — left join preserving
    // order-less customers, then a histogram of the per-customer counts.
    "q13_customer_distribution" -> { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H q14 shape: promo revenue share — two decimal sums in one
    // pass over the part-joined lineitems, ratio taken in double.
    "q14_promo_revenue" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val discPrice = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", discPrice).otherwise(lit(0).cast(dec)))
          .cast("double").as("promo_revenue"),
          sum(discPrice).cast("double").as("total_revenue"))
        .select((lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_pct"),
          col("promo_revenue"), col("total_revenue"))
    },

    // TPC-H q18 shape: large-volume orders (HAVING over the lineitem
    // rollup, then joined back to order/customer detail).
    "q18_large_orders" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
    },

    // TPC-H q19 shape: disjunctive brand/size/quantity bands — the whole
    // OR-of-ANDs predicate evaluates inside one codegen'd filter after a
    // broadcast join with part.
    "q19_band_revenue" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_type") === "PROMO" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 40)))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // TPC-H q22 shape: above-average-balance customers with no URGENT
    // orders (every customer has SOME order in this data, so the classic
    // no-orders predicate would be vacuous). The average is an exact
    // decimal-sum scalar (broadcast cross join), so the threshold
    // comparison is bit-identical to the oracle; the NOT EXISTS is a
    // left-anti join.
    "q22_idle_customers" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("__avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
    },

    // TPC-H q7 shape: shipping volume between a nation pair, by ship year.
    // Both dimension sides are pre-filtered to the two nations BEFORE the
    // fact join (at 100 TB this shrinks supplier/customer by ~12x each and
    // lets AQE pick broadcast for the dim sides); nation itself is
    // broadcast explicitly.
    "q7_volume_shipping" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
    },

    // TPC-H q8 shape: one nation's market share of revenue sold into a
    // region, by order year. Share = decimal-sum(conditional) over
    // decimal-sum(total), divided once in double (bit-identical both
    // engines).
    "q8_market_share" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val asiaCust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val vol = (col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast(dec))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
    },

    // TPC-H q9 shape (adapted: no partsupp table in this corpus, so unit
    // cost is p_retailprice): profit by supplier nation and order year
    // over parts whose name contains 'red'. Part/supplier dims pre-pruned
    // and broadcast-joined; profit stays decimal until the final cast.
    "q9_profit_nation_year" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val redParts = t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)) -
          col("p_retailprice").cast(dec) * col("l_quantity").cast(dec))
          .cast("double").as("profit"))
    },

    // TPC-H q15 shape: supplier(s) with the maximum revenue over a fixed
    // quarter. The max is taken on the EXACT decimal sum (not the double
    // projection), so the tie comparison is bit-identical to the oracle;
    // the scalar max joins back via broadcast.
    "q15_top_supplier" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))).as("rev_dec"))
      rev.crossJoin(broadcast(rev.agg(max(col("rev_dec")).as("max_rev"))))
        .filter(col("rev_dec") === col("max_rev"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_rev"))
    },

    // TPC-H q21 shape (adapted: late = shipped >60 days after order date;
    // this corpus has no commit/receipt dates): suppliers who were the
    // SOLE late supplier on a multi-supplier finalized order. The
    // correlated EXISTS / NOT EXISTS pair is reformulated as one
    // per-order aggregate (distinct suppliers vs distinct late suppliers)
    // — a single extra shuffle instead of two correlated self-joins.
    "q21_waiting_supplier" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      // Two-level agg instead of two countDistincts in one aggregate
      // (which would plan a 3x Expand): per-(order, supplier) late flag,
      // then per-order counts.
      val perOrder = li.groupBy(col("o_orderkey").as("po_orderkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(max(col("late")).as("supp_late"))
        .groupBy(col("po_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late_supp"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        .select(col("po_orderkey"))
      li.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("po_orderkey"), "left_semi")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },

    // Relational reshaping: UNPIVOT (melt) the four lineitem measures to
    // long form, then re-aggregate. Narrow-to-long is a pure projection
    // (4x row explosion, no shuffle until the final 4-group agg).
    "unpivot_lineitem" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(sum(col("val").cast(dec)).cast("double").as("total"),
          count(lit(1)).as("n"))
    },

    // Map-typed column family: build a per-user event_type->count map
    // (map_from_entries over a sorted entry array so key order is
    // deterministic), then read it back via map_keys / element_at /
    // transform_values / a fold over map_values. Output stays scalar
    // (driver compare cannot hash map cells).
    "map_functions_events" -> { (s, dir) =>
      val perType = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      perType.groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          array_join(map_keys(col("m")), ",").as("types"),
          element_at(col("m"), "click").as("click_cnt"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
            .as("total_events"),
          element_at(transform_values(col("m"), (_, v) => v * 2), "view")
            .as("view_x2"))
    },

    // Window navigation with null skipping: first/last/nth non-null value
    // per user (nulls planted at value<10). Unique (ts, event_id) order
    // key keeps frames deterministic.
    "window_ignore_nulls" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("value") >= 10.0, col("value")).as("v"))
        .select(col("event_id"), col("user_id"),
          first(col("v"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_v"),
          last(col("v"), ignoreNulls = true).over(wAll).as("last_v"),
          nth_value(col("v"), 2, ignoreNulls = true).over(wAll).as("second_v"))
    },

    // Time-series gap fill: left-join a generated daily date spine
    // (sequence over the min/max bounds, broadcast scalar) against sparse
    // per-day aggregates and zero-fill the holes. URGENT orders are
    // sparse enough (~1/day) that real gaps exist at every SF.
    "gap_fill_daily" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(date_trunc("day", col("o_orderdate")).as("day"),
          col("o_totalprice"))
      val daily = urgent.groupBy(col("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
      val spine = urgent
        .agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
        .select(explode(sequence(col("mind"), col("maxd"),
          expr("INTERVAL 1 DAY"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
    },

    // Time-weighted average per user: each value holds until the next
    // event; TWA = Σ(value·dt) / Σdt. All arithmetic is integer fixed
    // point (2^24 scale; epoch-second deltas via integer µs division)
    // until ONE final double division, so both engines fold identically.
    "time_weighted_value" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val secs = (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
        .cast("long")
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * lit(16777216L)).cast("long").as("v_fp"),
          secs.as("t_s"))
        .withColumn("next_s", lead(col("t_s"), 1).over(w))
        .filter(col("next_s").isNotNull)
        .withColumn("dt", col("next_s") - col("t_s"))
        .groupBy(col("user_id"))
        .agg((sum(col("v_fp") * col("dt")).cast("double") /
          (sum(col("dt")) * lit(16777216L)).cast("double")).as("twa"),
          sum(col("dt")).as("span_s"))
    },

    // Lateral explode with position: first five words per document via
    // posexplode_outer (docs with no tokens would still surface one
    // null row — generator variant coverage).
    "lateral_explode_words" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode_outer(slice(split(col("text"), "\\s+"), 1, 5))
            .as(Seq("pos", "word")))
    },

    // Percent-of-total: each priority's share of global revenue. The
    // global total is an exact decimal scalar broadcast back (NOT an
    // unpartitioned window — that would serialize the whole table
    // through one task); one double division on each side.
    "revenue_share_by_priority" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val byP = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev_dec"),
          count(lit(1)).as("n_orders"))
      val tot = byP.agg(sum(col("rev_dec")).as("tot_dec"))
      byP.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"),
          col("rev_dec").cast("double").as("revenue"),
          (col("rev_dec").cast("double") / col("tot_dec").cast("double"))
            .as("share"),
          col("n_orders"))
    },

    // RANGE window frame over event time: per-customer trailing-30-day
    // spend, the value-based frame (every row its own anchor) that ROWS
    // frames can't express. Ordered on epoch seconds so both engines
    // frame identically; decimal running sum so partial order is exact.
    "range_frame_spend" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dec = DecimalType(18, 2)
      val w = Window.partitionBy(col("o_custkey"))
        // NTZ → timestamp (UTC session) → epoch seconds
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(dec)).over(w)
            .cast("double").as("spend_30d"))
    },

    // Semi-structured column via Spark 4 VariantType: parse the JSON
    // props payload once, then typed-path extraction (the open-schema
    // path for event properties — no fixed StructType required).
    "variant_props" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          parse_json(col("props")).as("v"))
        .select(col("event_id"),
          try_variant_get(col("v"), "$.k", "int").as("k_int"),
          try_variant_get(col("v"), "$.missing", "string").as("missing_str"),
          is_variant_null(col("v")).as("v_isnull"))
    },

    // Mergeable-sketch rollup — THE re-aggregation pattern at 100 TB:
    // build one bottom-k sketch per (type, day) partial, then merge the
    // partials up to per-type totals WITHOUT touching raw rows again
    // (daily partials are what a warehouse persists; re-scanning
    // history to count distincts is the anti-pattern). KMV merge is
    // exactly lossless (bottom-k of the partial union == bottom-k of
    // the full data), so unlike the HLL twin (SketchOps.hllRollup,
    // tolerance-spec'd) this form is oracle-hashable.
    "kmv_sketch_rollup" -> ((s, dir) =>
      SketchOps.kmvRollup(t(s, dir, "events"), col("event_type"),
        date_trunc("day", col("ts")), col("user_id"), KmvK)),

    // Balanced subsampling: a fixed-size deterministic sample per group
    // (reservoir-equivalent at scale — rank over a uniform md5 hash key,
    // partial WindowGroupLimit keeps the shuffle at k rows per partition
    // per group). The LLM-pipeline "cap examples per source" op.
    "sample_k_per_group" -> { (s, dir) =>
      val hashed = t(s, dir, "events").select(col("event_type"), col("event_id"),
        graft.expressions.GraftFunctions.md5PrefixLong(
            col("event_id").cast("string"), 15).as("hkey"))
      AnalyticOps.topKPerGroup(hashed, Seq(col("event_type")),
          Seq(col("hkey"), col("event_id")), 5)
        .select(col("event_type"), col("event_id"))
    },

    // Outlier capping (winsorization): clamp each value into its group's
    // [p5, p95] band. Exact interpolated percentiles (bit-identical to
    // DuckDB quantile_cont), broadcast back — no second shuffle of the
    // fact side.
    "winsorized_values" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val qs = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("lo"),
          percentile(col("value"), lit(0.95)).as("hi"))
      ev.join(broadcast(qs), "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("v_capped"))
    },

    // Z-order (Morton) interleaved key over (user, day) — the clustering
    // key LayoutOps.zorder lays files out by so min/max stats prune on
    // BOTH dimensions at 100 TB. The oracle SQL is generated from the
    // same bit-interleave loop (LayoutOps.zValue2Sql), so the arithmetic
    // cannot drift between engines.
    "zorder_key_events" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"))
        .select(col("event_id"),
          LayoutOps.zValue2(col("x"), col("y")).as("zval"))
    },

    // Hilbert-curve layout key (space-filling alternative to the Morton
    // code: consecutive indexes are always adjacent cells, so
    // range-partitioned files get tighter bounding boxes).
    "hilbert_key_events" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"))
        .select(col("event_id"),
          LayoutOps.hilbert2(col("x"), col("y")).as("hval"))
    },

    // Exact least-squares trend per event type: slope of value vs
    // epoch-day from integer moment sums (x exact int days, y in 2^24
    // fixed point; BIGINT partials, DECIMAL(38,0) combination, ONE
    // double division at the end — the regr_slope the engines can't be
    // trusted to fold identically, done exactly).
    "value_trend_by_type" -> { (s, dir) =>
      val d38 = DecimalType(38, 0)
      t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("value") * lit(16777216L)).cast("long").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"),
          ((col("n").cast(d38) * col("sxy").cast(d38) -
            col("sx").cast(d38) * col("sy").cast(d38)).cast("double") /
          ((col("n").cast(d38) * col("sxx").cast(d38) -
            col("sx").cast(d38) * col("sx").cast(d38)).cast("double") *
            lit(16777216.0))).as("slope_per_day"),
          col("n"))
    },

    // Month-over-month revenue growth via a self-join on the aggregated
    // month table (NOT an unpartitioned lag window — the raw data never
    // passes through a single partition; the tiny month table joins to
    // itself broadcast).
    "revenue_mom_growth" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev_dec"))
      val prev = m.select(expr("month + INTERVAL 1 MONTH").as("month"),
        col("rev_dec").as("prev_dec"))
      m.join(broadcast(prev), Seq("month"), "left")
        .select(col("month"), col("rev_dec").cast("double").as("revenue"),
          ((col("rev_dec") - col("prev_dec")).cast("double") /
            col("prev_dec").cast("double")).as("mom_growth"))
    },

    // Null-safe equality join (<=>): planted nulls on both sides still
    // pair up — the semantics a plain equi-join silently drops.
    "null_safe_join_counts" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("ck"))
      val nat = t(s, dir, "nation")
        .select(nullif(col("n_nationkey"), lit(3)).as("nk"), col("n_name"))
      cust.join(broadcast(nat), col("ck") <=> col("nk"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
    },

    // Top-k as a typed Aggregator (graft.functions.TopKLargest): partial
    // k-bounded buffers merge map-side, so the shuffle carries only
    // O(groups*k*partitions) rows — the aggregation form of top-k next
    // to the WindowGroupLimit form (topk_orders_by_priority). Same
    // oracle family: unique (value desc, id) order.
    "topk_agg_revenue" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          col("o_totalprice").as("value"), col("o_orderkey").as("id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(r => graft.functions.TopKItem(r._2, r._3))
        .agg(graft.functions.TopKAgg.topKLargest(5).name("topk"))
        .toDF("o_orderpriority", "topk")
        .select(col("o_orderpriority"),
          posexplode(col("topk.items")).as(Seq("pos", "item")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
          col("item.id").as("o_orderkey"),
          col("item.value").as("o_totalprice"))
    },

    // Markov transition counts: consecutive order-priority pairs per
    // customer (lag over the per-customer order sequence) — the
    // behavioral sequence-model building block.
    "priority_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"),
          lag(col("o_orderpriority"), 1).over(w).as("prev_priority"))
        .filter(col("prev_priority").isNotNull)
        .groupBy(col("prev_priority"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },

    // Engagement distribution: how many users fall in each activity
    // band (events-per-user, bucketed by 10s) — two cheap aggregations.
    "user_activity_histogram" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .groupBy(expr("n_events div 10").as("bucket"))
        .agg(count(lit(1)).as("n_users"))
    },

    // SQL front-end parity: the same q6 semantics submitted as ANSI SQL
    // through spark.sql over a temp view (Catalyst plans both forms to
    // the same physical plan; the oracle is shared with q6_revenue_band).
    "sql_interface_q6" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_sqlv")
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem_sqlv
          |WHERE l_discount >= 0.05 AND l_discount <= 0.07
          |  AND l_quantity < 24.0""".stripMargin)
    },

    // Data-quality gate: violation counts per failed-rule combination
    // (LoadOps.expectations — the declarative generalization of
    // MAXERROR from parse errors to arbitrary predicates).
    "expectation_violations" -> { (s, dir) =>
      val (_, bad) = LoadOps.expectations(t(s, dir, "orders"), Map(
        "status_final" -> (col("o_orderstatus") === "F"),
        "price_under_300k" -> (col("o_totalprice") < 300000.0)))
      bad.groupBy(col("failed_rules")).agg(count(lit(1)).as("n"))
    },

    // LSH-bucketed ANN (random hyperplanes + multiprobe): the second
    // scale path next to IVF — bucketing is a pure projection (no
    // centroid pass), so it composes with streaming ingest. The planes
    // are md5-derived and the dot is fold-ordered, so the DuckDB oracle
    // reproduces the exact bucketing + re-rank (plane constants embedded
    // in the generated SQL from the same lshPlanes function); the recall
    // spec covers what the oracle can't (planted-pair quality).
    "knn_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.lshKnn(probes, corpus, KnnK, nPlanes = LshNPlanes)
        .select(col("probe_id"), col("vec_id"), round(col("sim"), 9).as("sim"))
    },

    // 3-D Morton key (user, day, hour-of-day) — the k>2 generalization;
    // oracle generated from the same interleave loop.
    "zorder3_key_events" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"),
          hour(col("ts").cast("timestamp")).as("z"))
        .select(col("event_id"),
          LayoutOps.zValueN(Seq(col("x"), col("y"), col("z")), 16)
            .as("zval"))
    },

    // Deterministic hash-sampled exact percentiles — the oracle-able
    // counterpart of approx_percentile (SketchOps.approxPercentiles is
    // the tolerance-spec'd KLL twin): a 1-in-SampleMod md5 sample of
    // rows (same set in both engines), exact interpolated percentiles
    // on the sample. The 100 TB shape — replace the impossible
    // full-data sort with a sample small enough to aggregate exactly.
    "sampled_percentiles_value" -> ((s, dir) =>
      SketchOps.sampledPercentiles(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value"), SampleMod,
        Seq(0.5 -> "p50_sampled", 0.95 -> "p95_sampled"))),

    // Fixed-width histogram over order totals: integer-exact bucketing
    // (cents div bucket width — identical integer arithmetic in both
    // engines; see scalar_functions' value_cents precedent). One
    // hash-agg, fully codegen'd.
    "price_histogram" -> { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) div 2500000")
          .as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    },

    // ---- CSV encode/decode round-trip (T1/T2 family, CSV flavor) ----
    "csv_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.select(to_csv(struct(docs.columns.map(col).toIndexedSeq: _*)).as("line"))
        .select(from_csv(col("line"), docs.schema,
          Map.empty[String, String]).as("r"))
        .select("r.*")
    },

    // ---- multimodal frame sampling (oracle-checked via frame lengths:
    // the sliced payload bytes themselves are summarized as octet counts
    // so the output stays scalar) ----
    "multimodal_frames" -> ((s, dir) =>
      MultimodalOps.frameSample(
        MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text"),
        "doc_id", frameBytes = 256, every = 2)
        .select(col("doc_id"), col("frame_no"),
          octet_length(col("frame_bytes")).as("frame_len"))),

    // Embedding-cosine near-dup on the planted corpus (every 20th vector
    // ∪ a copy with the last component zeroed — cosine ≈ 0.992): exact
    // all-pairs baseline on the bounded subset; SimilarityOps
    // .embeddingNearDup is the bucketed scale path (spec-checked).
    "embedding_near_dup" -> { (s, dir) =>
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding").as("vec"))
      val planted = base.unionByName(base.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec")))
      SimilarityOps.exactNearDup(planted, EmbNearDupMin)
    },

    // Deterministic distributed k-means — the TRAINING query of the
    // quantizer family: trains (once) and persists the coarse-quantizer
    // artifact in the model store, returning its summary. Every other
    // trained-quantizer query below READS this artifact.
    "kmeans_centroids" -> { (s, dir) =>
      coarseCentroids(s, dir)
        .select(col("cent_id"), col("n_members"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("centroid_norm"))
    },

    // PQ TRAINING query: trains (once) and persists the per-subspace
    // sub-codebooks; returns per-(sub, code) norms — the artifact's
    // oracle-checkable fingerprint.
    "pq_train_codebooks" -> { (s, dir) =>
      pqBooks(s, dir)
        .select(col("sub"), col("cent_id"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("code_norm"))
    },

    // Residual-PQ TRAINING query: sub-codebooks over vec − coarse cell
    // (reads the persisted coarse quantizer, trains+persists the
    // residual books).
    "pq_train_codebooks_residual" -> { (s, dir) =>
      pqResBooks(s, dir)
        .select(col("sub"), col("cent_id"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("code_norm"))
    },

    // BPE TRAINING query: the trained merge dictionary itself (word,
    // count, symbolization) — persisted once per corpus; the tokenizer
    // queries read it.
    "bpe_train_dict" -> { (s, dir) =>
      bpeDict(s, dir).select(col("word"), col("cnt"), col("s"))
    },

    // IVF search over the TRAINED quantizer (FAISS-style): L2
    // nearest-centroid buckets from the PERSISTED Lloyd-refined
    // centroids, cosine re-rank inside nprobe buckets. Search-only: the
    // quantizer comes from the model store.
    "knn_ivf_trained" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.ivfKnnTrained(probes, corpus, KnnK,
          coarseCentroids(s, dir), nprobe = IvfNprobe)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // The corpus-tracking-C twin of knn_ivf_pq_residual: identical search
    // over artifacts whose coarse quantizer derives C = ceil(sqrt(N)) from
    // the corpus count at train time. With fixed C the per-probe ADC
    // scan grows with N; at C ~ sqrt(N) it grows with sqrt(N) — this
    // entry keeps the scale-honest configuration oracle-checked (and
    // the _p1k ledger twin measures its per-probe law directly).
    "knn_ivf_pq_autoc" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      // r19 default flip: residual coding under the auto-C/auto-rerank
      // policy is the committed production configuration — it beats the
      // non-residual autoc search at 1x/10x/100x on recall AND per-probe
      // cost (SCALING.md round-19 ledger pair), so this row, the recall
      // contracts below, and the streaming drifted index all serve it.
      SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqAutoRerank)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // Recall contract for the corpus-tracking-C configuration: nprobe/C
    // COVERAGE shrinks as C grows (3 of 45 cells at sf0.1), so the
    // speed the _p1k ledger row measures must carry this number or it
    // could be "fast because it probes nothing".
    "knn_pq_autoc_recall" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqAutoRerank)
      }
    },

    // The recall LEVER at corpus-tracking C, measured: same auto-C
    // artifacts, nprobe tripled (9 of ⌈√N⌉ cells). Per-probe cost is
    // nprobe·√N — linear in nprobe — so this row plus the one above
    // make the coverage/recall trade a two-point measured curve at
    // every gate scale instead of a tuning folk theorem.
    "knn_pq_autoc_recall_np9" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = 3 * IvfNprobe, rerank = PqAutoRerank)
      }
    },

    // The committed auto-rerank ARITHMETIC, oracle-pinned (the auto-C
    // pattern: when a default is derived from the corpus, the gate must
    // reproduce the derivation, not trust it): one row of the exact
    // integer/IEEE quantities the rerank<=0 path computes in-query.
    // Any change to the formula, floor or coupling moves this row and
    // fails the hash gate — the scale policy is a pinned contract, not
    // a constant hidden in a default argument.
    "knn_pq_auto_rerank" -> { (s, dir) =>
      SimilarityOps.autoRerankStats(embCorpus(s, dir))
    },

    // OFF-MANIFOLD recall contract (r16 verdict ask #2): the
    // on-manifold contracts above stayed green across rounds while the
    // 100x ledgers showed off-manifold recall collapsing — the probes
    // that hurt are the ones no gate row watched. This row runs the
    // PRODUCTION configuration (auto-C artifacts, nprobe 3, committed
    // auto rerank) against hash-synthesized probes 4x outside the
    // corpus envelope, as oracle-checked integer counts at both gate
    // scales: any future ANN default change moves n_pq/n_hit here, so
    // off-manifold regressions are gate failures, not
    // ledger-archaeology.
    "knn_offmanifold_recall" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq",
          probesOpt = Some(offManifoldProbes(s))) { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqAutoRerank)
      }
    },

    // Untrained-IVF recall contract: with scale-aware C = ceil(sqrt(N))
    // the probed fraction nprobe/C shrinks as the corpus grows — this
    // entry measures whether recall holds anyway (exact cosine inside
    // finer cells), at both gate scales.
    "knn_ivf_recall" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_ivf") { (probes, corpus) =>
        SimilarityOps.ivfKnn(probes, corpus, KnnK,
          centroidTarget = IvfAutoC, nprobe = IvfNprobe)
      }
    },

    // Sign-hyperplane LSH twin of the recall contract — with this the
    // whole approximate-kNN family (IVF, LSH, PQ, residual PQ) carries a
    // pinned recall number against the one brute-force truth.
    "knn_lsh_recall" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_lsh") { (probes, corpus) =>
        SimilarityOps.lshKnn(probes, corpus, KnnK, nPlanes = LshNPlanes)
      }
    },

    // The ANN recall CONTRACT, measured in-gate (the quantizer's recall
    // is a number the gate pins, not a docstring claim — the MinHash
    // family got this treatment in dedup_minhash_recall; this is the
    // embedding-side twin): recall@k of the fixed-C IVF-PQ search
    // against the brute-force truth, as one row of integer counts.
    "knn_pq_residual_recall" -> { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndex(s, dir), KnnK, coarseCentroids(s, dir),
          pqResBooks(s, dir), PqSubDim, nprobe = IvfNprobe, rerank = PqRerank)
      }
    },

    // IVF-PQ (Jégou et al. 2011) — the full FAISS IVFPQ and the
    // memory/IO companion of knn_ivf_trained, SEARCH PHASE ONLY: coarse
    // centroids, residual sub-codebooks and the coded index are
    // persisted model-store artifacts; codes quantize vec −
    // coarse_centroid, probe LUTs are per probed cell, candidates travel
    // as m small codes — never the 64 floats — and the exact cosine
    // re-rank touches the ADC-best shortlist only.
    "knn_ivf_pq_residual" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.ivfPqResidualSearch(probes, corpus, pqResIndex(s, dir),
          KnnK, coarseCentroids(s, dir), pqResBooks(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqRerank)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // INCREMENTAL ANN maintenance: a batch of new arrivals (every 20th
    // vector, last component zeroed — the embedding_near_dup planting)
    // is residual-coded against the EXISTING fixed-C trained artifacts
    // via SimilarityOps.ivfAppend — no retraining, no old row touched —
    // and search runs over the merged index. At 100 TB this is the only
    // sane ingest path: the quantizer retrains when the corpus
    // fingerprint moves, never per batch. Recall vs a full rebuild is
    // spec-measured (OperatorsSpec).
    "knn_ivf_incremental" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val arrivals = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          concat(slice(col("embedding"), 1, 63), array(lit(0.0f))).as("vec"))
      val merged = embCorpus(s, dir).unionByName(arrivals)
      val mergedIndex = SimilarityOps.ivfAppend(pqResIndex(s, dir),
        arrivals, coarseCentroids(s, dir), pqResBooks(s, dir), PqSubDim)
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.ivfPqResidualSearch(probes, merged, mergedIndex, KnnK,
          coarseCentroids(s, dir), pqResBooks(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqRerank)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    },

    // Per-vector cluster map against the persisted refined centroids —
    // the output downstream curation consumes (buckets, postings,
    // quotas).
    "kmeans_assignments" -> { (s, dir) =>
      val corpus = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      ClusterOps.kmeansAssign(corpus, coarseCentroids(s, dir))
    },

    // SemDeDup (semantic dedup, arXiv:2303.09540) on the same planted
    // corpus: coarse-cluster by nearest deterministic centroid, drop
    // members with a lower-id near-duplicate (cosine >= threshold) in
    // their cluster. The planted copies land in their original's cluster
    // and get dropped; the keep list is the semantic analogue of
    // dedup_near_keep.
    "semdedup_keep" -> { (s, dir) =>
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding").as("vec"))
      val planted = base.unionByName(base.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec")))
      SimilarityOps.semDedup(planted, EmbNearDupMin,
        centroidTarget = IvfAutoC)
    },
  )

  // Tunable thresholds shared by the Spark ops and their oracles.
  val MinhashMinEst = 0.35
  val NgramMinJaccard = 0.4
  // 1-in-N pair-stable doc sample for the recall contract's quadratic
  // truth side (see minhashRecallCounts) — keeps the gate runnable past
  // sf1 (truth cost scales 1/N²).
  val RecallSampleMod = 4
  val SimhashMaxHamming = 8

  /** Test cap for the `simhash_recall` contracts: small enough that
    * the distinct-sim chunk-bucket cap FIRES on the gate corpus at both
    * scales (max bucket 57 at sf0.01 / 539 at sf0.1 vs the dormant
    * production [[graft.operators.DedupOps.SimMaxBucket]] = 1024), so
    * the variant-join rescue (exact) and, in the `_window` twin, the
    * sorted-window degrade (lossy) are measured in-gate, not
    * documented. */
  val SimhashRecallCap = 32
  // Per-session partner budget for the bounded concurrency query.
  val SessionTopK = 3
  // Content-defined chunking: boundary = hash of the 5-token window
  // ending here ≡ 0 (mod 8) → ~8-token expected chunks.
  val CdcWindow = 5
  val CdcDivisor = 8
  val KnnProbeEvery = 100
  val KnnK = 5
  // Off-manifold recall contract: 50 synthetic probes (truth cost is
  // probes x N exact distances — trivial at gate scales), amplitude 4x
  // the corpus envelope. Both constants are part of the contract's
  // definition (the oracle synthesizes the same probes from them).
  val OffManifoldProbeCount = 50
  val OffManifoldAmp = 4.0
  // IVF: bounded centroid count (C stays ~4 as the corpus grows — the
  // hash-sample rate adapts); nprobe/C ≈ 75% of the corpus scanned (the spec corpus is tiny). The
  // synthetic embeddings are near-random (no cluster structure), so
  // recall tracks the scanned fraction — a real corpus with locality
  // would use a larger C and a smaller fraction.
  val IvfCentroidTarget = 4
  // 0 = scale-aware coarse-cell count C = max(4, ceil(sqrt(N))) derived
  // in-query from the corpus count (SimilarityOps.ivfCentroids) — the
  // gate entries knn_ivf / semdedup_keep run with K varying by scale
  // (sf0.01: C≈15, sf0.1: C≈45) and the oracle derives the same C.
  val IvfAutoC = 0
  val IvfNprobe = 3
  val LshNPlanes = 8
  // Quality scores on the synthetic corpus span ~0.195-0.385 (median
  // ~0.253): 0.26 keeps a nonempty ~30% subset, so the filter predicate
  // is genuinely exercised by the oracle gate (round-1 ADVICE).
  val QualityMin = 0.26
  // Trained quality model: gradient steps + the spam lexicon the bad
  // twins get suffixed with (lowercase ASCII — normalization-stable).
  val QmSteps = 6
  // Sampled-train path: 1-in-QmSampleMod pair-stable doc sample. 16 is
  // the measured knee of the cold-train sample curve at 1M planted docs
  // (QUALITY_SAMPLE_CURVE.json):
  // full 145.9s / 1-in-4 29.5s @ 99.9942% / 1-in-16 13.6s @ 99.9946% /
  // 1-in-64 12.1s @ 99.9300% keep-agreement vs the full model — 1-in-16
  // matches 1-in-4's agreement at 2.2x less train cost, and 1-in-64
  // buys almost nothing further while agreement drops 10x.
  val QmSampleMod = 16
  val SpamTokens = Seq.fill(4)(
    "buy cheap pills casino winner click free bonus prize deal")
    .mkString(" ")
  // Planted embedding copies (last component zeroed) score ~0.992;
  // unrelated pairs in this corpus top out ~0.51.
  val EmbNearDupMin = 0.9
  // BM25 query (terms from the corpus vocabulary, so df spans a range).
  val Bm25Terms = Seq("spark", "merge", "window", "stream")
  // k-means: 8 hash-sampled seeds, 2 Lloyd refinement iterations (the
  // oracle unrolls the same count).
  val KmeansK = 8
  val KmeansIters = 2
  // Product quantization: 4 subspaces x 16 dims, ~8 codes per subspace
  // (hash-sample seeded like the coarse quantizer), ADC shortlist of
  // 8k candidates re-ranked exactly. The synthetic embeddings are
  // near-random (no cluster structure), so ADC needs a deeper shortlist
  // than a real corpus would; rerank stays FIXED as the corpus grows,
  // which is what makes PQ a pruner at scale.
  val PqM = 4
  val PqSubDim = 16
  val PqKs = 8
  /** Gate rows that are MEASUREMENTS, not shippable pipeline operators:
    * recall contracts (which deliberately run exact + approximate
    * pipelines and intersect them — the truth cost is the contract's
    * definition), cap/guard ledgers, explicitly-quadratic `_exact`
    * truth twins, and arithmetic-pin rows. Bench reports the pipeline
    * and contract aggregates separately (r16 verdict ask #5): the
    * headline per-query number should track what a user ships, not the
    * cost of the measurement harness; every row still appears in the
    * unified per-query map and the regression gate. Membership is
    * sanity-checked against [[queries]] at Bench startup. */
  lazy val ContractQueries: Set[String] = {
    val cq = Set(
      "dedup_minhash_recall", "dedup_minhash_recall_r8",
      "simhash_recall", "simhash_recall_window", "simhash_recall_auto",
      "simhash_bucket_ledger",
      "dedup_lsh_bucket_ledger", "fuzzy_block_ledger", "jaccard_df_ledger",
      "knn_ivf_recall", "knn_lsh_recall",
      "knn_pq_autoc_recall", "knn_pq_autoc_recall_np9",
      "knn_pq_residual_recall", "knn_pq_auto_rerank",
      "knn_offmanifold_recall",
      "session_topk_recall", "quality_sampled_agreement",
      "dedup_ngram_jaccard_exact", "dedup_cc_components_exact")
    val unknown = cq.diff(queries.keySet)
    require(unknown.isEmpty, s"ContractQueries not in queries: $unknown")
    cq
  }

  // Exact-rerank pool size. With 12-bit codes the ADC ordering is noisy,
  // so the rerank budget is the dominant recall lever (measured at
  // sf0.1, nprobe=3: recall@5 19%→35% plain / 26%→37% residual going
  // 40→120, while nprobe beyond ~5 only dilutes the pool — SCALING.md
  // round-11 table). 24·k costs one slightly wider per-probe top-N.
  // The FIXED-C gate family keeps this fixed depth; the auto-C family
  // runs the committed scale-aware default below.
  val PqRerank = 24 * KnnK
  // The committed scale-aware rerank default for the auto-C family:
  // rerank <= 0 selects R = max(AutoRerankFloor, (⌈√N⌉·4) div 3) inside
  // the search (SimilarityOps.autoRerankStats — the round-16
  // off-manifold ledger's measured fix, committed as an operator
  // default this round). The floor equals PqRerank, so both gate
  // scales produce byte-identical results while the 100×/sf1 ledger
  // corpora exercise the √N branch (597 at N = 200 k ≈ the measured
  // R = 600 lever point). The arithmetic itself is oracle-pinned by
  // `knn_pq_auto_rerank`.
  val PqAutoRerank = 0
  // Sub-codebooks converge with one Lloyd pass from the hash seeds
  // (16-dim subspaces are easy); the coarse quantizer keeps KmeansIters.
  val PqIters = 1
  // BPE: merge-table size trained on the corpus; packing budget in
  // trained-BPE tokens. 24 merges is past the point where whole common
  // words fuse to single symbols on the synthetic vocabulary.
  val BpeMerges = 24
  val BpePackBudget = 1500
  // Budget-head selection: keep top-quality docs until this many trained
  // BPE tokens are accumulated (~1/3 of the sf0.01 corpus).
  val TokenBudget = 20000L
  // KMV bottom-k sketch size: small enough that the estimator path (not
  // the exact-count fallback) is exercised at sf0.01, large enough that
  // the estimate lands within the spec tolerance of exact.
  val KmvK = 64
  // Deterministic 1-in-10 hash sample for the sampled-percentile query.
  val SampleMod = 10
  // Boilerplate scrub: 8-token tiles; a tile appearing in >= 20 distinct
  // docs is boilerplate. The planted footer lands in every doc, so its
  // interior tiles cross the threshold in every alignment class.
  val BoilerTileWidth = 8
  val BoilerMinDf = 20
  // web_pipeline quality gate over the SCRUBBED text (distribution
  // shifts vs the raw corpus once the footer is gone).
  val WebQualityMin = 0.25
  val BoilerFooter = "all rights reserved contact us at example dot com " +
    "terms of service apply subscribe to our newsletter for updates today"
  // Per-domain document cap (RefinedWeb-style source balancing).
  val DomainCap = 25
  // Documents per export shard (shuffled_shard_plan).
  val ShardSize = 256
  // Fixed token budget per packed training sequence (sequence_pack_plan).
  val PackSeqLen = 512

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "load_insert_append" ->
      s"""SELECT * FROM orders
         |UNION ALL
         |SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    "load_truncate_insert" ->
      s"""SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    "load_upsert_merge" ->
      s"""WITH staged AS (
         |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 7 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staged)
         |UNION ALL SELECT * FROM staged""".stripMargin,

    "load_upsert_dup_keys" ->
      s"""WITH staged AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, 'X1' AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 13 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, 'X2' AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staged)
         |UNION ALL SELECT * FROM staged""".stripMargin,

    "snapshot_diff" ->
      s"""WITH newt AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
         |      AS o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 10 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 13 = 0),
         |oldt AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
         |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
         |       WHEN n.o_orderkey IS NULL THEN 'delete'
         |       WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
         |        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
         |       THEN 'same' ELSE 'update' END AS change_type
         |FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey""".stripMargin,

    "apply_cdc" ->
      s"""WITH changes AS (
         |  SELECT o_orderkey, o_custkey, 'C' AS o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority,
         |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'I' END AS op
         |  FROM orders WHERE o_orderkey % 5 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM changes WHERE op <> 'D'""".stripMargin,

    "ndjson_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "q1_agg" ->
      s"""WITH a AS (SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus)
         |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
         |  sum_disc_price, count_order,
         |  sum_qty / CAST(count_order AS DOUBLE) AS avg_qty,
         |  sum_base_price / CAST(count_order AS DOUBLE) AS avg_price
         |FROM a""".stripMargin,

    "text_stats" -> Oracles.textStats,
    "lang_id" -> Oracles.langId,
    "fingerprints" -> Oracles.fingerprints,
    "dedup_exact_docs" -> Oracles.dedupExactDocs,
    "dedup_minhash_lsh" -> Oracles.minhashPairs(Oracles.plantedDocs, MinhashMinEst),
    "dedup_lsh_bucket_ledger" -> Oracles.lshBucketLedger(
      Oracles.plantedDocs, DedupOps.MaxBucket),
    "dedup_substring" -> Oracles.dedupSubstring(Oracles.plantedDocs, CdcWindow, CdcDivisor),
    "substring_scrub" -> Oracles.scrubSubstring(Oracles.plantedDocs,
      CdcWindow, CdcDivisor, 2),
    // Same exact-Jaccard oracle, two fixtures: the gate (prefix) form
    // on the realistic-vocab remap, the _exact dense form on the raw
    // corpus. Form equivalence is spec-proven on the Spark side.
    "dedup_ngram_jaccard" ->
      Oracles.ngramJaccard(Oracles.realisticPlantedDocs, NgramMinJaccard),
    "dedup_ngram_jaccard_exact" -> Oracles.ngramJaccard(Oracles.plantedDocs, NgramMinJaccard),
    "jaccard_df_ledger" -> Oracles.jaccardDfLedger(
      Oracles.realisticPlantedDocs, NgramMinJaccard, DedupOps.JaccardMaxDf),
    "dedup_incremental_candidates" ->
      Oracles.dedupIncrementalCandidates(MinhashMinEst),
    "dedup_minhash_recall" ->
      Oracles.dedupMinhashRecall(Oracles.plantedDocs, NgramMinJaccard,
        sampleMod = RecallSampleMod),
    "dedup_minhash_recall_r8" ->
      Oracles.dedupMinhashRecall(Oracles.plantedDocs, NgramMinJaccard,
        r = 8, sampleMod = RecallSampleMod),
    "dedup_cc_components" ->
      Oracles.ccComponentsBanded(Oracles.plantedDocs, MinhashMinEst),
    "dedup_cc_components_exact" ->
      Oracles.ccComponents(Oracles.plantedDocs, NgramMinJaccard),
    // Same SQL as dedup_cc_components: incremental labels are provably
    // identical to the full rebuild (see the query's scaladoc).
    "dedup_cc_incremental" ->
      Oracles.ccComponentsBanded(Oracles.plantedDocs, MinhashMinEst),
    "dedup_cc_keep" -> Oracles.ccKeepBanded(Oracles.plantedDocs, MinhashMinEst),
    "dedup_keep_best" ->
      Oracles.ccKeepBestBanded(Oracles.plantedDocs, MinhashMinEst),
    "dup_cluster_sizes" ->
      Oracles.ccClusterSizesBanded(Oracles.plantedDocs, MinhashMinEst),
    "doc_commonness" -> Oracles.docCommonness,
    "corpus_pipeline" -> Oracles.corpusPipeline(QualityMin,
      graft.functions.TextFunctions.BpeTokenRe),

    "q11_important_stock" ->
      s"""WITH ${Oracles.partsuppCte},
         |f AS (SELECT ps_partkey,
         |  CAST(ps_cost_cents * ps_availqty AS BIGINT) AS value_cents
         |  FROM ps WHERE ps_suppkey IN
         |    (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)),
         |pp AS (SELECT ps_partkey,
         |  CAST(SUM(value_cents) AS BIGINT) AS part_cents
         |  FROM f GROUP BY ps_partkey),
         |tt AS (SELECT CAST(SUM(part_cents) AS BIGINT) AS total_cents FROM pp)
         |SELECT ps_partkey,
         |  CAST(part_cents AS DOUBLE) / 100.0 AS stock_value
         |FROM pp, tt WHERE part_cents * 1000 > total_cents""".stripMargin,

    "q2_min_cost_supplier" ->
      s"""WITH ${Oracles.partsuppCte},
         |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_regionkey < 2),
         |f AS (SELECT ps_partkey, ps_suppkey, ps_cost_cents FROM ps
         |  WHERE ps_partkey IN (SELECT p_partkey FROM part
         |    WHERE p_type = 'PROMO')
         |    AND ps_suppkey IN (SELECT s_suppkey FROM rs)),
         |mc AS (SELECT ps_partkey, min(ps_cost_cents) AS min_cents
         |  FROM f GROUP BY ps_partkey),
         |w AS (SELECT f.ps_partkey, min_cents, min(ps_suppkey) AS win_suppkey
         |  FROM f JOIN mc ON f.ps_partkey = mc.ps_partkey
         |    AND f.ps_cost_cents = mc.min_cents
         |  GROUP BY f.ps_partkey, min_cents)
         |SELECT s_acctbal, s_name, n_name, ps_partkey,
         |  CAST(min_cents AS DOUBLE) / 100.0 AS supply_cost
         |FROM w JOIN rs ON win_suppkey = s_suppkey
         |ORDER BY s_acctbal DESC, ps_partkey LIMIT 20""".stripMargin,

    "q9_profit_partsupp" ->
      s"""WITH ${Oracles.partsuppCte}
         |SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |    AS DOUBLE) AS revenue,
         |  CAST(CAST(SUM(ps_cost_cents * CAST(l_quantity AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 100.0 AS supply_cost,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |    AS DOUBLE) -
         |  CAST(CAST(SUM(ps_cost_cents * CAST(l_quantity AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 100.0 AS profit
         |FROM lineitem
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_partkey % 4 = 0
         |GROUP BY 1, 2""".stripMargin,

    "q16_supplier_variety" ->
      s"""WITH ${Oracles.partsuppCte}
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#3' AND p_size <= 20
         |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q20_excess_stock" ->
      s"""WITH ${Oracles.partsuppCte},
         |sh AS (SELECT l_partkey, l_suppkey,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_shipped
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_partkey, l_suppkey)
         |SELECT s_suppkey, s_name FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT ps_suppkey FROM ps JOIN sh
         |    ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |  WHERE ps_availqty * 2 > qty_shipped)""".stripMargin,

    "skew_key_histogram" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c)
        |SELECT key, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 10""".stripMargin,

    "activity_heatmap" ->
      """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "funnel_latency" ->
      """WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view'
        |    THEN epoch_us(ts) // 1000000 END) AS first_view,
        |  min(CASE WHEN event_type = 'purchase'
        |    THEN epoch_us(ts) // 1000000 END) AS first_purchase
        |  FROM events GROUP BY user_id),
        |d AS (SELECT first_purchase - first_view AS delay_s FROM f
        |  WHERE first_view IS NOT NULL AND first_purchase > first_view)
        |SELECT count(*) AS n_converted,
        |  quantile_cont(delay_s, 0.5) AS p50_s,
        |  quantile_cont(delay_s, 0.9) AS p90_s
        |FROM d""".stripMargin,

    "fuzzy_name_match" ->
      """WITH c AS (SELECT s_suppkey + 100000 AS c_suppkey,
        |  substr(s_name, 1, 2) || substr(s_name, 4) AS c_name
        |  FROM supplier)
        |SELECT s_suppkey, c_suppkey,
        |  levenshtein(s_name, c_name) AS dist
        |FROM supplier JOIN c
        |  ON substr(s_name, 1, 2) = substr(c_name, 1, 2)
        | AND abs(length(s_name) - length(c_name)) <= 1
        |WHERE levenshtein(s_name, c_name) <= 2""".stripMargin,

    // The oracle rebuilds the <=2-deletion neighborhood with two
    // 1-deletion passes (delete-i then delete-j covers every 2-deletion)
    // and blocks on the STRING variant where Spark blocks on xxhash64 of
    // it — populations equal unless a 64-bit collision merges blocks
    // (same caveat as dedup_lsh_bucket_ledger).
    "fuzzy_block_ledger" ->
      """WITH corr AS (SELECT s_suppkey + 100000 AS c_suppkey,
        |    substr(s_name, 1, 2) || substr(s_name, 4) AS c_name FROM supplier),
        |a1 AS (SELECT s_suppkey, unnest(list_distinct(list_append(
        |    [substr(s_name, 1, i-1) || substr(s_name, i+1)
        |     for i in generate_series(1, length(s_name))], s_name))) AS k
        |  FROM supplier),
        |a2 AS (SELECT s_suppkey, unnest(list_distinct(list_append(
        |    [substr(k, 1, i-1) || substr(k, i+1)
        |     for i in generate_series(1, length(k))], k))) AS k FROM a1),
        |aK AS (SELECT DISTINCT s_suppkey, k FROM a2),
        |b1 AS (SELECT c_suppkey, unnest(list_distinct(list_append(
        |    [substr(c_name, 1, i-1) || substr(c_name, i+1)
        |     for i in generate_series(1, length(c_name))], c_name))) AS k
        |  FROM corr),
        |b2 AS (SELECT c_suppkey, unnest(list_distinct(list_append(
        |    [substr(k, 1, i-1) || substr(k, i+1)
        |     for i in generate_series(1, length(k))], k))) AS k FROM b1),
        |bK AS (SELECT DISTINCT c_suppkey, k FROM b2),
        |pa AS (SELECT k, count(*) AS na FROM aK GROUP BY k),
        |pb AS (SELECT k, count(*) AS nb FROM bK GROUP BY k),
        |j AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM pa FULL JOIN pb USING (k))
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(na) AS BIGINT) AS max_block_a,
        |  CAST(max(nb) AS BIGINT) AS max_block_b,
        |  CAST(sum(na * nb) AS BIGINT) AS join_rows
        |FROM j""".stripMargin,

    "trailing_7d_active_users" ->
      """WITH d AS (SELECT user_id,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day FROM events),
        |x AS (SELECT user_id,
        |  unnest(range(event_day, event_day + INTERVAL 7 DAY,
        |    INTERVAL 1 DAY)) AS day
        |  FROM d)
        |SELECT day, count(DISTINCT user_id) AS active_7d
        |FROM x GROUP BY day""".stripMargin,

    "doc_chunks" ->
      """WITH c AS (SELECT doc_id, text,
        |  unnest(range(0, greatest((length(text) - 1) // 150, 0) + 1))
        |    AS chunk_idx
        |  FROM documents)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |  length(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200))
        |    AS chunk_len,
        |  md5(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200))
        |    AS chunk_md5
        |FROM c
        |WHERE length(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)) > 0""".stripMargin,

    "sequence_packing" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |  len(regexp_extract_all(text,
         |    '${graft.functions.TextFunctions.BpeTokenRe}')) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, source, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
         |    AS BIGINT) AS pack_id
         |FROM tok""".stripMargin,

    "mixture_sample" ->
      """WITH h AS (SELECT source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000 AS hh
        |  FROM documents)
        |SELECT source, count(*) AS n_kept FROM h
        |WHERE hh < CASE source WHEN 'src0' THEN 300 WHEN 'src2' THEN 800
        |  WHEN 'src3' THEN 500 WHEN 'src4' THEN 0 ELSE 1000 END
        |GROUP BY source""".stripMargin,
    "mixture_temperature" -> Oracles.mixtureTemperature,
    "dedup_simhash" -> Oracles.simhash,
    "decontamination" -> Oracles.decontamination,
    "contamination_fraction" -> Oracles.contaminationFraction,
    "hybrid_search_rrf" -> Oracles.hybridSearchRrf(Bm25Terms, 1.2, 0.75, 20),
    "mixture_epochs" -> Oracles.mixtureEpochs(BpeMerges),
    "anomaly_mad_stats" -> Oracles.anomalyMadStats,
    "quality_gate_by_lang" -> Oracles.qualityGateByLang,
    "dedup_token_yield" ->
      Oracles.dedupTokenYieldBanded(Oracles.plantedDocs, MinhashMinEst),
    "repetition_scores" -> Oracles.repetitionScores,
    "boilerplate_scrub" ->
      Oracles.boilerplateScrub(BoilerFooter, BoilerTileWidth, BoilerMinDf),
    "boilerplate_dict_train" ->
      Oracles.boilerplateDictTrain(BoilerFooter, BoilerTileWidth, BoilerMinDf),
    "url_canonicalize" -> Oracles.urlCanonicalize,
    "url_dedup" -> Oracles.urlDedup,
    "domain_cap_sample" -> Oracles.domainCapSample(DomainCap),
    "crawl_curation_pipeline" -> Oracles.crawlCurationPipeline(BoilerFooter,
      BoilerTileWidth, BoilerMinDf, WebQualityMin, DomainCap),
    "clean_html" -> Oracles.cleanHtml,
    "pii_luhn_cards" -> Oracles.piiLuhnCards,
    "multimodal_resize" -> Oracles.multimodalResize,
    "web_pipeline" -> Oracles.webPipeline(BoilerFooter, BoilerTileWidth,
      BoilerMinDf, WebQualityMin, graft.functions.TextFunctions.BpeTokenRe),
    "bigram_lm_scores" -> Oracles.bigramLmScores,
    "bm25_scores" -> Oracles.bm25Scores(Bm25Terms, 1.2, 0.75),
    "simhash_near_dup" -> Oracles.simhashNearDup(SimhashMaxHamming),
    "simhash_bucket_ledger" ->
      Oracles.simhashBucketLedger(DedupOps.SimMaxBucket,
        DedupOps.SimMaxBucket),
    "simhash_recall" ->
      Oracles.simhashRecall(SimhashMaxHamming, SimhashRecallCap,
        escalateBudget = DedupOps.SimVariantEscalateBudget.toLong),
    "simhash_recall_window" ->
      Oracles.simhashRecall(SimhashMaxHamming, SimhashRecallCap,
        vcap = SimhashRecallCap),
    "simhash_recall_auto" ->
      Oracles.simhashRecall(SimhashMaxHamming, SimhashRecallCap,
        vcap = SimhashRecallCap,
        escalateBudget = DedupOps.SimVariantEscalateBudget.toLong),
    "knn_bruteforce" -> Oracles.knnBruteForce(KnnProbeEvery, KnnK),
    "knn_ivf" -> Oracles.knnIvf(KnnProbeEvery, KnnK, IvfAutoC, IvfNprobe),
    "knn_lsh" -> Oracles.knnLsh(KnnProbeEvery, KnnK, LshNPlanes),
    "events_tumbling_1h" -> Oracles.tumbling1h,
    "sessionize_30m" -> Oracles.sessionize(30),
    "session_conversion" -> Oracles.sessionConversion(30),
    "asof_click_purchase" -> Oracles.asofClickPurchase,
    "asof_merge_exec_click" -> Oracles.asofClickPurchase,
    "asof_forward_next_click" -> Oracles.asofForwardNextClick,
    "asof_tolerance_click" -> Oracles.asofToleranceClick,
    "asof_merge_exec_forward" -> Oracles.asofForwardNextClick,
    "asof_merge_exec_tolerance" -> Oracles.asofToleranceClick,
    "scd2_asof_lookup" -> Oracles.scd2AsofLookup,
    "session_overlap_pairs" -> Oracles.sessionOverlapPairs(30),
    "session_topk_overlaps" -> Oracles.sessionTopkOverlaps(30, SessionTopK,
      1800L, AnalyticOps.TopOverlapCandidates),
    "session_topk_recall" -> Oracles.sessionTopkRecall(30, SessionTopK,
      1800L, AnalyticOps.TopOverlapCandidates),
    "events_sliding_1h_30m" -> Oracles.sliding1h30m,
    "session_window_30m" -> Oracles.sessionWindow30m,
    "interval_join_click_purchase" -> Oracles.intervalJoinClickPurchase,
    "topk_orders_by_priority" -> Oracles.topKOrders(3),
    "rollup_lineitem" -> Oracles.rollupLineitem,
    "multimodal_meta" -> Oracles.multimodalMeta,
    "multimodal_features" -> Oracles.multimodalFeatures,
    "multimodal_decode" -> Oracles.multimodalDecode,
    "binary_file_ingest" -> Oracles.binaryFileIngest,
    "quality_filter" -> Oracles.qualityFilter(QualityMin),
    "quality_train_model" -> Oracles.qualityTrainModel(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps),
    "quality_model_filter" -> Oracles.qualityModelFilter(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps),
    "quality_train_sampled" -> Oracles.qualityTrainSampled(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps, QmSampleMod),
    "quality_sampled_agreement" -> Oracles.qualitySampledAgreement(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps, QmSampleMod),
    "quality_deciles" -> Oracles.qualityDeciles,
    "standardized_values" -> Oracles.standardizedValues,
    "vocab_doc_freq" -> Oracles.vocabDocFreq,
    "embeddings_l2_normalized" -> Oracles.embeddingsL2Normalized,
    "scrub_pii" -> Oracles.scrubPii,
    "join_customer_orders" -> Oracles.joinCustomerOrders,
    "set_ops_customers" -> Oracles.setOpsCustomers,
    "count_distinct_exact" -> Oracles.countDistinctExact,
    "scalar_functions" -> Oracles.scalarFunctions,
    "top1_latest_error" -> Oracles.top1LatestError,
    "pivot_user_events" -> Oracles.pivotUserEvents,
    "ntile_quartiles" -> Oracles.ntileQuartiles,
    "cube_events" -> Oracles.cubeEvents,
    "q3_shipping_priority" -> Oracles.q3ShippingPriority,
    "q5_nation_revenue" -> Oracles.q5NationRevenue,
    "semi_anti_orders" -> Oracles.semiAntiOrders,
    "left_join_counts" -> Oracles.leftJoinCounts,
    "q6_revenue_band" -> Oracles.q6RevenueBand,
    "orders_by_month" -> Oracles.ordersByMonth,
    "full_outer_flags" -> Oracles.fullOuterFlags,
    "window_running_user" -> Oracles.windowRunningUser,
    "grouping_sets_events" -> Oracles.groupingSetsEvents,
    "percent_rank_values" -> Oracles.percentRankValues,
    "error_rate_by_hour" -> Oracles.errorRateByHour,
    "corr_value_k" -> Oracles.corrValueK,
    "percentiles_by_type" -> Oracles.percentilesByType,
    "stats_moments_by_type" -> Oracles.statsMomentsByType,
    "minmax_by_events" -> Oracles.minmaxByEvents,
    "type_user_jaccard" -> Oracles.typeUserJaccard,
    "dau_wau" -> Oracles.dauWau,
    "user_digest_typed" -> Oracles.userDigestTyped,
    "user_event_sequences" -> Oracles.userEventSequences,
    "funnel_view_click_purchase" -> Oracles.funnelViewClickPurchase,
    "retention_cohorts" -> Oracles.retentionCohorts,
    "bigram_counts" -> Oracles.bigramCounts,
    "date_functions_orders" -> Oracles.dateFunctionsOrders,
    "regexp_extract_props" -> Oracles.regexpExtractProps,
    "having_big_customers" -> Oracles.havingBigCustomers,
    "null_handling" -> Oracles.nullHandling,
    "string_functions" -> Oracles.stringFunctions,
    "array_functions" -> Oracles.arrayFunctions,
    "bitwise_functions" -> Oracles.bitwiseFunctions,
    "token_counts" -> Oracles.tokenCounts(graft.functions.TextFunctions.BpeTokenRe),
    "embedding_near_dup" -> Oracles.embeddingNearDup(EmbNearDupMin),
    "semdedup_keep" -> Oracles.semdedupKeep(EmbNearDupMin, IvfAutoC),
    "kmeans_centroids" -> Oracles.kmeansCentroids(KmeansK, KmeansIters),
    "kmeans_assignments" -> Oracles.kmeansAssignments(KmeansK, KmeansIters),
    "knn_ivf_trained" -> Oracles.knnIvfTrained(
      KnnProbeEvery, KnnK, KmeansK, KmeansIters, IvfNprobe),
    "knn_ivf_pq_autoc" -> Oracles.knnIvfPqResidual(KnnProbeEvery, KnnK,
      IvfAutoC, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      Oracles.autoRerankSql),
    "knn_ivf_incremental" -> Oracles.knnIvfPqResidualFrom(
      Oracles.defaultProbesSql(KnnProbeEvery), KnnK, KmeansK, KmeansIters,
      IvfNprobe, PqM, PqSubDim, PqKs, PqIters, PqRerank.toString,
      codedSql = Oracles.plantedArrivalsCorpusSql),
    "knn_ivf_pq_residual" -> Oracles.knnIvfPqResidual(KnnProbeEvery, KnnK,
      KmeansK, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      PqRerank.toString),
    "knn_pq_autoc_recall" -> Oracles.knnPqResidualRecall(KnnProbeEvery,
      KnnK, IvfAutoC, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      Oracles.autoRerankSql),
    "knn_pq_autoc_recall_np9" -> Oracles.knnPqResidualRecall(KnnProbeEvery,
      KnnK, IvfAutoC, KmeansIters, 3 * IvfNprobe, PqM, PqSubDim, PqKs,
      PqIters, Oracles.autoRerankSql),
    "knn_pq_auto_rerank" -> (
      s"SELECT count(*) AS n_corpus, " +
        "greatest(4, cast(ceil(sqrt(cast(count(*) as double))) as bigint)) " +
        "AS auto_c, " +
        "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3 " +
        "AS auto_r_raw, " +
        s"greatest(${graft.operators.SimilarityOps.AutoRerankFloor}, " +
        "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3) " +
        "AS auto_r FROM embeddings"),
    "knn_offmanifold_recall" -> Oracles.knnPqResidualRecallOffManifold(
      OffManifoldProbeCount, OffManifoldAmp.toString, KnnK, IvfAutoC,
      KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      Oracles.autoRerankSql),
    "knn_pq_residual_recall" -> Oracles.knnPqResidualRecall(KnnProbeEvery,
      KnnK, KmeansK, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      PqRerank.toString),
    "knn_ivf_recall" -> Oracles.knnIvfRecall(KnnProbeEvery, KnnK,
      IvfAutoC, IvfNprobe),
    "knn_lsh_recall" -> Oracles.knnLshRecall(KnnProbeEvery, KnnK,
      LshNPlanes),
    "pq_train_codebooks" -> Oracles.pqTrainCodebooks(
      PqM, PqSubDim, PqKs, PqIters),
    "pq_train_codebooks_residual" -> Oracles.pqTrainCodebooksResidual(
      KmeansK, KmeansIters, PqM, PqSubDim, PqKs, PqIters),
    "bpe_train_dict" -> Oracles.bpeTrainDict(BpeMerges),
    "label_centroid_norms" -> Oracles.labelCentroidNorms,
    "salted_agg_events" -> Oracles.saltedAggEvents,
    "salted_join_customer_orders" -> Oracles.joinCustomerOrders,
    "bloom_prefilter_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
        |GROUP BY o_orderpriority""".stripMargin,
    "q17_small_quantity" -> Oracles.q17SmallQuantity,
    "supplier_nation_acctbal" -> Oracles.supplierNationAcctbal,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_late_shipments" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |      THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
        |  count(*) AS total_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q13_customer_distribution" ->
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count""".stripMargin,

    "q14_promo_revenue" ->
      """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT 100.0 * promo_revenue / total_revenue AS promo_pct,
        |  promo_revenue, total_revenue FROM a""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q19_band_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q22_idle_customers" ->
      """WITH avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS a
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, avg_bal
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "q9_profit_nation_year" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) -
        |    CAST(p_retailprice AS DECIMAL(18,2)) *
        |    CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "unpivot_lineitem" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure,
        |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM m GROUP BY measure""".stripMargin,

    "map_functions_events" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  count(*) AS n_types,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types,
        |  CAST(max(CASE WHEN event_type = 'click' THEN cnt END) AS BIGINT)
        |    AS click_cnt,
        |  CAST(SUM(cnt) AS BIGINT) AS total_events,
        |  CAST(max(CASE WHEN event_type = 'view' THEN cnt * 2 END) AS BIGINT)
        |    AS view_x2
        |FROM c GROUP BY user_id""".stripMargin,

    "window_ignore_nulls" ->
      """SELECT event_id, user_id,
        |  first_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        |  last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
        |  nth_value(v, 2 IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
        |FROM (SELECT event_id, user_id, ts,
        |  CASE WHEN value >= 10.0 THEN value END AS v FROM events)""".stripMargin,

    "gap_fill_daily" ->
      """WITH urgent AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    o_totalprice
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |daily AS (SELECT day, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM urgent GROUP BY day),
        |spine AS (SELECT unnest(range((SELECT min(day) FROM urgent),
        |  (SELECT max(day) FROM urgent) + INTERVAL 1 DAY,
        |  INTERVAL 1 DAY)) AS day)
        |SELECT spine.day AS day,
        |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        |  COALESCE(revenue, 0.0) AS revenue
        |FROM spine LEFT JOIN daily ON spine.day = daily.day""".stripMargin,

    "time_weighted_value" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(value * 16777216) AS BIGINT) AS v_fp,
        |  epoch_us(ts) // 1000000 AS t_s,
        |  lead(epoch_us(ts) // 1000000) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_s
        |  FROM events),
        |d AS (SELECT user_id, v_fp, next_s - t_s AS dt
        |  FROM e WHERE next_s IS NOT NULL)
        |SELECT user_id,
        |  CAST(CAST(SUM(v_fp * dt) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(SUM(dt) AS BIGINT) * 16777216 AS DOUBLE) AS twa,
        |  CAST(SUM(dt) AS BIGINT) AS span_s
        |FROM d GROUP BY user_id""".stripMargin,

    "lateral_explode_words" ->
      """WITH ws AS (SELECT doc_id,
        |  list_slice(string_split_regex(text, '\s+'), 1, 5) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS word
        |FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t""".stripMargin,

    "revenue_share_by_priority" ->
      """WITH byp AS (SELECT o_orderpriority,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |  count(*) AS n_orders
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) /
        |    CAST((SELECT SUM(rev_dec) FROM byp) AS DOUBLE) AS share,
        |  n_orders
        |FROM byp""".stripMargin,

    "range_frame_spend" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS spend_30d
        |FROM orders""".stripMargin,

    "variant_props" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_str,
        |  false AS v_isnull
        |FROM events""".stripMargin,

    "sample_k_per_group" ->
      """WITH h AS (SELECT event_type, event_id,
        |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS hkey
        |  FROM events)
        |SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |    rank() OVER (PARTITION BY event_type ORDER BY hkey, event_id)
        |      AS rnk
        |  FROM h)
        |WHERE rnk <= 5""".stripMargin,

    "winsorized_values" ->
      """WITH q AS (SELECT event_type,
        |  quantile_cont(value, 0.05) AS lo,
        |  quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type AS event_type,
        |  least(greatest(value, lo), hi) AS v_capped
        |FROM events e JOIN q ON e.event_type = q.event_type""".stripMargin,

    "bpe_token_counts" -> Oracles.bpeTokenCounts(BpeMerges),
    "bpe_compression_by_source" -> Oracles.bpeCompressionBySource(BpeMerges),
    "bpe_token_counts_oov" -> Oracles.bpeTokenCountsOov(BpeMerges),
    "bpe_tokenize" -> Oracles.bpeTokenize(BpeMerges),
    "token_budget_head" -> Oracles.tokenBudgetHead(BpeMerges, TokenBudget),
    "bpe_sequence_packing" -> Oracles.bpeSequencePacking(BpeMerges,
      BpePackBudget),

    "kmv_distinct_users" -> Oracles.kmvDistinctUsers(KmvK),
    "kmv_distinct_users_agg" -> Oracles.kmvDistinctUsers(KmvK),
    "kmv_sketch_rollup" -> Oracles.kmvSketchRollup(KmvK),
    "sampled_percentiles_value" -> Oracles.sampledPercentilesValue(SampleMod),

    "sql_interface_q6" -> Oracles.q6RevenueBand,

    "value_trend_by_type" ->
      """WITH m AS (SELECT event_type,
        |  CAST(count(*) AS DECIMAL(38,0)) AS n,
        |  CAST(CAST(SUM(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |    AS BIGINT) AS DECIMAL(38,0)) AS sx,
        |  CAST(CAST(SUM(CAST(floor(value * 16777216) AS BIGINT)) AS BIGINT)
        |    AS DECIMAL(38,0)) AS sy,
        |  CAST(CAST(SUM(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) *
        |    CAST(floor(value * 16777216) AS BIGINT)) AS BIGINT)
        |    AS DECIMAL(38,0)) AS sxy,
        |  CAST(CAST(SUM(CAST(datediff('day', DATE '1970-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) *
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |    AS BIGINT) AS DECIMAL(38,0)) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (CAST(n * sxx - sx * sx AS DOUBLE) * 16777216.0)
        |    AS slope_per_day,
        |  CAST(n AS BIGINT) AS n
        |FROM m""".stripMargin,

    "revenue_mom_growth" ->
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |    AS month,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1)
        |SELECT cur.month AS month,
        |  CAST(cur.rev_dec AS DOUBLE) AS revenue,
        |  CAST(cur.rev_dec - prev.rev_dec AS DOUBLE) /
        |    CAST(prev.rev_dec AS DOUBLE) AS mom_growth
        |FROM m cur LEFT JOIN m prev
        |  ON cur.month = prev.month + INTERVAL 1 MONTH""".stripMargin,

    "null_safe_join_counts" ->
      """SELECT n_name, count(*) AS n_cust
        |FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS ck FROM customer) c
        |JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
        |  ON c.ck IS NOT DISTINCT FROM n.nk
        |GROUP BY n_name""".stripMargin,

    "topk_agg_revenue" ->
      """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk,
        |  o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 5""".stripMargin,

    "priority_transitions" ->
      """SELECT prev_priority, o_orderpriority, count(*) AS n FROM (
        |  SELECT o_custkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_priority
        |  FROM orders)
        |WHERE prev_priority IS NOT NULL
        |GROUP BY prev_priority, o_orderpriority""".stripMargin,

    "user_activity_histogram" ->
      """WITH c AS (SELECT user_id, count(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT n_events // 10 AS bucket, count(*) AS n_users
        |FROM c GROUP BY bucket""".stripMargin,

    "expectation_violations" ->
      """WITH v AS (SELECT array_to_string(list_filter([
        |  CASE WHEN NOT coalesce(o_totalprice < 300000.0, false)
        |    THEN 'price_under_300k' END,
        |  CASE WHEN NOT coalesce(o_orderstatus = 'F', false)
        |    THEN 'status_final' END
        |  ], x -> x IS NOT NULL), ',') AS failed_rules
        |  FROM orders)
        |SELECT failed_rules, count(*) AS n FROM v
        |WHERE failed_rules <> '' GROUP BY failed_rules""".stripMargin,

    "zorder3_key_events" ->
      s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y,
         |  hour(ts) AS z
         |  FROM events)
         |SELECT event_id,
         |  ${LayoutOps.zValueNSql(Seq("x", "y", "z"), 16)} AS zval
         |FROM d""".stripMargin,

    "zorder_key_events" ->
      s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y
         |  FROM events)
         |SELECT event_id,
         |  ${LayoutOps.zValue2Sql("x", "y")} AS zval
         |FROM d""".stripMargin,

    "hilbert_key_events" -> {
      val (ctes, last) = LayoutOps.hilbert2SqlCtes(
        "d", "x", "y", Seq("event_id"))
      s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y
         |  FROM events),
         |$ctes
         |SELECT event_id, hd AS hval FROM $last""".stripMargin
    },

    "price_histogram" ->
      """SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 2500000 AS bucket,
        |  count(*) AS n_orders,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,

    "csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "multimodal_frames" -> Oracles.multimodalFrames,
    "load_scd2_merge" -> Oracles.loadScd2Merge,
    "dedup_near_keep" -> Oracles.dedupNearKeep(Oracles.plantedDocs, MinhashMinEst),
    "dedup_near_keep_verified" -> Oracles.dedupNearKeepVerified(
      Oracles.plantedDocs, MinhashMinEst),
    "docs_with_embeddings" -> Oracles.docsWithEmbeddings,
    "stratified_split_counts" -> Oracles.stratifiedSplitCounts,
    "tfidf_top_terms" -> Oracles.tfidfTopTerms,
    "profile_orders" -> Oracles.profileOrders,
    "deterministic_sample" -> Oracles.deterministicSample,
    "shuffled_shard_plan" -> Oracles.shuffledShardPlan(ShardSize),
    "sequence_pack_plan" -> Oracles.sequencePackPlan(PackSeqLen),
    "sequence_pack_plan_bpe" ->
      Oracles.sequencePackPlanBpe(BpeMerges, PackSeqLen),
    "trailing_7d_revenue" -> Oracles.trailing7dRevenue,
  )
}
