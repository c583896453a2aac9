package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Vector rows: brute-force, IVF, LSH and IVF-PQ nearest-neighbour
  * search, k-means and PQ training, semantic dedup, and their recall
  * contracts. */
object SimilarityGate {
  def rows: Seq[GateRow] = Seq(
    GateRow("knn_bruteforce", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.bruteForceKnn(probes, corpus, KnnK)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    }, oracle = SimilaritySql.knnBruteForce(KnnProbeEvery, KnnK)),

    GateRow("embeddings_l2_normalized", { (s, dir) =>
      // L2 normalization as a pure projection (broadcast-free); the
      // custom dot expression computes the norm in one pass. Scalar
      // outputs only — the driver's compare can't sort array columns —
      // so the norm plus first/last unit components pin the vector down.
      val nrm = sqrt(SimilarityOps.dot(col("embedding"), col("embedding")))
      t(s, dir, "embeddings").select(col("vec_id"),
        nrm.as("norm"),
        (element_at(col("embedding"), 1).cast("double") / nrm).as("unit_first"),
        (element_at(col("embedding"), 64).cast("double") / nrm).as("unit_last"))
    }, oracle = SimilaritySql.embeddingsL2Normalized),

    // Per-label centroid norms — the vector-aggregate primitive behind
    // IVF training. Element sums use explicit 2^-24 fixed-point
    // quantization (float precision): decimal casts of FLOATS diverge
    // across engines (shortest-repr vs exact-binary rounding), while
    // floor(x * 2^24) is identical integer arithmetic everywhere —
    // exact, order-free, partial-agg friendly. The norm is then one
    // pos-ordered double fold per label.
    GateRow("label_centroid_norms", { (s, dir) =>
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
    }, oracle = SimilaritySql.labelCentroidNorms),

    GateRow("knn_ivf", { (s, dir) =>
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
    }, oracle = SimilaritySql.knnIvf(KnnProbeEvery, KnnK, IvfAutoC, IvfNprobe)),

    // Cross-table feature assembly: documents joined to their embedding
    // row (text features + vector stats in one projection).
    GateRow("docs_with_embeddings", { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          SimilarityOps.norm(col("embedding")).as("emb_norm"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("label"), col("emb_norm"))
    }, oracle = SimilaritySql.docsWithEmbeddings),

    // LSH-bucketed ANN (random hyperplanes + multiprobe): the second
    // scale path next to IVF — bucketing is a pure projection (no
    // centroid pass), so it composes with streaming ingest. The planes
    // are md5-derived and the dot is fold-ordered, so the DuckDB oracle
    // reproduces the exact bucketing + re-rank (plane constants embedded
    // in the generated SQL from the same lshPlanes function); the recall
    // spec covers what the oracle can't (planted-pair quality).
    GateRow("knn_lsh", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.lshKnn(probes, corpus, KnnK, nPlanes = LshNPlanes)
        .select(col("probe_id"), col("vec_id"), round(col("sim"), 9).as("sim"))
    }, oracle = SimilaritySql.knnLsh(KnnProbeEvery, KnnK, LshNPlanes)),

    // Embedding-cosine near-dup on the planted corpus (every 20th vector
    // ∪ a copy with the last component zeroed — cosine ≈ 0.992): exact
    // all-pairs baseline on the bounded subset; SimilarityOps
    // .embeddingNearDup is the bucketed scale path (spec-checked).
    GateRow("embedding_near_dup", { (s, dir) =>
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding").as("vec"))
      val planted = base.unionByName(base.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec")))
      SimilarityOps.exactNearDup(planted, EmbNearDupMin)
    }, oracle = SimilaritySql.embeddingNearDup(EmbNearDupMin)),

    // Deterministic distributed k-means — the TRAINING query of the
    // quantizer family: trains (once) and persists the coarse-quantizer
    // artifact in the model store, returning its summary. Every other
    // trained-quantizer query below READS this artifact.
    GateRow("kmeans_centroids", { (s, dir) =>
      coarseCentroids(s, dir)
        .select(col("cent_id"), col("n_members"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("centroid_norm"))
    }, oracle = SimilaritySql.kmeansCentroids(KmeansK, KmeansIters)),

    // PQ TRAINING query: trains (once) and persists the per-subspace
    // sub-codebooks; returns per-(sub, code) norms — the artifact's
    // oracle-checkable fingerprint.
    GateRow("pq_train_codebooks", { (s, dir) =>
      pqBooks(s, dir)
        .select(col("sub"), col("cent_id"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("code_norm"))
    }, oracle = SimilaritySql.pqTrainCodebooks(
      PqM, PqSubDim, PqKs, PqIters)),

    // Residual-PQ TRAINING query: sub-codebooks over vec − coarse cell
    // (reads the persisted coarse quantizer, trains+persists the
    // residual books).
    GateRow("pq_train_codebooks_residual", { (s, dir) =>
      pqResBooks(s, dir)
        .select(col("sub"), col("cent_id"),
          sqrt(SimilarityOps.dotFold(col("cent_vec"), col("cent_vec")))
            .as("code_norm"))
    }, oracle = SimilaritySql.pqTrainCodebooksResidual(
      KmeansK, KmeansIters, PqM, PqSubDim, PqKs, PqIters)),

    // IVF search over the TRAINED quantizer (FAISS-style): L2
    // nearest-centroid buckets from the PERSISTED Lloyd-refined
    // centroids, cosine re-rank inside nprobe buckets. Search-only: the
    // quantizer comes from the model store.
    GateRow("knn_ivf_trained", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.ivfKnnTrained(probes, corpus, KnnK,
          coarseCentroids(s, dir), nprobe = IvfNprobe)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    }, oracle = SimilaritySql.knnIvfTrained(
      KnnProbeEvery, KnnK, KmeansK, KmeansIters, IvfNprobe)),

    // The corpus-tracking-C twin of knn_ivf_pq_residual: identical search
    // over artifacts whose coarse quantizer derives C = ceil(sqrt(N)) from
    // the corpus count at train time. With fixed C the per-probe ADC
    // scan grows with N; at C ~ sqrt(N) it grows with sqrt(N) — this
    // entry keeps the scale-honest configuration oracle-checked (and
    // the _p1k ledger twin measures its per-probe law directly).
    GateRow("knn_ivf_pq_autoc", { (s, dir) =>
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
    }, oracle = SimilaritySql.knnIvfPqResidual(KnnProbeEvery, KnnK,
      IvfAutoC, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      SimilaritySql.autoRerankSql)),

    // Recall contract for the corpus-tracking-C configuration: nprobe/C
    // COVERAGE shrinks as C grows (3 of 45 cells at sf0.1), so the
    // speed the _p1k ledger row measures must carry this number or it
    // could be "fast because it probes nothing".
    GateRow("knn_pq_autoc_recall", { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqAutoRerank)
      }
    }, oracle = SimilaritySql.knnPqResidualRecall(KnnProbeEvery,
      KnnK, IvfAutoC, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      SimilaritySql.autoRerankSql), contract = true),

    // The recall LEVER at corpus-tracking C, measured: same auto-C
    // artifacts, nprobe tripled (9 of ⌈√N⌉ cells). Per-probe cost is
    // nprobe·√N — linear in nprobe — so this row plus the one above
    // make the coverage/recall trade a two-point measured curve at
    // every gate scale instead of a tuning folk theorem.
    GateRow("knn_pq_autoc_recall_np9", { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = 3 * IvfNprobe, rerank = PqAutoRerank)
      }
    }, oracle = SimilaritySql.knnPqResidualRecall(KnnProbeEvery,
      KnnK, IvfAutoC, KmeansIters, 3 * IvfNprobe, PqM, PqSubDim, PqKs,
      PqIters, SimilaritySql.autoRerankSql), contract = true),

    // The committed auto-rerank ARITHMETIC, oracle-pinned (the auto-C
    // pattern: when a default is derived from the corpus, the gate must
    // reproduce the derivation, not trust it): one row of the exact
    // integer/IEEE quantities the rerank<=0 path computes in-query.
    // Any change to the formula, floor or coupling moves this row and
    // fails the hash gate — the scale policy is a pinned contract, not
    // a constant hidden in a default argument.
    GateRow("knn_pq_auto_rerank", { (s, dir) =>
      SimilarityOps.autoRerankStats(embCorpus(s, dir))
    }, oracle = (
      s"SELECT count(*) AS n_corpus, " +
        "greatest(4, cast(ceil(sqrt(cast(count(*) as double))) as bigint)) " +
        "AS auto_c, " +
        "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3 " +
        "AS auto_r_raw, " +
        s"greatest(${graft.operators.SimilarityOps.AutoRerankFloor}, " +
        "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3) " +
        "AS auto_r FROM embeddings"), contract = true),

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
    GateRow("knn_offmanifold_recall", { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq",
          probesOpt = Some(offManifoldProbes(s))) { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndexAuto(s, dir), KnnK, coarseCentroidsAuto(s, dir),
          pqResBooksAuto(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqAutoRerank)
      }
    }, oracle = SimilaritySql.knnPqResidualRecallOffManifold(
      OffManifoldProbeCount, OffManifoldAmp.toString, KnnK, IvfAutoC,
      KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      SimilaritySql.autoRerankSql), contract = true),

    // Untrained-IVF recall contract: with scale-aware C = ceil(sqrt(N))
    // the probed fraction nprobe/C shrinks as the corpus grows — this
    // entry measures whether recall holds anyway (exact cosine inside
    // finer cells), at both gate scales.
    GateRow("knn_ivf_recall", { (s, dir) =>
      knnRecallCounts(s, dir, "n_ivf") { (probes, corpus) =>
        SimilarityOps.ivfKnn(probes, corpus, KnnK,
          centroidTarget = IvfAutoC, nprobe = IvfNprobe)
      }
    }, oracle = SimilaritySql.knnIvfRecall(KnnProbeEvery, KnnK,
      IvfAutoC, IvfNprobe), contract = true),

    // Sign-hyperplane LSH twin of the recall contract — with this the
    // whole approximate-kNN family (IVF, LSH, PQ, residual PQ) carries a
    // pinned recall number against the one brute-force truth.
    GateRow("knn_lsh_recall", { (s, dir) =>
      knnRecallCounts(s, dir, "n_lsh") { (probes, corpus) =>
        SimilarityOps.lshKnn(probes, corpus, KnnK, nPlanes = LshNPlanes)
      }
    }, oracle = SimilaritySql.knnLshRecall(KnnProbeEvery, KnnK,
      LshNPlanes), contract = true),

    // The ANN recall CONTRACT, measured in-gate (the quantizer's recall
    // is a number the gate pins, not a docstring claim — the MinHash
    // family got this treatment in dedup_minhash_recall; this is the
    // embedding-side twin): recall@k of the fixed-C IVF-PQ search
    // against the brute-force truth, as one row of integer counts.
    GateRow("knn_pq_residual_recall", { (s, dir) =>
      knnRecallCounts(s, dir, "n_pq") { (probes, corpus) =>
        SimilarityOps.ivfPqResidualSearch(probes, corpus,
          pqResIndex(s, dir), KnnK, coarseCentroids(s, dir),
          pqResBooks(s, dir), PqSubDim, nprobe = IvfNprobe, rerank = PqRerank)
      }
    }, oracle = SimilaritySql.knnPqResidualRecall(KnnProbeEvery,
      KnnK, KmeansK, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      PqRerank.toString), contract = true),

    // IVF-PQ (Jégou et al. 2011) — the full FAISS IVFPQ and the
    // memory/IO companion of knn_ivf_trained, SEARCH PHASE ONLY: coarse
    // centroids, residual sub-codebooks and the coded index are
    // persisted model-store artifacts; codes quantize vec −
    // coarse_centroid, probe LUTs are per probed cell, candidates travel
    // as m small codes — never the 64 floats — and the exact cosine
    // re-rank touches the ADC-best shortlist only.
    GateRow("knn_ivf_pq_residual", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val probes = emb.filter(col("vec_id") % KnnProbeEvery === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      SimilarityOps.ivfPqResidualSearch(probes, corpus, pqResIndex(s, dir),
          KnnK, coarseCentroids(s, dir), pqResBooks(s, dir), PqSubDim,
          nprobe = IvfNprobe, rerank = PqRerank)
        .select(col("probe_id"), col("vec_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
    }, oracle = SimilaritySql.knnIvfPqResidual(KnnProbeEvery, KnnK,
      KmeansK, KmeansIters, IvfNprobe, PqM, PqSubDim, PqKs, PqIters,
      PqRerank.toString)),

    // INCREMENTAL ANN maintenance: a batch of new arrivals (every 20th
    // vector, last component zeroed — the embedding_near_dup planting)
    // is residual-coded against the EXISTING fixed-C trained artifacts
    // via SimilarityOps.ivfAppend — no retraining, no old row touched —
    // and search runs over the merged index. At 100 TB this is the only
    // sane ingest path: the quantizer retrains when the corpus
    // fingerprint moves, never per batch. Recall vs a full rebuild is
    // spec-measured (OperatorsSpec).
    GateRow("knn_ivf_incremental", { (s, dir) =>
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
    }, oracle = SimilaritySql.knnIvfPqResidualFrom(
      SimilaritySql.defaultProbesSql(KnnProbeEvery), KnnK, KmeansK, KmeansIters,
      IvfNprobe, PqM, PqSubDim, PqKs, PqIters, PqRerank.toString,
      codedSql = SimilaritySql.plantedArrivalsCorpusSql)),

    // Per-vector cluster map against the persisted refined centroids —
    // the output downstream curation consumes (buckets, postings,
    // quotas).
    GateRow("kmeans_assignments", { (s, dir) =>
      val corpus = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
      ClusterOps.kmeansAssign(corpus, coarseCentroids(s, dir))
    }, oracle = SimilaritySql.kmeansAssignments(KmeansK, KmeansIters)),

    // SemDeDup (semantic dedup, arXiv:2303.09540) on the same planted
    // corpus: coarse-cluster by nearest deterministic centroid, drop
    // members with a lower-id near-duplicate (cosine >= threshold) in
    // their cluster. The planted copies land in their original's cluster
    // and get dropped; the keep list is the semantic analogue of
    // dedup_near_keep.
    GateRow("semdedup_keep", { (s, dir) =>
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding").as("vec"))
      val planted = base.unionByName(base.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(slice(col("vec"), 1, 63), array(lit(0.0f))).as("vec")))
      SimilarityOps.semDedup(planted, EmbNearDupMin,
        centroidTarget = IvfAutoC)
    }, oracle = SimilaritySql.semdedupKeep(EmbNearDupMin, IvfAutoC)),
  )

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

  // Planted embedding copies (last component zeroed) score ~0.992;
  // unrelated pairs in this corpus top out ~0.51.
  val EmbNearDupMin = 0.9

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
}

/** DuckDB oracle builders that only the similarity rows use. */
object SimilaritySql {
  import graft.Oracles._

  val docsWithEmbeddings: String =
    """SELECT doc_id, lang, n_chars, label,
      |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS emb_norm
      |FROM documents
      |JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings)
      |  ON doc_id = vec_id""".stripMargin

  /** Sequential-fold cosine knn (SimilarityOps.bruteForceKnn). */
  def knnBruteForce(probeEvery: Int, k: Int): String = {
    val dotPN = "list_reduce(list_transform(generate_series(1, 64), i -> p.pvec[i] * n.vec[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (SELECT vec_id AS probe_id, vec AS pvec, nrm AS pnrm
       |  FROM n WHERE vec_id % $probeEvery = 0),
       |s AS (SELECT p.probe_id, n.vec_id,
       |    $dotPN / (p.pnrm * n.nrm) AS sim
       |  FROM p, n WHERE n.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** [[knnBruteForce]] over an EXPLICIT probe source (`(vec_id, vec
    * DOUBLE[])`): the truth side of the off-manifold recall contract.
    * Probe norms are folded from the probe vectors directly — for
    * in-corpus probes this is the identical IEEE sequence the shared-n
    * form computes. */
  def knnBruteForceFrom(probesSql: String, k: Int): String = {
    val dotPN = "list_reduce(list_transform(generate_series(1, 64), i -> p.pvec[i] * n.vec[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |pv AS ($probesSql),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (SELECT vec_id AS probe_id, vec AS pvec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS pnrm
       |  FROM pv),
       |s AS (SELECT p.probe_id, n.vec_id,
       |    $dotPN / (p.pnrm * n.nrm) AS sim
       |  FROM p, n WHERE n.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** IVF knn (SimilarityOps.ivfKnn): the oracle reproduces the EXACT
    * bucketing — bounded md5-hash centroid sample (same
    * `('0x'||substr(md5,1,15))::BIGINT % (N div C)` arithmetic), rank-1
    * nearest-centroid assignment, nprobe probe buckets, fold-ordered
    * cosine re-rank with the same (sim DESC, id) tie-break. */
  /** IVF sampling step mirroring [[graft.operators.SimilarityOps
    * .ivfCentroids]]: fixed targetC when positive, else the scale-aware
    * C = max(4, ⌈√N⌉) (√/⌈⌉ are IEEE-exact in both engines, so the same
    * count yields the same C). */
  private def ivfStepSql(countSql: String, targetC: Int): String =
    if (targetC > 0) s"greatest($countSql // $targetC, 1)"
    else s"greatest($countSql // greatest(4, " +
      s"CAST(ceil(sqrt(CAST($countSql AS DOUBLE))) AS BIGINT)), 1)"

  def knnIvf(probeEvery: Int, k: Int, targetC: Int, nprobe: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM v),
       |c AS (SELECT vec_id AS cent_id, vec AS cent_vec, nrm AS cnrm FROM n
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql("(SELECT count(*) FROM v)", targetC)} = 0),
       |caw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${dot("n.vec", "c.cent_vec")} / (n.nrm * c.cnrm) AS csim
       |  FROM n, c),
       |ca AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM caw) WHERE crank = 1),
       |pw AS (SELECT p.vec_id AS probe_id, p.vec AS pvec, p.nrm AS pnrm, c.cent_id,
       |    ${dot("p.vec", "c.cent_vec")} / (p.nrm * c.cnrm) AS csim
       |  FROM (SELECT * FROM n WHERE vec_id % $probeEvery = 0) p, c),
       |pb AS (SELECT probe_id, pvec, pnrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM pw) WHERE crank <= $nprobe),
       |s AS (SELECT pb.probe_id, ca.vec_id,
       |    ${dot("pb.pvec", "ca.vec")} / (pb.pnrm * ca.nrm) AS sim
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** LSH knn (SimilarityOps.lshKnn): sign-bit bucketing against the
    * md5-derived hyperplanes — the plane constants are embedded from the
    * SAME [[graft.operators.SimilarityOps.lshPlanes]] call, each float
    * widened to double and rendered via a round-tripping string cast
    * (`CAST('<shortest-repr>' AS DOUBLE)`, never a bare decimal literal,
    * which DuckDB would type DECIMAL and double-round) — then 1-bit
    * multiprobe and the same fold-ordered cosine re-rank. */
  def knnLsh(probeEvery: Int, k: Int, nPlanes: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    val planeRows = graft.operators.SimilarityOps.lshPlanes(nPlanes)
      .zipWithIndex.map { case (row, p) =>
        row.map(f => s"CAST('${f.toDouble}' AS DOUBLE)")
          .mkString(s"($p, [", ", ", "])")
      }.mkString(",\n  ")
    s"""WITH pl AS (SELECT * FROM (VALUES
       |  $planeRows) t(p, pvec)),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM v),
       |bk AS (SELECT n.vec_id,
       |    CAST(SUM(CASE WHEN ${dot("n.vec", "pl.pvec")} > 0.0
       |      THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY n.vec_id),
       |b AS (SELECT n.vec_id, n.vec, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id)),
       |pb AS (SELECT vec_id AS probe_id, vec AS pvec, nrm AS pnrm,
       |    unnest(list_prepend(bucket, list_transform(
       |      generate_series(0, ${nPlanes - 1}),
       |      p -> xor(bucket, 1::BIGINT << p)))) AS bucket
       |  FROM b WHERE vec_id % $probeEvery = 0),
       |s AS (SELECT pb.probe_id, b.vec_id,
       |    ${dot("pb.pvec", "b.vec")} / (pb.pnrm * b.nrm) AS sim
       |  FROM b JOIN pb USING (bucket)
       |  WHERE b.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** L2 normalization: same fold for the norm, same per-element divide.
    * Output is scalar-only (array columns break the driver's pandas
    * sort-before-hash): the norm plus the first/last unit components
    * pin down the whole normalized vector. */
  val embeddingsL2Normalized: String =
    """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |m AS (SELECT vec_id, vec,
      |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
      |  FROM n)
      |SELECT vec_id, nrm AS norm,
      |  vec[1] / nrm AS unit_first,
      |  vec[64] / nrm AS unit_last
      |FROM m""".stripMargin

  /** Per-label centroid norms: 2^-24 fixed-point element sums (decimal
    * casts of floats are NOT cross-engine stable; floor(x*2^24) is),
    * then one pos-ordered double fold (DuckDB `list(x ORDER BY pos)` ≡
    * Spark `array_sort(collect_list(struct(pos, x)))`). */
  val labelCentroidNorms: String =
    """WITH e AS (SELECT label, i - 1 AS pos, embedding[i] AS x
      |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
      |s AS (SELECT label, pos,
      |  SUM(CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS s,
      |  count(*) AS n
      |  FROM e GROUP BY label, pos)
      |SELECT label, min(n) AS n_vectors,
      |  sqrt(list_reduce(
      |    list_transform(
      |      list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) ORDER BY pos),
      |      m -> m * m),
      |    (a, b) -> a + b)) AS centroid_norm
      |FROM s GROUP BY label""".stripMargin

  /** Exact all-pairs cosine over the planted embedding corpus (every
    * 20th vector ∪ a copy with the last component zeroed). Same
    * sequential fold as the Spark side. */
  def embeddingNearDup(minSim: Double): String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |pl AS (SELECT vec_id, vec FROM base
       |  UNION ALL
       |  SELECT vec_id + 10000000, list_concat(list_slice(vec, 1, 63), [0.0]) FROM base),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM pl),
       |s AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  list_reduce(list_transform(generate_series(1, 64), i -> x.vec[i] * y.vec[i]), (a, b) -> a + b)
       |    / (x.nrm * y.nrm) AS sim
       |  FROM n x JOIN n y ON x.vec_id < y.vec_id)
       |SELECT id_a, id_b, sim FROM s WHERE sim >= $minSim""".stripMargin

  /** SemDeDup keep list (SimilarityOps.semDedup on the planted corpus):
    * same md5-modulo centroid sample and rank-1 assignment as the IVF
    * oracle, then drop rows with a lower-id cluster-mate at cosine ≥
    * threshold. Fold-ordered dots keep every double bit-identical. */
  def semdedupKeep(minSim: Double, targetC: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |pl AS (SELECT vec_id, vec FROM base
       |  UNION ALL
       |  SELECT vec_id + 10000000, list_concat(list_slice(vec, 1, 63), [0.0]) FROM base),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM pl),
       |c AS (SELECT vec_id AS cent_id, vec AS cent_vec, nrm AS cnrm FROM n
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql("(SELECT count(*) FROM pl)", targetC)} = 0),
       |aw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${dot("n.vec", "c.cent_vec")} / (n.nrm * c.cnrm) AS csim
       |  FROM n, c),
       |a AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM aw) WHERE crank = 1),
       |dropped AS (SELECT DISTINCT x.vec_id
       |  FROM a x JOIN a y ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id
       |  WHERE ${dot("x.vec", "y.vec")} / (x.nrm * y.nrm) >= $minSim)
       |SELECT vec_id, cent_id FROM a
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin
  }

  /** Generalized deterministic-kmeans CTE chain over `v$sfx` (which must
    * provide `(vec_id, vec DOUBLE[dim])`): hash-sample seeds `c0$sfx`,
    * then `iters` unrolled Lloyd iterations — fold-ordered L2 distances,
    * (d2, cent_id) tie-break, 2^24 fixed-point per-dimension means
    * (integer division truncates toward zero in BOTH engines). The
    * suffix keeps several chains composable in one query (the PQ oracle
    * trains one chain per subspace). */
  private def kmeansChain(sfx: String, dim: Int, targetC: Int,
      iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""a$k${sfx}w AS (SELECT v.vec_id, v.vec, c.cent_id,
         |    list_reduce(list_transform(generate_series(1, $dim),
         |      i -> (v.vec[i] - c.cent_vec[i]) * (v.vec[i] - c.cent_vec[i])),
         |      (a, b) -> a + b) AS d2
         |  FROM v$sfx v, c${k - 1}$sfx c),
         |a$k$sfx AS (SELECT vec_id, vec, cent_id FROM (
         |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
         |  FROM a$k${sfx}w) WHERE r = 1),
         |m$k$sfx AS (SELECT cent_id, i AS pos, count(*) AS n,
         |    SUM(CAST(floor(vec[i] * 16777216) AS BIGINT)) AS s
         |  FROM a$k$sfx, (SELECT unnest(generate_series(1, $dim)) AS i) g
         |  GROUP BY cent_id, i),
         |c$k$sfx AS (SELECT cent_id, min(n) AS n_members,
         |    list(CAST(s // n AS DOUBLE) / CAST(16777216 AS DOUBLE) ORDER BY pos)
         |      AS cent_vec
         |  FROM m$k$sfx GROUP BY cent_id)""".stripMargin
    }.mkString(",\n")
    s"""c0$sfx AS (SELECT vec_id AS cent_id, vec AS cent_vec FROM v$sfx
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql(s"(SELECT count(*) FROM v$sfx)", targetC)} = 0),
       |$iterCtes""".stripMargin
  }

  /** The full-vector kmeans CTE list (v, c0..c`iters`) — the shared
    * prefix of every trained-quantizer oracle. Exposed as a value so
    * composing oracles append to it instead of re-parsing rendered SQL
    * (round-5 ADVICE: the old `indexOf("\\nSELECT cent_id")` surgery). */
  /** Scale-aware exact-rerank depth as a DuckDB scalar subquery over
    * the corpus CTE `v` — the SQL restatement of
    * [[graft.operators.SimilarityOps.autoRerankStats]]'s `auto_r`:
    * `greatest(floor, (⌈√N⌉·4) // 3)`. √, ⌈⌉ and integer division are
    * exact in both engines, so the depth the oracle applies equals the
    * engine's at ANY corpus scale (the gate scales sit at the floor;
    * the sf1/100× ledger corpora exercise the √N branch). Pass as the
    * `rerank` argument of the knn generators; fixed-depth callers pass
    * the literal. */
  def autoRerankSql: String =
    s"SELECT greatest(${graft.operators.SimilarityOps.AutoRerankFloor}, " +
      "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3) FROM v"

  private def kmeansCtePrefix(targetC: Int, iters: Int): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |${kmeansChain("", 64, targetC, iters)}""".stripMargin

  /** Deterministic k-means final centroids (ClusterOps.kmeans). */
  def kmeansCentroids(targetC: Int, iters: Int): String =
    s"""WITH ${kmeansCtePrefix(targetC, iters)}
       |SELECT cent_id, CAST(n_members AS BIGINT) AS n_members,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64),
       |    i -> cent_vec[i] * cent_vec[i]), (a, b) -> a + b)) AS centroid_norm
       |FROM c$iters""".stripMargin

  /** IVF over the trained quantizer (SimilarityOps.ivfKnnTrained): L2
    * rank-1 corpus buckets / rank<=nprobe probe buckets against the
    * final kmeans CTE, fold-ordered cosine re-rank. */
  def knnIvfTrained(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    def d2(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |n AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM v),
       |caw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${d2("n.vec", "c.cent_vec")} AS d2
       |  FROM n, c$iters c),
       |ca AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |pw AS (SELECT p.vec_id AS probe_id, p.vec AS pvec, p.nrm AS pnrm, c.cent_id,
       |    ${d2("p.vec", "c.cent_vec")} AS d2
       |  FROM (SELECT * FROM n WHERE vec_id % $probeEvery = 0) p, c$iters c),
       |pb AS (SELECT probe_id, pvec, pnrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY d2, cent_id) AS cr
       |  FROM pw) WHERE cr <= $nprobe),
       |s AS (SELECT pb.probe_id, ca.vec_id,
       |    ${dot("pb.pvec", "ca.vec")} / (pb.pnrm * ca.nrm) AS sim
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** Per-vector cluster map against the refined centroids
    * (ClusterOps.kmeansAssign after kmeans): one more rank-1 assignment
    * over the final CTE. */
  def kmeansAssignments(targetC: Int, iters: Int): String = {
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |fw AS (SELECT v.vec_id, c.cent_id,
       |    list_reduce(list_transform(generate_series(1, 64),
       |      i -> (v.vec[i] - c.cent_vec[i]) * (v.vec[i] - c.cent_vec[i])),
       |      (a, b) -> a + b) AS d2
       |  FROM v, c$iters c)
       |SELECT vec_id, cent_id, d2 FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
       |  FROM fw) WHERE r = 1""".stripMargin
  }

  /** The gate probes: every `probeEvery`-th corpus vector (what a DuckDB
    * oracle can reproduce from the tables alone). Probe-source SQL must
    * yield `(vec_id, vec DOUBLE[])`. */
  private[graft] def defaultProbesSql(probeEvery: Int): String =
    s"SELECT vec_id, vec FROM v WHERE vec_id % $probeEvery = 0"

  /** The corpus `knn_ivf_incremental` searches: `v` plus the planted
    * arrivals (every 20th vector, last component zeroed, id + 10000000 —
    * the embedding_near_dup planting). Pass as
    * [[knnIvfPqResidualFrom]]'s `codedSql`. */
  val plantedArrivalsCorpusSql: String =
    """SELECT vec_id, vec FROM v
      |UNION ALL SELECT vec_id + 10000000 AS vec_id,
      |  list_concat(list_slice(vec, 1, 63), [0.0]) AS vec
      |  FROM v WHERE vec_id % 20 = 0""".stripMargin

  /** OFF-MANIFOLD recall contract (gate row
    * `knn_offmanifold_recall`): the [[knnPqResidualRecall]] counts over
    * hash-synthesized probes drawn OUTSIDE the corpus distribution
    * (amplitude `amp` × the corpus envelope, md5-derived so both
    * engines synthesize bit-identical floats — every value has ≤ 22
    * significant bits, so the double→float cast is exact). The
    * on-manifold contracts stay green while off-manifold recall
    * collapses across decades (r16's finding); this row makes the
    * production configuration's off-manifold behavior gate-visible at
    * BOTH gate scales — its counts move with any ANN default change. */
  def knnPqResidualRecallOffManifold(nProbes: Int, amp: String, k: Int,
      targetC: Int, iters: Int, nprobe: Int, m: Int, subDim: Int, ks: Int,
      subIters: Int, rerank: String): String = {
    val probes = offManifoldProbesSql(nProbes, amp)
    s"""WITH truth AS (
       |${knnBruteForceFrom(probes, k)}
       |),
       |cand AS (
       |${knnIvfPqResidualFrom(probes, k, targetC, iters, nprobe, m, subDim, ks, subIters, rerank)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_pq,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin
  }

  /** The synthetic off-manifold probe batch: probe p's component d is
    * `((md5_60('omp:p:d') % 2^20) / 2^20 - 0.5) * amp`, cast through
    * FLOAT — the [[SimilarityGate.offManifoldProbes]] twin, same
    * hash60 arithmetic as every other md5-derived oracle quantity. Ids
    * live at 900000000+ (disjoint from any corpus id). */
  private def offManifoldProbesSql(nProbes: Int, amp: String): String =
    s"""SELECT pid + 900000000 AS vec_id,
       |  list_transform(generate_series(1, 64), d ->
       |    CAST(CAST(((${hash60(s"'omp:' || pid || ':' || d")} % 1048576)
       |      / 1048576.0 - 0.5) * $amp AS FLOAT) AS DOUBLE)) AS vec
       |  FROM (SELECT unnest(range($nProbes)) AS pid)""".stripMargin

  /** Untrained-IVF twin of [[knnPqResidualRecall]]: recall@k of the
    * sampled-centroid IVF search ([[knnIvf]]) vs brute force. With the
    * scale-aware C = ⌈√N⌉ the probed fraction (nprobe/C) SHRINKS as the
    * corpus grows, so this contract is what shows whether exact re-rank
    * inside fewer, finer cells holds recall across scales. */
  def knnIvfRecall(probeEvery: Int, k: Int, targetC: Int,
      nprobe: Int): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnIvf(probeEvery, k, targetC, nprobe)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_ivf,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** LSH twin of the recall contract over the [[knnLsh]] chain. */
  def knnLshRecall(probeEvery: Int, k: Int, nPlanes: Int): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnLsh(probeEvery, k, nPlanes)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_lsh,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** ANN recall contract (gate row `knn_pq_residual_recall`):
    * recall@k of the IVF-PQ search vs the brute-force truth, as one row
    * of integer counts — the quantizer's recall is MEASURED in-gate, not
    * trusted. Composes the two independently-green chains
    * ([[knnBruteForce]], [[knnIvfPqResidual]]); same pattern as
    * [[dedupMinhashRecall]]. */
  def knnPqResidualRecall(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnIvfPqResidual(probeEvery, k, targetC, iters, nprobe, m, subDim, ks, subIters, rerank)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_pq,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** Residual IVF-PQ (SimilarityOps.ivfPqResidualKnn): sub-chains train
    * on `vec − coarse_centroid` residuals (exact IEEE subtractions of
    * exactly-cast doubles), probe LUTs are per (probe, probed cell),
    * ADC folds in subspace order, exact cosine on the shortlist. */
  def knnIvfPqResidual(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String): String =
    knnIvfPqResidualFrom(defaultProbesSql(probeEvery), k, targetC, iters,
      nprobe, m, subDim, ks, subIters, rerank)

  /** [[knnIvfPqResidual]] over an EXPLICIT probe source (the `pv` CTE)
    * and coded corpus (the `va` CTE). The off-manifold recall contract
    * passes hash-synthesized probes; `knn_ivf_incremental` passes
    * [[plantedArrivalsCorpusSql]] as `codedSql` — every quantizer chain
    * still TRAINS on `v` only, while coarse assignment, coding and the
    * exact re-rank read `va`: the SQL restatement of "append without
    * retraining" ([[graft.operators.SimilarityOps.ivfAppend]]).
    * `codedSql` must contain every `v` row, ids unique. */
  def knnIvfPqResidualFrom(probesSql: String, k: Int, targetC: Int,
      iters: Int, nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String,
      codedSql: String = "SELECT vec_id, vec FROM v"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    def d2(a: String, b: String, dim: Int) =
      s"list_reduce(list_transform(generate_series(1, $dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    val subChains = (0 until m).map { s0 =>
      s"""vas$s0 AS (SELECT vec_id,
         |  list_slice(rvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM car),
         |vs$s0 AS (SELECT * FROM vas$s0
         |  WHERE vec_id IN (SELECT vec_id FROM v)),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val codeCtes = (0 until m).map { s0 =>
      s"""cdw$s0 AS (SELECT v.vec_id, c.cent_id,
         |    ${d2("v.vec", "c.cent_vec", subDim)} AS d2
         |  FROM vas$s0 v, c${subIters}s$s0 c),
         |cd$s0 AS (SELECT vec_id, $s0 AS sub, cent_id AS code FROM (
         |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
         |  FROM cdw$s0) WHERE r = 1),
         |lut$s0 AS (SELECT p.probe_id, p.cent_id, $s0 AS sub,
         |    c.cent_id AS code,
         |    ${d2(s"list_slice(p.prvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim})",
               "c.cent_vec", subDim)} AS d2c
         |  FROM pbr p, c${subIters}s$s0 c)""".stripMargin
    }.mkString(",\n")
    val codesUnion = (0 until m).map(s0 => s"SELECT * FROM cd$s0")
      .mkString(" UNION ALL ")
    val lutUnion = (0 until m).map(s0 => s"SELECT * FROM lut$s0")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |pv AS ($probesSql),
       |va AS ($codedSql),
       |caw AS (SELECT v.vec_id, c.cent_id,
       |    ${d2("v.vec", "c.cent_vec", 64)} AS cd2
       |  FROM va v, c$iters c),
       |ca AS (SELECT vec_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY cd2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |car AS (SELECT ca.vec_id, ca.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> v.vec[i] - c.cent_vec[i]) AS rvec
       |  FROM ca JOIN va v ON v.vec_id = ca.vec_id
       |  JOIN c$iters c ON c.cent_id = ca.cent_id),
       |pw AS (SELECT p.vec_id AS probe_id, c.cent_id,
       |    ${d2("p.vec", "c.cent_vec", 64)} AS cd2
       |  FROM pv p, c$iters c),
       |pb AS (SELECT probe_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY cd2, cent_id) AS cr
       |  FROM pw) WHERE cr <= $nprobe),
       |pbr AS (SELECT pb.probe_id, pb.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> pv.vec[i] - c.cent_vec[i]) AS prvec
       |  FROM pb JOIN pv ON pv.vec_id = pb.probe_id
       |  JOIN c$iters c ON c.cent_id = pb.cent_id),
       |$subChains,
       |$codeCtes,
       |codes AS ($codesUnion),
       |luts AS ($lutUnion),
       |cand AS (SELECT pb.probe_id, ca.vec_id, ca.cent_id
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id),
       |adc AS (SELECT cp.probe_id, cp.vec_id,
       |    list_reduce(list_prepend(0.0, list(l.d2c ORDER BY l.sub)),
       |      (a, b) -> a + b) AS adc
       |  FROM cand cp
       |  JOIN codes cd ON cd.vec_id = cp.vec_id
       |  JOIN luts l ON l.probe_id = cp.probe_id AND l.cent_id = cp.cent_id
       |    AND l.sub = cd.sub AND l.code = cd.code
       |  GROUP BY cp.probe_id, cp.vec_id),
       |sl AS (SELECT probe_id, vec_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS ar
       |  FROM adc) WHERE ar <= ($rerank)),
       |n AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM va),
       |pn AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM pv),
       |s AS (SELECT sl.probe_id, sl.vec_id,
       |    ${dot("p.vec", "x.vec")} / (p.nrm * x.nrm) AS sim
       |  FROM sl JOIN n x ON x.vec_id = sl.vec_id
       |  JOIN pn p ON p.vec_id = sl.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  private def codeNormSelect(subDim: Int): String =
    s"""SELECT sub, cent_id, sqrt(list_reduce(list_transform(
       |    generate_series(1, $subDim), i -> cent_vec[i] * cent_vec[i]),
       |    (a, b) -> a + b)) AS code_norm
       |FROM books""".stripMargin

  /** PQ sub-codebook TRAINING (SimilarityOps.pqCodebooks / gate row
    * `pq_train_codebooks`): one kmeans sub-chain per raw-vector
    * subspace; the artifact's oracle fingerprint is the per-(sub, code)
    * centroid norm. */
  def pqTrainCodebooks(m: Int, subDim: Int, ks: Int,
      subIters: Int): String = {
    val subChains = (0 until m).map { s0 =>
      s"""vs$s0 AS (SELECT vec_id,
         |  list_slice(vec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM v),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s0 =>
      s"SELECT $s0 AS sub, cent_id, cent_vec FROM c${subIters}s$s0")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |$subChains,
       |books AS ($union)
       |${codeNormSelect(subDim)}""".stripMargin
  }

  /** Residual PQ sub-codebook TRAINING (SimilarityOps
    * .pqResidualCodebooks / gate row `pq_train_codebooks_residual`):
    * the sub-chains train on `vec − coarse_centroid` residuals (exact
    * IEEE subtractions) against the SAME coarse kmeans chain the search
    * queries read. */
  def pqTrainCodebooksResidual(targetC: Int, iters: Int, m: Int,
      subDim: Int, ks: Int, subIters: Int): String = {
    def d2(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    val subChains = (0 until m).map { s0 =>
      s"""vs$s0 AS (SELECT vec_id,
         |  list_slice(rvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM car),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s0 =>
      s"SELECT $s0 AS sub, cent_id, cent_vec FROM c${subIters}s$s0")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |caw AS (SELECT v.vec_id, c.cent_id,
       |    ${d2("v.vec", "c.cent_vec")} AS cd2
       |  FROM v, c$iters c),
       |ca AS (SELECT vec_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY cd2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |car AS (SELECT ca.vec_id, ca.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> v.vec[i] - c.cent_vec[i]) AS rvec
       |  FROM ca JOIN v ON v.vec_id = ca.vec_id
       |  JOIN c$iters c ON c.cent_id = ca.cent_id),
       |$subChains,
       |books AS ($union)
       |${codeNormSelect(subDim)}""".stripMargin
  }
}
