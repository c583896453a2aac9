package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions; the reference's only merge semantic keeps duplicates —
  * SURVEY.md §2.3 L3 — so these are the operators that fix that at corpus
  * scale).
  *
  * Scale design (100 TB discipline):
  *   - Exact dedup is one hash-shuffle on the dedup key (window or
  *     groupBy); no driver collects.
  *   - MinHash/LSH: signatures are a PURE PROJECTION per document
  *     (hash each distinct shingle once, K array_min passes); the
  *     band-bucket self-join is the pipeline's only shuffle. Bucket
  *     sizes are bounded by banding; the candidate set — not the full
  *     O(n²) pair space — is what gets verified.
  *   - SimHash: per-doc 48-bit signature via explode + bit-count
  *     aggregation; candidate pairs via 12-bit chunk banding (pigeonhole:
  *     hamming ≤ 3 ⇒ at least one of 4 chunks equal).
  *   - All hashes derive from md5 so the DuckDB oracle can reproduce them
  *     bit-for-bit ([[graft.functions.TextFunctions.hash60]]).
  */
object DedupOps {

  /** Exact dedup, last-write-wins per key: keep one row per `key` ordered
    * by `order` columns. `row_number` over a hash-partitioned window —
    * one shuffle, no driver involvement. */
  def exact(df: DataFrame, key: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(key: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Exact dedup as an arg-min AGGREGATION: keep the row with minimal
    * `order` per key via `min_by(struct(*), order)`. Identical result to
    * [[exact]] when `order` is unique within each key, but plans as
    * partial+final hash aggregation — map-side combine shrinks the
    * shuffle to one row per (partition, key), where the window form must
    * shuffle EVERY row. The right default at corpus scale. */
  def exactAgg(df: DataFrame, key: Seq[Column], order: Column): DataFrame = {
    val cols = df.columns
    df.groupBy(key: _*)
      .agg(min_by(struct(cols.map(col): _*), order).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  // ---- MinHash/LSH ---------------------------------------------------

  /** Number of hash functions (k), bands (b) and rows-per-band (r = k/b).
    * est-Jaccard resolution is 1/k; a pair collides in a band with
    * probability sim^r. */
  val K = 32
  /** Production banding: 8 bands of r=4 — per-band collision sim^4, so
    * the S-curve midpoint (1/b)^(1/r) ≈ 0.595 sits inside the t ≈ 0.5-0.8
    * near-dup duty band. Measured (SCALING_LEDGER_HEAPS / _100X recall
    * columns): r=4 holds 0.94-0.97 recall at t = 0.5 across two decades
    * on both fixtures where the old r=8 default (midpoint ≈ 0.84 — an
    * exact-dup banding, not a near-dup one) held 0.43-0.48, at
    * essentially the same gate cost. Saturated/self-similar corpora are
    * the [[MaxBucket]] cap's job, not the banding's: over-cap buckets
    * degrade clique→path with the ledger (`dedup_lsh_bucket_ledger`,
    * n_over_cap) as the committed evidence, so recall is no longer
    * traded away up front to keep degenerate buckets small. r=8 stays
    * available per-call (`bands = 4`) for t ≳ 0.85 exact-leaning duty —
    * the gate pins both configs (`dedup_minhash_recall{,_r8}`). */
  val Bands = 8
  val R = K / Bands
  val P = 1000000007L

  /** Deterministic (a, b) coefficients for the k universal hash functions
    * h_i(x) = (a_i·x + b_i) mod P. Knuth-style multiplicative constants,
    * odd, reduced mod P — fixed so the oracle can inline the same values. */
  val HashCoeffs: Seq[(Long, Long)] =
    (0 until K).map { i =>
      val a = ((i.toLong * 2654435761L + 1013904223L) % P) | 1L
      val b = (i.toLong * 97531L + 12345L) % P
      (a, b)
    }

  /** Per-document MinHash signature as ONE array column `(id, sig[K])` —
    * a PURE PROJECTION: each distinct shingle is hashed once
    * (`hash60 % P`), then each of the K affine permutations is an
    * `array_min(transform(...))` over that hash array. ZERO shuffles for
    * the whole signature computation (the earlier form exploded shingles
    * into a 32-aggregation groupBy — a full shuffle of every shingle
    * row); the LSH bucket join becomes the pipeline's only exchange. */
  def minhashSignatureArr(df: DataFrame, id: String, text: String): DataFrame =
    // One codegen'd pass (dedup + md5 + all K affine minima,
    // [[graft.expressions.MinhashSigArray]]) — the composed
    // array_distinct/transform/array_min chain ran K+1 INTERPRETED
    // higher-order lambdas per document (the signature pass's dominant
    // CPU, r21 measurement); values are bit-identical by the
    // min-over-set = min-over-multiset argument in the expression doc.
    df.select(col(id), graft.expressions.GraftFunctions.minhashSigs(
      wordBigrams(col(text)), HashCoeffs.map(_._1).toArray,
      HashCoeffs.map(_._2).toArray, P).as("sig"))

  /** LSH banding over the signature array: bucket key = xxhash64 of the
    * band's r minhashes joined in order (pure projection + bands-way
    * explode). The 64-bit key keeps the bucket self-join shuffling and
    * comparing longs, not ~90-char strings; a cross-bucket hash
    * collision (≈ rows²/2⁶⁵) only adds a candidate pair, which the
    * est-jaccard filter then judges on the real signatures. */
  def lshBuckets(sigArr: DataFrame, id: String,
      bands: Int = Bands, carry: Seq[String] = Nil): DataFrame = {
    require(bands >= 1 && K % bands == 0, s"bands must divide K=$K, got $bands")
    val r = K / bands
    val keep = col(id) +: carry.map(col)
    // Codegen'd per-band keys ([[graft.expressions.LshBandKeys]]) +
    // posexplode (pos = band) — the per-band slice/transform/array_join
    // chain ran `bands` interpreted lambdas per row; keys bit-identical
    // (same joined decimal strings, same seed-42 xxhash64).
    sigArr.select(keep :+ posexplode(graft.expressions.GraftFunctions
      .lshBandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")): _*)
  }

  /** Per-(band, bkey) population cap for the LSH bucket self-join: a
    * bucket of m members generates m²/2 pairs, so one degenerate bucket
    * (millions of byte-identical documents surviving to near-dedup — an
    * adversarial or pre-exact-dedup-skipping corpus) turns the
    * candidate stage quadratic. Honest buckets are tiny (the
    * `dedup_lsh_bucket_ledger` gate entry measures max ≈ cluster size 2
    * on the gate corpora); 256 is orders of magnitude above that while
    * bounding per-bucket join work at 256²/2 pairs. Over-cap buckets
    * degrade from CLIQUE to signature-ordered PATH (see
    * [[minhashCandidates]]) — linear rows, connectivity preserved
    * pre-filter, threshold-equivalent clusters for identical-signature
    * families. */
  val MaxBucket = 256

  /** Candidate near-duplicate pairs (id_a < id_b) that share ≥1 LSH bucket,
    * with the estimated Jaccard = fraction of equal signature components
    * (computed by zipping the two signature arrays — no re-aggregation).
    * Self-join is on (band, bkey) — co-partitioned, no cross product.
    *
    * Buckets over `maxBucket` members emit consecutive-pair PATH edges
    * (walked in full-signature order, id tiebreak — see the window
    * comment in the body) instead of the full clique: O(m) rows instead
    * of O(m²), every member still reachable from every other pre-filter,
    * and each identical-signature run is contiguous so the est_jaccard
    * threshold every consumer applies keeps the within-run edges
    * (est = 1.0) and drops only the run-boundary edges the thresholded
    * clique would drop too — transitive consumers
    * ([[connectedComponents]], whose pointer doubling absorbs the added
    * path depth in log rounds) produce the same clusters as the
    * thresholded clique for identical-signature families. The PAIRWISE
    * keep ([[keepAfterNearDedup]]) is also cap-equivalent for
    * identical-signature families (within a run the id tiebreak makes
    * path edges id-consecutive, so every member but the run minimum
    * appears as id_b) — but NOT for distinct-signature variants in a
    * fired over-cap bucket: their path segment is hash-ordered, so the
    * pairwise keep retains every hash-order local minimum instead of
    * one survivor. Byte-identical members are collapsed by the exact
    * dedup pass that precedes near-dedup in every committed pipeline;
    * for variant-heavy corpora the ledger (`dedup_lsh_bucket_ledger`)
    * is the signal — n_over_cap > 0 means pairwise keeps should switch
    * to the transitive consumers ([[keepClusterMin]] / `dedup_cc_keep`),
    * which stay cluster-exact under the cap. On honest corpora the cap
    * never fires (ledger-checked) and the output is byte-identical to
    * uncapped. */
  def minhashCandidates(df: DataFrame, id: String, text: String,
      bands: Int = Bands, distinctPairs: Boolean = true,
      maxBucket: Int = MaxBucket): DataFrame =
    // The signature projection feeds FOUR plan branches (two bucket-join
    // sides, two est-jaccard joins). One repartition of the compact
    // (id, sig) rows materializes it as a reusable exchange
    // (ReusedExchange) instead of recomputing the shingling 4x, and
    // co-partitions the id joins.
    minhashCandidatesFromSig(
      minhashSignatureArr(df, id, text).repartition(col(id)),
      id, bands, distinctPairs, maxBucket)

  /** [[minhashCandidates]] over PRECOMPUTED `(id, sig)` signatures — for
    * callers that already hold the signature frame and reuse it across
    * several stages (the streaming sinks shingle each micro-batch ONCE
    * and feed the within-batch join, the against-store join, and the
    * signature-store insert from the same materialized frame). The
    * caller owns partitioning/materialization of `sigArr`. */
  def minhashCandidatesFromSig(sigArr: DataFrame, id: String,
      bands: Int = Bands, distinctPairs: Boolean = true,
      maxBucket: Int = MaxBucket): DataFrame = {
    // maxBucket = Int.MaxValue disables the guard and restores the
    // exact unguarded two-branch plan (no window, no union) — the
    // escape hatch for corpora already proven clean by the ledger.
    val guarded = maxBucket < Int.MaxValue
    // Bucket populations AND path successors from ONE partitioned
    // window pass over (band, bkey): both functions share the window
    // spec (count takes an explicit unbounded frame over the ordered
    // window), so a single hash-shuffle + per-partition sort serves
    // both — never a single-partition funnel, and the sort feeds the
    // sort-merge bucket join below, which shuffles on the same key.
    //
    // The path is walked in FULL-SIGNATURE order (64-bit hash of the
    // whole signature, id tiebreak), not id order: an over-cap bucket
    // can hold more than one duplicate family (two distinct texts whose
    // minhashes collide on this one band), and downstream consumers
    // threshold on est_jaccard — id order interleaves the families, so
    // every consecutive-pair edge is a LOW-est cross-family edge and
    // the threshold filter fragments both families. Signature order
    // makes each identical-signature run contiguous: within-run path
    // edges have est = 1.0 (they survive any threshold), and the single
    // run-boundary edge is the same cross-family pair the thresholded
    // CLIQUE would also have filtered — so post-filter clusters match
    // the uncapped plan exactly for identical-signature families
    // (variant members of a family sort by hash, not similarity; their
    // pairwise loss stays covered by the exact-dedup-first contract).
    val sigK = sigArr.withColumn("__skey",
      // Full-signature key = the bands=1 case of the codegen'd band-key
      // kernel (identical joined-decimal string, seed-42 xxhash64).
      element_at(graft.expressions.GraftFunctions
        .lshBandKeys(col("sig"), 1, K), 1))
    val w = Window.partitionBy(col("band"), col("bkey"))
      .orderBy(col("__skey"), col(id))
    val bkRaw = lshBuckets(sigK, id, bands, carry = Seq("__skey"))
    val bk0 = bkRaw.select(col(id), col("band"), col("bkey"),
      count(lit(1)).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).as("__n"),
      lead(col(id), 1).over(w).as("__nx"))
    val bk = if (guarded) bk0.filter(col("__n") <= maxBucket)
      .select(col(id), col("band"), col("bkey"))
      else bkRaw.select(col(id), col("band"), col("bkey"))
    // Successor ids are signature-ordered, not id-ordered — normalize to
    // the id_a < id_b pair contract the clique branch guarantees.
    val pathPairs = bk0.filter(col("__n") > maxBucket)
      .filter(col("__nx").isNotNull)
      .select(least(col(id), col("__nx")).as("id_a"),
        greatest(col(id), col("__nx")).as("id_b"))
    // Explode-derived size estimates tempt Catalyst into broadcasting the
    // bucket index — wrong at corpus scale and parallelism-capping here.
    // `distinctPairs = false` skips the dedup exchange: a pair sharing
    // m bands appears m times (m <= bands). Consumers that dedup anyway
    // (connectedComponents distincts its edge set) or only test
    // membership (keep lists) save a full shuffle; anything that OUTPUTS
    // the pair set keeps the default.
    val clique = bk.hint("merge").as("x").join(bk.hint("merge").as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))
    val pairs0 = if (guarded) clique.unionByName(pathPairs) else clique
    val pairs = if (distinctPairs) pairs0.distinct() else pairs0
    pairs
      .join(sigArr.select(col(id).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigArr.select(col(id).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / lit(K.toDouble)).as("est_jaccard"))
  }

  /** Incremental near-dup detection: candidates between a NEW batch and an
    * EXISTING corpus whose signatures were computed earlier (e.g. persisted
    * as a signature table in the warehouse). The corpus is never re-read —
    * the continuous-ingest dedup pattern: at 100 TB you keep (id, sig)
    * (~256 bytes/doc) hot and only shingle the new arrivals.
    * Returns (corpus_id, new_id, est_jaccard) for bucket-sharing pairs. */
  def minhashCandidatesAgainst(
      corpusSigArr: DataFrame, newDocs: DataFrame,
      id: String, text: String, bands: Int = Bands,
      maxBucket: Int = MaxBucket): DataFrame =
    minhashCandidatesAgainstSig(corpusSigArr,
      minhashSignatureArr(newDocs, id, text).repartition(col(id)),
      id, bands, maxBucket)

  /** [[minhashCandidatesAgainst]] with the NEW side's signatures already
    * computed — the shingle-once companion of
    * [[minhashCandidatesFromSig]] for continuous-ingest sinks. */
  def minhashCandidatesAgainstSig(
      corpusSigArr: DataFrame, newSig: DataFrame,
      id: String, bands: Int = Bands,
      maxBucket: Int = MaxBucket): DataFrame = {
    // Bucket guard, against-form: the per-bucket join work is
    // |corpus bucket| × |new bucket|, so cap the CORPUS side at
    // `maxBucket` lowest-id representatives (a partitioned-window
    // row_number, same key as the join shuffle). Detection is
    // preserved — an arrival colliding with a mega-bucket shares that
    // band key with EVERY member, so matching the representatives
    // matches the bucket — while per-bucket work drops to
    // maxBucket × |new bucket|, linear in the batch. The NEW side is
    // never truncated: every arrival must get its own verdict.
    val wB = Window.partitionBy(col("band"), col("bkey"))
    val bkC = lshBuckets(corpusSigArr, id, bands)
      .select(col(id).as("corpus_id"), col("band"), col("bkey"))
      .withColumn("__r", row_number().over(wB.orderBy(col("corpus_id"))))
      .filter(col("__r") <= maxBucket).drop("__r")
    val bkN = lshBuckets(newSig, id, bands)
      .select(col(id).as("new_id"), col("band"), col("bkey"))
    val pairs = bkC.hint("merge").join(bkN.hint("merge"), Seq("band", "bkey"))
      .select(col("corpus_id"), col("new_id")).distinct()
    pairs
      .join(corpusSigArr.select(col(id).as("corpus_id"), col("sig").as("sig_a")), "corpus_id")
      .join(newSig.select(col(id).as("new_id"), col("sig").as("sig_b")), "new_id")
      .select(col("corpus_id"), col("new_id"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / lit(K.toDouble)).as("est_jaccard"))
  }

  /** Bucket-population ledger — the measured evidence behind
    * [[MaxBucket]]: one row of (n_buckets, max_bucket, n_over_cap) for
    * the corpus at the given banding. `n_over_cap = 0` proves the cap
    * is dormant on this corpus (capped and uncapped candidates are
    * byte-identical); a non-zero value quantifies exactly how much
    * clique→path degradation [[minhashCandidates]] applied. One
    * bucket groupBy + one single-row aggregate. */
  def lshBucketLedger(df: DataFrame, id: String, text: String,
      bands: Int = Bands, maxBucket: Int = MaxBucket): DataFrame =
    lshBuckets(minhashSignatureArr(df, id, text), id, bands)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
        count(when(col("n") > maxBucket, 1)).as("n_over_cap"))

  /** The dedup output a pipeline actually consumes: the KEEP LIST.
    * From the candidate pairs (id_a < id_b, already thresholded), drop
    * every document that appears as the LATER member of a pair. The
    * policy is exactly "a document is kept iff it has no candidate pair
    * with a smaller id" — NOT connected-component collapse: with edges
    * (2,3) and (1,3) only, both 1 and 2 survive (2's only pair is with
    * the larger 3). One distinct + one anti-join against the corpus,
    * no iteration. For cluster-minimum semantics (exactly one survivor
    * per transitive duplicate cluster) use [[keepClusterMin]]. */
  def keepAfterNearDedup(docs: DataFrame, pairs: DataFrame,
      id: String): DataFrame = {
    val drop = pairs.select(col("id_b").as(id)).distinct()
    docs.join(drop, Seq(id), "left_anti")
  }

  /** Connected components over an undirected candidate-pair graph by
    * min-label propagation with Shiloach–Vishkin-style CLASS HOOKING
    * and path compression: every vertex starts labeled with itself and
    * each escalated round (1) relaxes — per-vertex min over its own and
    * its in-neighbors' labels, (2) HOOKS — every label class adopts the
    * minimum candidate found by ANY of its members (a min-groupBy over
    * the old labels), and (3) shortcuts — one pointer-compression pass
    * `component(component(v))`.
    *
    * The hook step is what makes the round count O(log n) on EVERY
    * topology, not just id-ordered chains. The previous formulation
    * (per-vertex min + pointer jump) is provably O(log diameter) on
    * chains but measured O(diameter)-like on near-critical random
    * graphs — 95 rounds on a 157 k-vertex random label-merge graph —
    * because when one member of a class learns a smaller label the
    * class SPLITS (the root only learns through its own edges) and the
    * minimum crawls one class-adjacency hop per round. Hooking merges
    * whole classes instead: every non-stable class repoints to another
    * class, so distinct-class count at least halves per round (the
    * Borůvka argument), and the shortcut collapses hook chains two
    * levels per round. Same 157 k random graph: 12 rounds. Measured
    * law across planted chains 2 k → 1 M AND hash-random graphs:
    * rounds ≤ [[HookDelay]] + ⌈log₂ n⌉ + 1 detection round (chains
    * converge in ⌈log₂ n⌉·~0.55 hook rounds; random graphs in ~0.6·);
    * asserted on chain, star and hash-random graphs by OperatorsSpec
    * (CC_PROBE.json records the 1 M-vertex measurements).
    *
    * Same fixed point as neighbor-only propagation (the spec proves
    * label-identical min-vertex-id outputs — stability under
    * relax+hook forces every edge's endpoints to share a label, and a
    * shared label is a member id, hence the component minimum).
    * Per-round primitives: one edge⋈labels shuffle join, two
    * min-groupBys (per-vertex candidates carrying the old label, then
    * per-class minima), one |V|⋈classes hook join, one |V|-sized
    * shortcut self-join — at 100 TB the edge set stays partitioned
    * ONCE (rounds reuse the layout; candidate edges are never
    * rewritten the way Kiveris et al.'s alternating-star rounds
    * rewrite them). `localCheckpoint` truncates the growing lineage so
    * round k doesn't replay rounds 1..k-1, and every checkpoint's
    * statistics are re-anchored to measured row counts
    * (GraftStats.withRowCount) so Catalyst's size estimates can't
    * compound across rounds.
    *
    * Rounds are ADAPTIVE: the first [[HookDelay]] rounds run
    * neighbor-only relaxation (one edge join + one groupBy, no hook
    * machinery). Real near-dup graphs — tight duplicate clusters,
    * diameter ≲ 3 — converge inside the delay, so the common case
    * never pays the hook's extra label joins (measured ~20-30 % of the
    * CC-family queries' cost); only a graph still unconverged after
    * the delay (chain-shaped or random-merge-shaped clusters)
    * escalates.
    *
    * `pairs` needs columns `id_a`, `id_b`; vertices absent from any
    * pair keep their own id as component. Returns (`id`, component). */
  /** Neighbor-only rounds before [[connectedComponentsWithRounds]]
    * starts hooking: covers diameter ≤ 3 (every measured near-dup
    * graph at both ledger scales converges in 2 rounds + 1 detection
    * round) without the hook's per-round label joins. */
  val HookDelay = 3

  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
      id: String, maxIter: Int = 40): DataFrame =
    connectedComponentsWithRounds(vertices, pairs, id, maxIter)._1

  /** [[connectedComponents]] exposing the converged round count — the
    * spec surface for the O(log n) bound. */
  private[graft] def connectedComponentsWithRounds(
      vertices: DataFrame, pairs: DataFrame,
      id: String, maxIter: Int = 40,
      hookDelay: Int = HookDelay): (DataFrame, Int) = {
    // Pre-partition edges by the join key so every round's join reuses
    // this layout (localCheckpoint preserves output partitioning) —
    // the big edge set shuffles once, not once per round. Symmetrize
    // via ONE explode, not a union of two instances of `pairs`: the
    // union shape re-executes the whole candidate pipeline per branch
    // whenever AQE fails to stage-reuse it (measured +0.9 s per CC
    // call on the guarded minhash plan); the explode executes it once
    // unconditionally.
    // The edge checkpoint's stats snapshot may arrive join-inflated
    // from a candidate pipeline, but it is computed ONCE outside the
    // loop and never compounds (the per-round compounding lives in the
    // labels checkpoint, which is re-anchored below), so no extra
    // count job is spent correcting it.
    // LAZY checkpoints throughout the loop (r21 verdict item 6): the
    // eager form ran a dedicated materialization job per checkpoint
    // PLUS the checksum job — 2 driver actions per round (and 2 more
    // up front). Lazy marking makes the round's OWN checksum
    // aggregation the materializing action, so convergence detection
    // piggybacks on the same job and each round schedules exactly one
    // action. Blocks are still cached before any reuse (the checksum
    // computes every partition), and the analyzed plan is a LogicalRDD
    // either way, so GraftStats re-anchoring is unaffected.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    // Convergence detection: labels only ever DECREASE under min-label
    // propagation (the pointer-jump term is a min over a superset, so
    // the invariant survives doubling), hence sum(component) is a
    // strictly-decreasing monotone invariant — equal sums between
    // rounds ⟺ no label changed. One cheap partial-agg action per
    // round instead of a shuffle join + count against the previous
    // labels.
    // sum() over ZERO rows is null — an empty vertex set (e.g. a quiet
    // micro-batch whose incremental frontier has no edges) must
    // converge immediately, not NPE in the comparison.
    // The same action returns the row count, which re-anchors each
    // checkpoint's statistics (GraftStats.withRowCount): localCheckpoint
    // snapshots the origin plan's sizeInBytes ESTIMATE, and the jump
    // term's self-join SQUARES that estimate every round — by round ~20
    // the driver grinds minutes of single-core BigInteger multiplication
    // inside stats estimation (measured fatal for incrementalComponents,
    // whose frontier enters with join-derived estimates). Measured stats
    // cost one rewrap per round and keep estimation O(1).
    def checksum(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("component").cast(DecimalType(38, 0))),
        count(lit(1))).head
      (Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO),
        r.getLong(1))
    }
    def anchored(df: DataFrame, rows: Long): DataFrame =
      org.apache.spark.sql.graftshim.GraftStats.withRowCount(df, rows)
    var labels = vertices.select(col(id).as("v"))
      .withColumn("component", col("v"))
      .localCheckpoint(false)
    var (oldSum, nVerts) = checksum(labels)
    labels = anchored(labels, nVerts)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaEdge = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("component"))
      val next = (if (iter < hookDelay) {
        // Cheap neighbor-only relaxation inside the delay.
        viaEdge.union(labels)
          .groupBy(col("v")).agg(min(col("component")).as("component"))
      } else {
        // Relax: per-vertex candidate = min(own label, in-neighbors').
        // The vertex's OLD label rides through the same aggregation
        // (max over a column that is null on neighbor rows and the own
        // label on the self row — exactly one non-null per group), so
        // the hook step needs no extra labels join.
        val idType = labels.schema("component").dataType
        val cand = viaEdge
          .withColumn("__old", lit(null).cast(idType))
          .union(labels.withColumn("__old", col("component")))
          .groupBy(col("v"))
          .agg(min(col("component")).as("cand"),
            // A vertex seen only as an edge endpoint (absent from
            // `labels`, possible when hookDelay <= iter on round 0 for
            // a vertex missing from `vertices`) has no old label; it
            // hooks as its own singleton class (= the self-init
            // semantics) instead of vanishing into a null join key.
            coalesce(max(col("__old")), col("v")).as("__old"))
        // Hook: every class adopts the min candidate ANY member found.
        // Safe: the class min is cand(w) for a member w of the same
        // class, and every candidate is an id of the same component.
        val hook = cand.groupBy(col("__old")).agg(min(col("cand")).as("__h"))
        val hooked = cand.join(hook, "__old")
          .select(col("v"), col("__h").as("component"))
        // Shortcut: component(component(v)). Every label value is a
        // vertex id (init self, adopted values are label values), so
        // the inner lookup always hits; hook chains collapse two
        // levels per round. The deeper exchanges of `hooked`'s plan
        // are identical on both sides and stage-reuse.
        hooked.as("l1").join(hooked.as("l2"),
            col("l1.component") === col("l2.v"))
          .select(col("l1.v").as("v"), col("l2.component").as("component"))
      }).localCheckpoint(false)
      val (newSum, _) = checksum(next)
      converged = newSum.compareTo(oldSum) == 0
      oldSum = newSum
      labels = anchored(next, nVerts)
      iter += 1
    }
    // Unconverged labels are WRONG (some vertex would still shrink):
    // fail loudly rather than hand back a plausible-looking keep list.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(labels still shrinking) — vertex count exceeds " +
          s"~2^(maxIter-$HookDelay-1); raise maxIter (measured law: " +
          s"rounds ≤ HookDelay + ceil(log2(n)) + 1 detection round " +
          "on chains, stars, and hash-random graphs — " +
          "asserted by OperatorsSpec)")
    (labels.select(col("v").as(id), col("component")), iter)
  }

  /** Neighbor-only min-label propagation — the executable REFERENCE
    * semantics for [[connectedComponents]] (no hooking, so
    * O(component diameter) rounds; kept for the label-equivalence spec
    * the way [[delNeighborhoodComposed]] backs [[delNeighborhood]]).
    * Same loop with the hook escalation disabled (`hookDelay` past
    * `maxIter`), so the shared machinery — symmetrization, checksum
    * convergence, fail-loud — has exactly one implementation. Never
    * the pipeline path: an adversarial chain-shaped duplicate cluster
    * makes its round count the chain length. */
  private[graft] def connectedComponentsRef(vertices: DataFrame,
      pairs: DataFrame, id: String, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(vertices, pairs, id, maxIter,
      hookDelay = Int.MaxValue)._1

  /** Cluster-minimum keep list: collapse every transitive duplicate
    * cluster (connected component of the candidate-pair graph) to its
    * single lowest-id member. Unlike [[keepAfterNearDedup]], exactly one
    * document per cluster survives regardless of which pairs the
    * candidate generator emitted. */
  def keepClusterMin(docs: DataFrame, pairs: DataFrame, id: String): DataFrame = {
    val comp = connectedComponents(docs.select(col(id)), pairs, id)
    docs.join(comp.filter(col(id) === col("component")).select(col(id)), Seq(id))
  }

  /** Quality-weighted cluster collapse: keep the BEST-scoring member of
    * each near-dup cluster (ties → lowest id) instead of the arbitrary
    * lowest-id one — what production dedup actually wants: when a page
    * and its mirror differ in extraction quality, preserve the cleaner
    * copy. One rank window per component over the CC labels; `score`
    * must be deterministic (e.g.
    * [[graft.functions.TextFunctions.qualityScore]]). */
  def keepClusterBest(docs: DataFrame, pairs: DataFrame, id: String,
      score: Column): DataFrame = {
    val comp = connectedComponents(docs.select(col(id)), pairs, id)
    docs.join(comp, id)
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(score.desc, col(id))))
      .filter(col("__r") === 1)
      .select(col(id), col("component"))
  }

  /** INCREMENTAL connected components — the continuous-curation twin of
    * [[connectedComponents]]: fold one batch of new vertices and edges
    * into a PERSISTED label table without recomputing the graph.
    *
    * Key invariant: a correct label table maps every vertex to the MIN
    * id of its component, so each component is represented by one label.
    * A new batch can only merge whole components (plus the new
    * singletons), so it suffices to (1) lift the new edges into LABEL
    * space — an edge (a, b) becomes (label(a), label(b)) — and (2) run
    * CC on that label-merge graph, which is FRONTIER-SIZED (≤ 2·|batch
    * edges| vertices, independent of corpus size); the min label of a
    * merged label-set equals the min id over the union of their
    * members, so (3) one broadcast remap of the label table restores the
    * invariant. Per batch the corpus-sized work is exactly two STREAMED
    * passes — a broadcast-semi filter down to the batch-touched rows,
    * and the final broadcast remap — the corpus is NEVER SHUFFLED and
    * the iteration never touches old rows. (The naive formulation —
    * anti-join the arrivals against the corpus, join the batch edges
    * against the corpus-sized seeded table twice — leaves the plan's
    * build side to size estimates, and batch frames arriving from
    * candidate pipelines carry join-inflated estimates, exactly the
    * wrong-side-broadcast trap the bigram_lm_scores ledger row
    * measured. Broadcasting the batch-key set is the CONTRACTS §3
    * proof obligation: batches are micro-batch-bounded by the ingest
    * contract, the same argument the remap broadcast below rests on.)
    *
    * `prevLabels`: (`id`, component) — pass an empty frame to bootstrap.
    * `newEdges`: `id_a`/`id_b` pairs; both endpoints must be known (old
    * corpus or this batch). Returns the updated (`id`, component). */
  def incrementalComponents(prevLabels: DataFrame, newVertices: DataFrame,
      newEdges: DataFrame, id: String, maxIter: Int = 40): DataFrame = {
    // Every corpus row the batch can SEE: arrival ids (re-arrival
    // detection) ∪ batch-edge endpoints (label lift). One streamed
    // semi-join pass extracts them; the eager checkpoint stops the
    // three consumers below from re-streaming the corpus once each.
    val batchKeys = newVertices.select(col(id))
      .unionByName(newEdges.select(col("id_a").as(id)))
      .unionByName(newEdges.select(col("id_b").as(id)))
      .distinct()
    val touchedPrev = prevLabels.select(col(id), col("component"))
      .join(broadcast(batchKeys), Seq(id), "left_semi")
      .localCheckpoint(true)
    // A re-arriving vertex (replay, duplicate send) must keep its
    // EXISTING label, not seed a second self-labeled row — two rows per
    // id would survive the remap and fan out every downstream join.
    // touchedPrev ⊇ prev ∩ arrivals, so the anti-join is batch-sized.
    val freshOnly = newVertices.select(col(id))
      .join(touchedPrev.select(col(id)), Seq(id), "left_anti")
    // Label lookup for the lift: batch-sized (touched old rows + fresh
    // self-labels) — every edge endpoint the contract admits is here.
    val seededTouched = touchedPrev
      .unionByName(freshOnly.select(col(id), col(id).as("component")))
    val labelEdges = newEdges.select(col("id_a"), col("id_b"))
      .join(seededTouched.select(col(id).as("id_a"),
        col("component").as("__la")), "id_a")
      .join(seededTouched.select(col(id).as("id_b"),
        col("component").as("__lb")), "id_b")
      .select(col("__la").as("id_a"), col("__lb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val touched = labelEdges.select(col("id_a").as(id))
      .unionByName(labelEdges.select(col("id_b").as(id))).distinct()
    val remap = connectedComponents(touched, labelEdges, id, maxIter)
      .filter(col(id) =!= col("component"))
      .select(col(id).as("__old"), col("component").as("__new"))
    // Corpus stream #2: the remap projection over the FULL label table.
    val seeded = prevLabels.select(col(id), col("component"))
      .unionByName(freshOnly.select(col(id), col(id).as("component")))
    seeded.join(broadcast(remap), col("component") === col("__old"), "left")
      .select(col(id),
        coalesce(col("__new"), col("component")).as("component"))
  }

  // ---- exact n-gram Jaccard (the oracle-grade ground truth) ----------

  /** Per-PAIR exact bigram-shingle Jaccard as a column expression — the
    * verify kernel for candidate pairs that already carry both texts
    * (est-passing MinHash candidates are pair-count-sized, so a
    * per-row set intersection is cheap exactly where it's needed). The
    * measured justification: at an 8×10¹⁰-pair scale the K = 32
    * estimator produced a false positive at est 0.53 whose true
    * Jaccard is 0.07 (SCALING.md "exactness has a measured domain") —
    * precision-critical consumers verify est-passing pairs with this
    * before acting on them. */
  def exactShingleJaccard(a: Column, b: Column): Column = {
    val sa = array_distinct(wordBigrams(a))
    val sb = array_distinct(wordBigrams(b))
    // Degenerate inputs must VERIFY AS 0, never as duplicates: without
    // the guard a null text gives size(null) = -1 on both legs
    // (-1.0 / -1.0 = 1.0) and two empty shingle sets give 0/0 = NaN,
    // which Spark's total order ranks ABOVE every threshold — either
    // way a blank pair would "confirm" and the precision kernel built
    // to prevent false deletions would cause one.
    val u = size(array_union(sa, sb))
    when(u <= 0, lit(0.0)).otherwise(
      size(array_intersect(sa, sb)).cast("double") / u.cast("double"))
  }

  /** Attach both sides' texts to a candidate-pair frame and keep only
    * pairs whose TRUE shingle Jaccard reaches `minJ` — the one shared
    * implementation of the est-then-verify shape (streaming vs-store,
    * streaming within-batch, and the `dedup_near_keep_verified` gate
    * all ride it). `pairs` carries `leftId`/`rightId` columns; each
    * docs frame supplies `(id, text)`. Output = the input pair columns,
    * texts dropped.
    *
    * `broadcastPairs = true` pins the PAIR side (and the pair+left-text
    * intermediate — still pair-count-sized) as the broadcast build side:
    * the shape for a batch-bounded pair set probing a CORPUS-sized docs
    * table (the CONTRACTS §3 argument incrementalComponents already
    * rides), where plain planning would sort-merge — shuffling and
    * sorting the whole corpus per call. Under the hint the corpus side
    * streams through one column-pruned scan, no exchange. Leave false
    * when the pair set itself can rival the corpus. */
  def verifyPairsExact(pairs: DataFrame, leftId: String,
      leftDocs: DataFrame, rightId: String, rightDocs: DataFrame,
      id: String, text: String, minJ: Double,
      broadcastPairs: Boolean = false): DataFrame = {
    def bc(df: DataFrame) = if (broadcastPairs) broadcast(df) else df
    bc(bc(pairs)
        .join(leftDocs.select(col(id).as(leftId), col(text).as("__ta")),
          leftId))
      .join(rightDocs.select(col(id).as(rightId), col(text).as("__tb")),
        rightId)
      .filter(exactShingleJaccard(col("__ta"), col("__tb")) >= minJ)
      .drop("__ta", "__tb")
  }

  /** Exact pairwise Jaccard over distinct word-bigram shingles via an
    * inverted-index join (shingle → docs): pairs sharing ≥1 shingle get
    * |A∩B| by counting, |A∪B| = |A|+|B|−|A∩B|. Never materializes O(n²) —
    * only pairs with actual overlap. `minJaccard` prunes the output.
    *
    * The index keys are `xxhash64` of the shingles, so the wide self-join
    * shuffles and compares 8-byte longs, not shingle strings (collision
    * odds over a corpus vocabulary are ~|V|²/2⁶⁵ — negligible), and each
    * index row carries its doc's set size so the pair-count aggregation
    * needs no extra size joins. Best when shingle document-frequencies
    * are high (small vocabularies); see [[ngramJaccardPrefix]] for the
    * large-vocab regime. */
  def ngramJaccard(df: DataFrame, id: String, text: String,
      minJaccard: Double): DataFrame = {
    val sh = df
      .select(col(id), array_distinct(wordBigrams(col(text))).as("arr"))
      .select(col(id), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("shs"))
      .select(col(id), col("n"), xxhash64(col("shs")).as("sh"))
    // Force a shuffle join: the pre-explode size estimate tempts Catalyst
    // into broadcasting the index, which both caps parallelism at the
    // input partition count (the pair generation is the expensive part)
    // and would be impossible at corpus scale.
    sh.hint("merge").as("a").join(sh.hint("merge").as("b"),
        col("a.sh") === col("b.sh") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Dense-vocab exact Jaccard: all-pairs sorted-array intersection.
    * When shingle document-frequencies are huge (tiny vocabulary), the
    * inverted index degenerates — Σ df² pair-rows ≈ |pairs|·|doc| — and
    * enumerating every pair once with ONE set-intersection per pair is
    * an order of magnitude cheaper. Each doc is one (id, sorted-hash
    * array, n) row; one side broadcasts. Identical output to
    * [[ngramJaccard]] (pairs with zero overlap score 0 and fall below
    * any positive threshold). Use for bounded corpora/planted subsets
    * or dense vocabs; the inverted/prefix forms are the sparse-vocab
    * scale paths. */
  def ngramJaccardDense(df: DataFrame, id: String, text: String,
      minJaccard: Double): DataFrame = {
    // The repartition materializes the shingle arrays as one compact
    // exchange BOTH join inputs read (ReusedExchange) — without it the
    // optimizer pushes the jaccard filter into the join condition and
    // re-derives the whole shingling expression around it.
    val sets = df.select(col(id),
        // Codegen'd dedup+hash+sort ([[graft.expressions
        // .SortedShingleHashes]]) — the composed sort_array(transform(
        // array_distinct(...))) ran an interpreted lambda per shingle.
        graft.expressions.GraftFunctions.sortedShingleHashes(
          wordBigrams(col(text))).as("set"))
      .withColumn("n", size(col("set")).cast("long"))
      .repartition(col(id))
    // Opaque pins the jaccard filter ABOVE this projection: pushed into
    // the join condition it would run the intersection twice per
    // CANDIDATE pair (all n²/2) instead of once per joined row.
    sets.as("a").join(broadcast(sets.as("b")),
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        graft.expressions.GraftFunctions.opaque(
          graft.expressions.GraftFunctions.sortedIntersectCount(
            col("a.set"), col("b.set"))).as("common"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Prefix-filtered exact Jaccard (AllPairs/PPJoin family): identical
    * output to [[ngramJaccard]], far smaller candidate set.
    *
    * Each document indexes only its ⌊(1−t)·n⌋+1 globally-rarest shingles
    * (rarest-first total order = (document frequency, shingle)); any pair
    * with Jaccard ≥ t must share a prefix shingle (|A∩B| ≥ t·|A∪B| ≥
    * t·|A| ⇒ the first |A|−⌈t·|A|⌉+1 of A's shingles hit B). Candidates
    * are then verified EXACTLY via sorted-array intersection — the full
    * shingle sets travel only for surviving candidates, and the inverted
    * index that drives the self-join is (1−t)× smaller and skewed toward
    * rare (low-fanout) shingles.
    *
    * `maxDf` is the [[JaccardMaxDf]] guard: shingles whose document
    * frequency exceeds it are EXCLUDED from the candidate index (the
    * verify stage is untouched), bounding each indexed shingle's
    * self-join fanout at maxDf²/2 pairs — without it this operator is
    * superlinear-in-input whenever the corpus's shingle-diversity
    * assumption breaks (a bounded vocabulary saturates the shingle
    * space and df grows ∝ n; measured 161-185× wall at 100× data,
    * Σdf² ×6,953, on the saturated fixture). Because the prefix order
    * is rarest-FIRST, an over-cap (high-df) shingle only enters a
    * doc's prefix when the doc has fewer than ⌊(1−t)·n⌋+1 under-cap
    * shingles — so the exclusion's entire recall exposure is confined
    * to those docs, counted EXACTLY by [[jaccardDfLedger]]'s
    * `n_docs_degraded` (a non-degraded doc's prefix is all under-cap
    * and survives intact; precision is unaffected — every emitted pair
    * is exact-verified). `n_over_cap = 0` ⇒ the filter removes nothing
    * and the output is byte-identical to the unguarded plan.
    * `maxDf = Int.MaxValue` disables the guard. */
  def ngramJaccardPrefix(df: DataFrame, id: String, text: String,
      minJaccard: Double, maxDf: Int = JaccardMaxDf): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // The shingle index feeds FOUR consumers (per-doc sizes, df table,
    // prefix index, verify sets) — materialize the narrow (id, sh)
    // rows once instead of re-running the scan + tokenize + shingle +
    // hash chain per consumer (r21; the connectedComponents edge
    // pattern).
    val sh = df.select(col(id),
        explode(array_distinct(wordBigrams(col(text)))).as("shs"))
      .select(col(id), xxhash64(col("shs")).as("sh"))
      .localCheckpoint(true)
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // Every build side here is CORPUS-DERIVED (df table, per-doc sizes,
    // shingle sets) — merge hints keep Catalyst's small-scale size
    // estimates from broadcasting an unbounded side (CONTRACTS §3;
    // plan-spec'd).
    val pref = sh.hint("merge").join(freq.hint("merge"), "sh")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col(id)).orderBy(col("df"), col("sh"))))
      .join(sizes.hint("merge"), id)
      // The epsilon keeps exact-integer products from rounding just
      // below their value in double arithmetic (t=0.4, n=5 gives
      // (1-t)*n = 2.999…96): without it the prefix would be one element
      // too short and a pair at exactly the threshold could share no
      // prefix shingle.
      .filter(col("pos") <=
        (floor((lit(1.0) - lit(minJaccard)) * col("n") + lit(1e-9)) + 1).cast("int"))
      // The df cap: drop over-cap shingles from the INDEX only. Applied
      // after the prefix cut (pos is computed over the full rarest-first
      // order either way), so when nothing exceeds the cap the filter is
      // a no-op and the plan's output is byte-identical to unguarded.
      .filter(if (maxDf < Int.MaxValue) col("df") <= maxDf else lit(true))
      .select(col(id), col("sh"))
    val cand = pref.hint("merge").as("a").join(pref.hint("merge").as("b"),
        col("a.sh") === col("b.sh") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    // Verify stage: same codegen'd sorted merge walk + pushdown barrier
    // as [[ngramJaccardDense]] — one intersection per CANDIDATE, not per
    // index row.
    val sets = sh.groupBy(col(id))
      .agg(sort_array(collect_list(col("sh"))).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col(id).as("id_a"), col("set").as("set_a"), col("n").as("n_a")).hint("merge"), "id_a")
      .join(sets.select(col(id).as("id_b"), col("set").as("set_b"), col("n").as("n_b")).hint("merge"), "id_b")
      .withColumn("common", graft.expressions.GraftFunctions.opaque(
        graft.expressions.GraftFunctions.sortedIntersectCount(
          col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-shingle document-frequency cap for [[ngramJaccardPrefix]]'s
    * candidate index — the [[MaxBucket]]/[[SimMaxBucket]] guard ported
    * to the prefix-filter join, whose per-shingle fanout is df²/2
    * candidate pairs. Measured shingle df on the realistic-vocabulary
    * fixture: max df 6/12 on the gate corpus at sf0.01/sf0.1
    * (`jaccard_df_ledger`), 8/35 on the full documents table
    * (SCALING.md) — 256 sits ~7× above the
    * largest measured value (provably dormant where the oracle checks
    * byte-equality; the in-gate proof is `jaccard_df_ledger`'s
    * n_over_cap = 0) while bounding any indexed shingle's self-join
    * contribution at 256²/2 ≈ 32k pairs.
    * Unlike [[SimMaxBucket]]'s fixed 4096-value chunk space, honest
    * (Heaps-law) corpora grow the shingle space with n and keep df
    * flat, so the cap stays dormant at scale; it fires exactly when
    * the diversity assumption breaks (bounded vocabulary ⇒ df ∝ n ⇒
    * Σdf² quadratic — the regime the guard exists for). */
  val JaccardMaxDf = 256

  /** Shingle-df ledger — the measured evidence behind [[JaccardMaxDf]],
    * mirroring [[simhashBucketLedger]]: one row of
    * (n_shingles, max_df, n_over_cap, n_docs_degraded) over the same
    * distinct word-bigram shingle space [[ngramJaccardPrefix]] indexes.
    * `n_over_cap = 0` proves the cap dormant on this corpus (guarded
    * and unguarded candidates byte-identical — the gate's
    * `dedup_ngram_jaccard` oracle equality doubles as the no-op proof);
    * `n_docs_degraded` counts docs whose ⌊(1−t)·n⌋+1 rarest-first
    * prefix reaches INTO over-cap territory (fewer under-cap shingles
    * than the prefix needs) — the EXACT set of docs whose pairs the
    * exclusion can miss, i.e. the guard's recall exposure as a number
    * rather than a worst-case story. */
  def jaccardDfLedger(df: DataFrame, id: String, text: String,
      minJaccard: Double, maxDf: Int = JaccardMaxDf): DataFrame = {
    // Same shingle-once materialization as [[ngramJaccardPrefix]] (the
    // shingle stats and the per-doc degradation count both read sh AND
    // its df join).
    val sh = df.select(col(id),
        explode(array_distinct(wordBigrams(col(text)))).as("shs"))
      .select(col(id), xxhash64(col("shs")).as("sh"))
      .localCheckpoint(true)
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val shingleStats = freq.agg(count(lit(1)).as("n_shingles"),
      max(col("df")).as("max_df"),
      count(when(col("df") > maxDf, 1)).as("n_over_cap"))
    // Same epsilon'd prefix-length arithmetic as the operator: a doc is
    // degraded iff its under-cap shingle count can't fill the prefix.
    val docStats = sh.hint("merge").join(freq.hint("merge"), "sh")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n"),
        count(when(col("df") <= maxDf, 1)).as("n_under"))
      .agg(count(when(col("n_under") <
        floor((lit(1.0) - lit(minJaccard)) * col("n") + lit(1e-9)) + 1,
        1)).as("n_docs_degraded"))
    shingleStats.crossJoin(docStats)
  }

  // ---- SimHash -------------------------------------------------------

  val SimBits = 48

  /** shiftright/shiftleft with a column shift amount (the Scala DSL only
    * takes literal Ints; the SQL functions take expressions). */
  private def shr(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
    call_function("shiftright", x, n)
  private def shl(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
    call_function("shiftleft", x, n)

  /** 48-bit SimHash per document over word unigrams (with multiplicity):
    * bit j of the signature is the sign of Σ_tokens (2·bit_j(hash48) − 1).
    * A PURE PROJECTION ([[graft.expressions.SimhashLong]] — one codegen
    * loop per row): the per-document ±1 bit sums need no grouping when
    * every row IS one document, which every caller guarantees (`id` is
    * the document key) — the earlier explode → 48-column-sum groupBy
    * paid a row-per-token explode plus a full shuffle to reassemble
    * rows that were never apart (r21: the groupBy form's exchange was
    * the signature pass's only shuffle; values bit-identical, same ±1
    * integer sums). Documents whose token array is null (null text)
    * are dropped, exactly as the explode dropped them. Exact,
    * order-independent, oracle-reproducible. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), tokens(normalized(col(text))).as("__toks"))
      .filter(col("__toks").isNotNull)
      .select(col(id), graft.expressions.GraftFunctions
        .simhashLong(col("__toks")).as("simhash"))

  /** Per-(c, chunk) DISTINCT-SIMHASH cap for the SimHash chunk
    * self-join, and the population guard on the variant-join rescue
    * stage below. The 12-bit chunk key space is FIXED (4 bands x 4096
    * values), so bucket population grows LINEARLY with corpus size
    * (unlike MinHash's 64-bit band keys, where honest buckets stay
    * cluster-sized at any corpus) and the per-bucket join
    * quadratically. Measured on the `documents` gate corpora via
    * [[simhashBucketLedger]]: max distinct-simhash bucket 57 at
    * sf0.01, 539 at sf0.1 (members 549), 5,910 members at 10x-sf0.1 -
    * the growth is structural, not adversarial.
    *
    * Round-16 redesign (the r15 verdict measured the old clique->path
    * degrade at post-filter recall 0.773 (sf0.01) -> 0.114 (sf0.1)
    * under a firing cap - a collapse across one decade of overshoot):
    *   1. the banding runs over DISTINCT simhashes, so byte-identical
    *      mega-families (the adversarial case the cap was built for)
    *      contribute ONE member per bucket, not millions;
    *   2. over-cap buckets are rescued by a 1-bit-flip VARIANT
    *      equi-join (HmSearch-style, Zhang et al., SIGMOD'13) that is
    *      EXACT - recall 1.0 by pigeonhole - for `maxHamming` <= 8;
    *   3. only the variant stage's own guard (this constant again by
    *      default; [[SimVariantCap]] is the measured ×4 per-call
    *      lever) degrades lossily, to Manku-Jindal-Ullman sorted
    *      windows (WWW'07) of width [[SimVariantWindow]] under the
    *      [[SimVariantRotations]] permuted orders, and only on
    *      >=`variantCap` distinct simhashes agreeing on ~24 bits -
    *      measured at sf0.1 with both caps forced to 32: recall 0.9203
    *      (vs 0.114 for the old path walk under the same cap).
    * Identical-simhash groups (hamming 0, true duplicates) expand to
    * intra-group cliques up to this cap and degrade to an id-ordered
    * path beyond it - output-linear, connectivity-preserving, every
    * path edge hamming 0 (OperatorsSpec "SimHash bucket cap: 10k
    * identical docs…"; SIMHASH_CAP_PROBE.json records the 1M family). */
  val SimMaxBucket = 1024

  /** The variant stage's ×4 exact-rescue cap — a MEASURED PER-CALL
    * LEVER, deliberately NOT the default. Pass it as `variantCap` to
    * run the pigeonhole-exact 1-bit-flip equi-join on variant buckets
    * up to 4× [[SimMaxBucket]] before the MJU window degrade fires.
    * Both sides of the trade are regenerable ledger rows (r18):
    *
    *   - KEEP case (honest diversity): at Heaps-100× the default's
    *     recall loss is 10.9 points (0.891), all of it the window
    *     regime firing on 294 buckets of ≤ 3,790 sims; at this cap the
    *     same contract reads recall 1.000 for 1.14× the contract wall
    *     at Heaps-100× (287.7 vs 252.0 s scaled_run2; 1.46× at base,
    *     6.84 vs 4.70 s — `simhash_recall_vc4` vs the default-cap
    *     `simhash_recall` in the committed SCALING_LEDGER_HEAPS, and
    *     OperatorsSpec's dense-ball spec requires the 1.0).
    *   - REJECT case (why it is not the default): the rescue's join
    *     work grows ~16× per admitted bucket, and work-boundedness is
    *     the guard's whole job. On the near-agreement-SATURATED 100×
    *     default fixture (sf10: 4,084 buckets over 1024, max 13,499)
    *     the raised cap's exact rescue exhausted 77 GB of shuffle disk
    *     on a 2.1 GB input before completing — the blanket default
    *     would do the same on any 100 TB corpus with dense
    *     near-agreement, exactly the corpora the cap exists for.
    *
    * The switch signal is committed: `simhash_bucket_ledger`'s
    * `n_over_variant_cap` > 0 on a corpus whose diversity is verified
    * honest (Heaps-shaped vocabulary growth, bounded near-balls) is
    * the documented cue to pass this lever explicitly; on anything
    * else the default window degrade keeps work linear and
    * connectivity intact (OperatorsSpec's dense-ball spec: the ball
    * stays ONE component under windows — CC consumers lose little even
    * where pairwise recall drops). */
  val SimVariantCap = 4 * SimMaxBucket

  /** Sorted-window width for the variant stage's final degrade: each
    * member of an over-[[SimMaxBucket]] variant bucket is compared to
    * its next `SimVariantWindow` successors under EVERY
    * [[SimVariantRotations]] bit-rotation of the signature
    * (Manku-Jindal-Ullman WWW'07: multiple permuted sorted orders ×
    * sliding windows — one order's locality misses pairs whose
    * differing bits are high-significant in that order; a rotation that
    * moves them low restores adjacency). Work stays linear per bucket:
    * |rotations| · w comparisons per member. Measured on the gate
    * corpus with both caps forced to 32 (`simhash_recall_window`):
    * single order w=8 recall 0.8639 → 4 rotations 0.9203 at sf0.1. */
  val SimVariantWindow = 8

  /** Bit-rotations (48-bit) providing the MJU permuted sort orders for
    * the window degrade — one per 12-bit chunk boundary, so each chunk
    * takes a turn as the most-significant sort key. */
  val SimVariantRotations: Seq[Int] = Seq(0, 12, 24, 36)

  /** Largest `maxHamming` for which the variant join is provably exact:
    * a candidate pair inside a (c, chunk) bucket agrees on chunk c, so
    * its <= 8 differing bits spread over the 3 remaining 12-bit chunks
    * and SOME chunk carries <= floor(8/3) = 2 of them - which the
    * 1-bit-flip variant keys (one flip on each side) cover exactly. */
  val SimVariantMaxHamming = 8

  /** Per-distinct-signature allowance for the BUDGETED variant-stage
    * auto-escalation (r19, the `escalateBudget` parameter of
    * [[simhashCandidatesFromSig]]): over-`variantCap` variant buckets
    * are admitted to the exact rescue SMALLEST-FIRST while their
    * cumulative clique work Σ vn·(vn−1)/2 stays within
    * `escalateBudget × (distinct signatures in the corpus)` — the
    * remainder degrades to the MJU windows exactly as before. The
    * admitted extra work is therefore LINEAR in corpus size by
    * construction, the same shape as the level-1 clique stage's own
    * 4·maxBucket-pairs-per-signature bound — which is what this
    * default matches (4 × [[SimMaxBucket]] = 4096 extra pairs per
    * signature: escalation may at most double the pipeline's existing
    * admitted-work envelope).
    *
    * Why a WORK budget and not per-bucket honesty (the r18 verdict's
    * hypothesis, MEASURED and refuted in r19, SCALING.md): over-cap
    * variant buckets on BOTH committed fixtures are coherent near-balls
    * — every bucket's mean member-to-centroid Hamming distance is
    * 4.1-7.9 bits on heaps100 AND 4.5-7.8 on sf10, with sampled
    * true-pair yields 0.23-0.70 (heaps) and 0.40-0.73 (sf10) — so no
    * bucket-local statistic separates the corpus where the blanket ×4
    * lever bought recall 0.891 → 1.000 for 1.14× wall from the one
    * where it exhausted 77 GB of shuffle. The saturated fixture's
    * escalation work is HONEST-yield and simply unaffordable: what
    * distinguishes the fixtures is AGGREGATE volume — 294 buckets /
    * 3.5e8 clique pairs (heaps100) vs 4,084 buckets / 9.1e9 (sf10).
    * Work-boundedness therefore has to be enforced on work itself:
    * smallest-first admission under a linear-in-n budget keeps the
    * first regime whole and takes only a bounded, highest-yield-first
    * bite of the second. Measured on both regimes before the default
    * decision: SIMHASH_CAP_PROBE.json phases 2-3 (ball escalates to
    * recall 1.0; saturated cloud's admitted work ≤ budget — both now
    * asserted at box size by OperatorsSpec's dense-ball spec) and the
    * `simhash_recall_auto` Heaps-ledger row (recall 1.000 at both
    * Heaps decades at 1.15× the contract wall, vs 0.891 for the
    * unescalated pipeline at Heaps-100×).
    *
    * THE DEFAULT since r20 (the r19 flip protocol: evidence first,
    * then the flip with the gate oracles restated in the same commit —
    * `graft.gate.DedupSql.simhashCandCtes` replays the budgeted cut verbatim, so
    * any drift in the admission arithmetic breaks the gate hash).
    * Pass `escalateBudget = 0` to opt OUT (bit-for-bit the pre-r19
    * window pipeline — what `simhash_recall_window` keeps priced). */
  val SimVariantEscalateBudget = 4 * SimMaxBucket

  /** The budgeted-escalation size cut, as a pure function of the
    * over-cap bucket-size histogram (ascending (size, bucketCount)
    * classes): admit WHOLE size classes in ascending order while their
    * cumulative clique work Σ count·size·(size−1)/2 fits `budget`,
    * stopping at the FIRST class that does not — the cut must be a
    * prefix of the size order, or the budget would be spent on the
    * lower-yield (larger, more-diffuse) buckets first. Returns
    * (cut size, admitted work); cut = `variantCap` means nothing
    * escalates. Exposed so the specs assert the same arithmetic the
    * candidate pipeline executes. */
  def escalationCut(hist: Seq[(Long, Long)], variantCap: Int,
      budget: Long): (Long, Long) = {
    var cum = 0L
    var cut = variantCap.toLong
    var open = true
    hist.sortBy(_._1).foreach { case (vn, nb) =>
      val work = nb * (vn * (vn - 1) / 2)
      if (open && vn > variantCap && cum + work <= budget) {
        cum += work; cut = vn
      } else if (vn > variantCap) open = false
    }
    (cut, cum)
  }

  /** Near-duplicate candidates by SimHash: band the 48 bits into 4
    * 12-bit chunks over DISTINCT simhashes; distinct pairs sharing any
    * chunk are candidates; emit member pairs within `maxHamming`.
    *
    * Stage structure (all caps ledger-reported by
    * [[simhashBucketLedger]]):
    *   - (c, chunk) buckets holding <= `maxBucket` distinct simhashes:
    *     full distinct-level clique (join work <= maxBucket^2/2 per
    *     bucket).
    *   - Over-cap buckets: 1-bit-flip variant equi-join - each distinct
    *     simhash emits, for each of its 3 OTHER chunks c2, the chunk2
    *     value plus its 12 one-bit flips (39 keys/simhash); two
    *     simhashes collide iff some other chunk is within hamming 2,
    *     which pigeonhole GUARANTEES for every true pair when
    *     `maxHamming` <= [[SimVariantMaxHamming]] - the rescue is
    *     EXACT, not approximate. Join work concentrates where >= 2
    *     chunks (~24 bits) near-agree, i.e. where true-pair density is
    *     high and the output itself is quadratic - work tracks output,
    *     not corpus.
    *   - Variant buckets over `variantCap` (adversarial floods /
    *     mega-near-balls only: >= variantCap distinct simhashes
    *     agreeing on chunk c and within 2 bits on chunk c2): since r20
    *     the smallest size classes are ESCALATED back to the exact
    *     rescue under the [[SimVariantEscalateBudget]] work budget
    *     (linear in distinct signatures by construction; measured
    *     recall 0.891 -> 1.000 at Heaps-100x for 1.15x wall); only the
    *     post-budget remainder degrades to sorted windows of width
    *     [[SimVariantWindow]] in simhash order - linear work, measured
    *     recall 0.9203 at sf0.1 with both caps forced to 32 and the
    *     budget opted out (the `simhash_recall_window` gate contract
    *     re-measures that floor every round) and 0.5571 on a FULL
    *     dense 4096-id near-ball (SIMHASH_CAP_PROBE.json phase 2,
    *     where the true output is the complete clique).
    *   - Identical-simhash groups: intra-group cliques (the true
    *     hamming-0 pairs) up to `maxBucket` members, id-ordered path
    *     beyond (output-linear; connectivity preserved; every edge
    *     hamming 0).
    *
    * `maxBucket = Int.MaxValue` disables every guard (the escape hatch
    * for ledger-proven corpora); when no bucket exceeds the caps the
    * output is byte-identical to the unguarded plan. Output schema
    * (id_a, id_b, hamming) with id_a < id_b, hamming <= maxHamming. */
  def simhashCandidates(df: DataFrame, id: String, text: String,
      maxHamming: Int, maxBucket: Int = SimMaxBucket,
      variantCap: Int = SimMaxBucket,
      escalateBudget: Int = SimVariantEscalateBudget): DataFrame =
    // The signature frame feeds SIX consumers (distinct banding, both
    // expansion sides, both intra-clique sides, the path) — without a
    // materialization each one re-runs the tokenize+48-bit-sum
    // aggregation, the pipeline's dominant cost (measured 1.9-5.4x on
    // the paired bench before this checkpoint). Two narrow columns per
    // document, so the stored footprint is rows x ~16 bytes.
    simhashCandidatesFromSig(simhash(df, id, text).localCheckpoint(true),
      id, maxHamming, maxBucket, variantCap, escalateBudget)

  /** [[simhashCandidates]] over a PRECOMPUTED (id, simhash) frame — the
    * shingle-once pattern (CONTRACTS: compute signatures once, feed
    * every consumer): callers holding several forms over one corpus
    * (e.g. the `simhash_recall` contrast of exact vs capped) pay the
    * signature aggregation once. `sig` MUST be materialized — its
    * analyzed plan a checkpointed RDD (`localCheckpoint(true)`): the
    * pipeline consumes it six times, and the escalation facts (max
    * group size, distinct-signature count) are measured from it in a
    * separate driver job, so a lazy, non-deterministically recomputed
    * `sig` could be measured low and silently drop the group-window
    * leg the final query needed. A lazy `sig` is rejected.
    *
    * `escalateBudget` > 0 — the DEFAULT since r20
    * ([[SimVariantEscalateBudget]]) — enables the budgeted
    * variant-stage auto-escalation: over-`variantCap` variant buckets
    * are admitted to the exact rescue smallest-first while cumulative
    * clique work stays within `escalateBudget` pairs per distinct
    * signature; only the remainder degrades to windows. The admission
    * threshold is a bucket-SIZE cut (every bucket of an admitted size
    * is in), computed from a per-size work histogram — a driver-side
    * read bounded by the number of DISTINCT over-cap bucket sizes
    * (≤ the over-cap bucket count the ledger reports: hundreds to
    * thousands), capped fail-loud. Pass 0 to opt out — bit-for-bit
    * the pre-r19 window pipeline. */
  def simhashCandidatesFromSig(sig: DataFrame, id: String,
      maxHamming: Int, maxBucket: Int = SimMaxBucket,
      variantCap: Int = SimMaxBucket,
      escalateBudget: Int = SimVariantEscalateBudget): DataFrame = {
    require(sig.queryExecution.analyzed match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.isCheckpointed
        case _ => false
      },
      "simhashCandidatesFromSig: sig must be materialized " +
        "(localCheckpoint(true)) — its facts are measured in a separate " +
        "job and must match what the final query reads")
    // The pigeonhole bound applies only when the variant-rescue stage
    // can actually run: maxBucket = Int.MaxValue means no bucket is
    // ever over-cap, the variant stage is provably empty, and the
    // docstring's "disables every guard" contract holds for any
    // maxHamming (the banding itself is recall-lossy past 8, which is
    // the caller's explicit trade at that setting — ADVICE r16).
    require(maxBucket == Int.MaxValue || maxHamming <= SimVariantMaxHamming,
      s"simhashCandidates: maxHamming $maxHamming > $SimVariantMaxHamming " +
        "breaks the variant-join exactness pigeonhole (some other chunk " +
        "within hamming 2); band wider chunks, verify externally, or pass " +
        "maxBucket = Int.MaxValue to disable the capped path entirely")
    // maxBucket = Int.MaxValue (the truth side of every recall
    // contract) makes every guard filter a tautology: NO bucket can be
    // over-cap, so the per-(c, chunk) population window, the whole
    // variant-rescue stage, and the per-signature group-size window
    // are structurally dead. Skipping them (rather than letting the
    // runtime evaluate windows whose filters keep everything) removes
    // two full shuffle+sort window passes and the empty variant-join
    // legs from the plan; the output is byte-identical by the same
    // dormancy argument the docstring already states.
    val guarded = maxBucket != Int.MaxValue

    // ---- distinct-simhash banding ------------------------------------
    val chunks = sig.select(col("simhash")).distinct()
      .select(col("simhash"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk",
        shr(col("simhash"), col("c").cast("int") * 12).bitwiseAND(4095L))
    val ck = chunks.withColumn("__k",
      count(lit(1)).over(Window.partitionBy(col("c"), col("chunk"))))
    val under = if (!guarded) chunks
      else ck.filter(col("__k") <= maxBucket)
        .select(col("simhash"), col("c"), col("chunk"))
    // Join strategy note (r21): shuffled-hash was measured here and on
    // the variant clique — neutral at gate scale (paired 0.89-1.09 in
    // a quiet window) — so the sort-merge hint stays: it spills
    // gracefully where a per-partition hash build can OOM at 100 TB
    // (guide §3.1), and the sorts are on narrow metadata rows.
    val clique = under.hint("merge").as("x").join(under.hint("merge").as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"))

    // ---- variant-join rescue for over-cap buckets --------------------
    // 13 keys per (simhash, other-chunk): the chunk value and its 12
    // one-bit flips. Two simhashes sharing a variant key have that
    // chunk within hamming 2 (0: id-id; 1: id-flip; 2: flip-flip).
    val flips = array((0L +: (0 until 12).map(b => 1L << b)).map(lit): _*)
    // Unguarded: the variant stage is structurally empty — the whole
    // block below (including the ck population window `vk` reads) is
    // only built when guarded; candidates are the clique pairs alone.
    lazy val vk = ck.filter(col("__k") > maxBucket)
      .select(col("simhash"), col("c"), col("chunk"),
        explode(sequence(lit(0), lit(3))).as("c2"))
      .filter(col("c2") =!= col("c"))
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        explode(flips).as("__flip"))
      .withColumn("vkey",
        shr(col("simhash"), col("c2").cast("int") * 12).bitwiseAND(4095L)
          .bitwiseXOR(col("__flip")))
      .drop("__flip")
    // With the escalation on, the histogram below is a SEPARATE driver
    // action over this frame, and the final query reads it again for
    // vUnder + vOverBase — without a materialization the 39-key explode
    // and its population window run twice per call (r21: the guarded
    // form spent 4.6 s vs the exact form's 0.9 s on the same sig, and
    // this double execution was the largest share). Rows are
    // vkey-metadata (5 narrow columns), bounded by 39 × over-cap
    // members. The checkpoint is taken on EVERY guarded path that
    // reads vkn, escalateBudget = 0 included: there vUnder and
    // vOverBase are still its two consumers (CONTRACTS §13), and the
    // price is one eager Spark job at plan construction plus blocks
    // pinned until the caller's storage scope releases them.
    lazy val vkn = {
      val w = vk.withColumn("__vn", count(lit(1)).over(
        Window.partitionBy(col("c"), col("chunk"), col("c2"), col("vkey"))))
      w.localCheckpoint(true)
    }
    // Budgeted auto-escalation (the r20 default): lift the effective
    // cap to the largest bucket SIZE whose cumulative over-cap clique
    // work fits the linear-in-n budget. The histogram is one row per
    // distinct over-cap bucket size — metadata-scale next to the
    // buckets themselves — and the cut is deterministic (sizes
    // ascend).
    //
    // r22: ONE driver action per escalated call (was up to two: the
    // histogram, then a distinct-signature count when it fired). The
    // union below collects, in a single job over metadata-scale
    // aggregates: (b) the over-cap bucket-size histogram, (s) the max
    // identical-signature group size + the distinct-signature count,
    // (v) whether the checkpointed variant frame has any row at all.
    // Facts (s) and (v) are what the plan assembly further down uses
    // to PRUNE structurally dead legs — stages the runtime would
    // otherwise schedule only to produce zero rows (the vClique
    // sort-merge join's two exchanges+sorts when vkn is empty, the
    // four MJU rotation-window sorts when nothing survives past the
    // escalation cut, the per-signature group window passes when no
    // group exceeds maxBucket). Every pruning decision reads the SAME
    // materialized vkn blocks the final query reads (vkn is an eager
    // localCheckpoint on every guarded path), so there is no
    // compute-then-recompute window for the facts to drift in; output
    // equivalence is the plain "a filter nothing satisfies produces
    // no rows" argument, re-pinned by the oracle and the parity specs.
    lazy val escalFacts: (Seq[(Long, Long)], Boolean, Long, Long) = {
      val bucketRows = vkn
        .filter(col("__vn") > variantCap)
        .select(col("c"), col("chunk"), col("c2"), col("vkey"),
          col("__vn"))
        .distinct()
        .groupBy(col("__vn")).agg(count(lit(1)).as("__nb"))
        .select(lit("b").as("__t"), col("__vn"), col("__nb"))
      val sigRows = sig
        .groupBy(col("simhash")).agg(count(lit(1)).as("__m"))
        .agg(max(col("__m")).as("__vn"), count(lit(1)).as("__nb"))
        .select(lit("s").as("__t"), col("__vn"), col("__nb"))
      val vknRows = vkn
        .groupBy().agg(count(lit(1)).as("__nb"))
        .select(lit("v").as("__t"), lit(0L).as("__vn"), col("__nb"))
      // "b" sorts before "s"/"v": a truncated collect loses the s/v
      // rows, which the require below catches before any fact is read.
      val rows = bucketRows.unionByName(sigRows).unionByName(vknRows)
        .orderBy(col("__t"), col("__vn"))
        .limit(100003)
        .collect()
      val hist = rows.filter(_.getString(0) == "b")
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      require(hist.length <= 100000 &&
        rows.exists(_.getString(0) == "s") &&
        rows.exists(_.getString(0) == "v"),
        "simhashCandidatesFromSig: over 100k distinct over-cap bucket " +
          "sizes — the variant-key space is 4×4096×4096 values, so this " +
          "is a broken population column, not a real corpus")
      val s = rows.find(_.getString(0) == "s").get
      val maxGroup = if (s.isNullAt(1)) 0L else s.getLong(1)
      val nSims = s.getLong(2)
      val vknEmpty = rows.find(_.getString(0) == "v").get.getLong(2) == 0L
      (hist, vknEmpty, maxGroup, nSims)
    }
    lazy val effCap: Long =
      if (escalateBudget <= 0 || maxBucket == Int.MaxValue)
        variantCap.toLong
      else {
        val (hist, _, _, nSims) = escalFacts
        if (hist.isEmpty) variantCap.toLong
        else escalationCut(hist, variantCap,
          escalateBudget.toLong * nSims)._1
      }
    // Leg-pruning facts — meaningful (and evaluated) only on the
    // guarded escalated path (escalateBudget > 0); with a zero budget
    // nothing reads them, though vkn is still checkpointed.
    lazy val variantStageEmpty: Boolean =
      escalateBudget > 0 && escalFacts._2
    lazy val windowStageEmpty: Boolean =
      escalateBudget > 0 && !escalFacts._1.exists(_._1 > effCap)
    lazy val groupGuardDormant: Boolean =
      escalateBudget > 0 && escalFacts._3 <= maxBucket
    lazy val vUnder = vkn.filter(col("__vn") <= effCap)
    lazy val vClique = vUnder.hint("merge").as("x")
      .join(vUnder.hint("merge").as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.c2") === col("y.c2") && col("x.vkey") === col("y.vkey") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"))
    // Final degrade: MJU sorted windows of width SimVariantWindow
    // under each SimVariantRotations bit-rotation (48-bit rotate via
    // masked shifts — values stay < 2^48 so long arithmetic is exact
    // and byte-equal to the DuckDB replay). Rotated order is a
    // bijection of the distinct signatures (no ties); leads can be
    // smaller in RAW value, so pairs normalize via least/greatest.
    lazy val vOverBase = vkn.filter(col("__vn") > effCap)
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        col("vkey"))
    def rot(r: Int): Column =
      if (r == 0) col("simhash")
      else shl(col("simhash").bitwiseAND(lit((1L << (48 - r)) - 1)),
          lit(r))
        .bitwiseOR(shr(col("simhash"), lit(48 - r)))
    // One plan leg per rotation (leads packed into an array and
    // exploded) — w unioned legs per rotation quadrupled by rotations
    // made the PLAN itself the cost on queries where this stage is
    // provably empty (paired-measured: near_dup 1.3x -> 2.8x from plan
    // growth alone; this shape restores it).
    lazy val winPairs = SimVariantRotations.map { r =>
      val wvo = Window.partitionBy(col("c"), col("chunk"), col("c2"),
        col("vkey")).orderBy(rot(r), col("simhash"))
      vOverBase
        .select(Seq(col("simhash")) ++ (1 to SimVariantWindow).map(i =>
          lead(col("simhash"), i).over(wvo).as(s"__nx$i")): _*)
        .select(col("simhash"),
          explode(array((1 to SimVariantWindow).map(i =>
            col(s"__nx$i")): _*)).as("__nx"))
        .filter(col("__nx").isNotNull)
        .select(least(col("simhash"), col("__nx")).as("sa"),
          greatest(col("simhash"), col("__nx")).as("sb"))
    }.reduce(_ unionByName _)

    // ---- distinct-level union, hamming filter, member expansion ------
    // Hamming filter BEFORE the distinct (r21, guide §2.3 "shuffle
    // fewer bytes"): a candidate pair agrees on one 12-bit chunk and is
    // random-ish on the other 36 bits, so the large majority fails
    // `hamming <= maxHamming` — filtering first shrinks the distinct's
    // exchange from every chunk-sharing candidate to just the true
    // pairs. bit_count is evaluated in the join's output stage (no
    // extra exchange); hamming is a pure function of (sa, sb) so
    // filter∘distinct ≡ distinct∘filter.
    // r22 leg pruning (escalated path only — the facts cost no extra
    // job there, see escalFacts): an empty vkn makes BOTH variant legs
    // produce zero rows (their source frame has none); an empty
    // post-cut remainder makes the four rotation-window legs produce
    // zero rows (vOverBase filters the same materialized blocks the
    // facts counted). Dropping a leg whose source is provably empty is
    // output-identical; what it saves is the leg's scheduled stages
    // (vClique: two exchanges + two sorts + a sort-merge join;
    // winPairs: four window sorts) — fixed plan cost at gate scale,
    // data-proportional sorts at 100 TB.
    val simPairs = (if (!guarded) clique
      else if (variantStageEmpty) clique
      else if (windowStageEmpty) clique.unionByName(vClique)
      else clique.unionByName(vClique).unionByName(winPairs))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = simPairs
      .join(sig.as("a"), col("a.simhash") === col("sa"))
      .join(sig.as("b"), col("b.simhash") === col("sb"))
      .select(least(col(s"a.$id"), col(s"b.$id")).as("id_a"),
        greatest(col(s"a.$id"), col(s"b.$id")).as("id_b"),
        col("hamming"))

    // ---- identical-simhash groups (hamming 0 by construction) --------
    // Unguarded: every group is under-cap, so the per-signature size
    // window and the path leg are dead — one plain self-join.
    // groupGuardDormant (escalated path, no extra job): when the
    // measured max identical-signature group size is <= maxBucket, the
    // per-signature population window keeps every row and the path leg
    // is empty — the guarded shape degenerates to the plain self-join,
    // so build that directly and skip the two window passes over sig.
    val intraPairs = if (!guarded || groupGuardDormant) {
      sig.as("x").join(sig.as("y"),
          col("x.simhash") === col("y.simhash") &&
            col(s"x.$id") < col(s"y.$id"))
        .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))
    } else {
      val sigM = sig.withColumn("__m",
        count(lit(1)).over(Window.partitionBy(col("simhash"))))
      val gUnder = sigM.filter(col("__m") <= maxBucket)
      val gClique = gUnder.as("x").join(gUnder.as("y"),
          col("x.simhash") === col("y.simhash") &&
            col(s"x.$id") < col(s"y.$id"))
        .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))
      val gPath = sigM.filter(col("__m") > maxBucket)
        .withColumn("__nx", lead(col(id), 1).over(
          Window.partitionBy(col("simhash")).orderBy(col(id))))
        .filter(col("__nx").isNotNull)
        .select(col(id).as("id_a"), col("__nx").as("id_b"))
      gClique.unionByName(gPath)
    }
    val intra = intraPairs.withColumn("hamming", bit_count(lit(0L)))

    cross.unionByName(intra)
  }

  /** Chunk-population ledger - the measured evidence behind
    * [[SimMaxBucket]], mirroring [[lshBucketLedger]]: one row of
    * (n_buckets, max_bucket, n_over_cap, max_group, n_over_cap_groups)
    * where bucket columns count DISTINCT simhashes per (c, chunk) band
    * (the join-work driver after the round-16 redesign) and group
    * columns count members per identical simhash (the intra-group
    * clique->path driver). `n_over_cap = 0` proves the variant rescue
    * is dormant (capped and uncapped candidates byte-identical);
    * non-zero routes those buckets through the EXACT variant join.
    * Because the chunk key space is fixed at 4x4096, `max_bucket` grows
    * with DISTINCT corpus content - the linear-growth signal the guard
    * exists for; `max_group` grows with duplication. */
  def simhashBucketLedger(df: DataFrame, id: String, text: String,
      maxBucket: Int = SimMaxBucket, variantCap: Int = SimMaxBucket): DataFrame = {
    // One pass over the corpus: the per-signature group frame (tiny —
    // one row per DISTINCT simhash) is the only thing materialized;
    // the bucket, group AND variant-stage aggregates derive from it.
    val g = simhash(df, id, text)
      .groupBy(col("simhash")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val ch = g
      .select(explode(sequence(lit(0), lit(3))).as("c"), col("simhash"))
      .withColumn("chunk",
        shr(col("simhash"), col("c").cast("int") * 12).bitwiseAND(4095L))
    val buckets = ch
      .groupBy(col("c"), col("chunk")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
        count(when(col("n") > maxBucket, 1)).as("n_over_cap"))
    val groups = g
      .agg(max(col("m")).as("max_group"),
        count(when(col("m") > maxBucket, 1)).as("n_over_cap_groups"))
    // The RESCUE stage's own exposure (r16 verdict ask #6): the
    // 13-keys-per-(sim, other-chunk) expansion is linear, but the
    // variant-bucket CLIQUE is quadratic wherever >= 24 bits
    // near-agree across the corpus — exactly like the level-1 buckets,
    // so it gets the same committed population columns. Mirrors the
    // vk construction of [[simhashCandidatesFromSig]] (over-cap level-1
    // buckets only — the variant join never runs elsewhere).
    val ck = ch.withColumn("__k",
      count(lit(1)).over(Window.partitionBy(col("c"), col("chunk"))))
    val flips = array((0L +: (0 until 12).map(b => 1L << b)).map(lit): _*)
    val variants = ck.filter(col("__k") > maxBucket)
      .select(col("simhash"), col("c"), col("chunk"),
        explode(sequence(lit(0), lit(3))).as("c2"))
      .filter(col("c2") =!= col("c"))
      .select(col("simhash"), col("c"), col("chunk"), col("c2"),
        explode(flips).as("__flip"))
      .withColumn("vkey",
        shr(col("simhash"), col("c2").cast("int") * 12).bitwiseAND(4095L)
          .bitwiseXOR(col("__flip")))
      .groupBy(col("c"), col("chunk"), col("c2"), col("vkey"))
      .agg(count(lit(1)).as("vn"))
      .agg(count(lit(1)).as("n_vkey_buckets"),
        coalesce(max(col("vn")), lit(0L)).as("max_vkey_bucket"),
        count(when(col("vn") > variantCap, 1)).as("n_over_variant_cap"))
    buckets.crossJoin(groups).crossJoin(variants)
  }

  // ---- Edit-distance similarity join (symmetric-delete blocking) -------

  /** One-character deletion: `s` with the `i`-th (1-based) character
    * removed. */
  private def delChar(s: Column, i: Column): Column =
    concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))

  /** The DISTINCT ≤2-deletion neighborhood of `s`: the string itself,
    * every 1-deletion, every 2-deletion (SymSpell / symmetric-delete
    * blocking). If dist(a,b) ≤ 2, some ≤2-edit script maps a→b; each
    * substitution deletes one aligned char from BOTH sides and each
    * insert/delete removes one char from ONE side, so the two
    * neighborhoods share a string — an equi-join on neighborhood
    * hashes is a SOUND candidate generator for edit distance ≤ 2.
    * |neighborhood| ≤ 1 + L + C(L,2) (L=18 → 172 keys/row): candidate
    * generation is O(N·L²) rows, where a degenerate block key (e.g. a
    * shared prefix) collapses to O(N²) all-pairs.
    *
    * Custom expression ([[graft.expressions.DeletionNeighborhood]] —
    * one tight byte loop): the composed nested-`transform` form
    * ([[delNeighborhoodComposed]]) evaluates HOF lambdas interpreted at
    * ~0.75 ms/row — spec-proven equivalent, kept as the executable
    * reference semantics. */
  def delNeighborhood(s: Column): Column =
    graft.expressions.GraftFunctions.delNeighborhood(s)

  /** Composed-builtin reference form of [[delNeighborhood]] (nested
    * transform + array_distinct): same value, ~75x slower per row. */
  def delNeighborhoodComposed(s: Column): Column = {
    val n = length(s)
    val d1 = when(n >= 1,
      transform(sequence(lit(1), n), i => delChar(s, i)))
      .otherwise(array())
    val d2 = when(n >= 2,
      flatten(transform(sequence(lit(1), n - 1), i =>
        transform(sequence(i + 1, n), j => delChar(delChar(s, j), i)))))
      .otherwise(array())
    array_distinct(concat(array(s), d1, d2))
  }

  /** Candidate pairs for an edit-distance(≤2) join: explode both sides
    * into hashed deletion-neighborhood keys, equi-join, distinct.
    * Superset of the true pairs (hash collisions only ADD candidates);
    * callers verify with `levenshtein(...) <= 2` — the expensive exact
    * distance runs once per DISTINCT candidate, so its cost scales with
    * the true-match count, not the pair space. */
  def editCandidates(
      a: DataFrame, b: DataFrame,
      aId: String, aStr: String, bId: String, bStr: String): DataFrame = {
    // The neighborhood is already distinct per row — that matters on
    // low-entropy strings, where deleting different chars of an
    // equal-char run yields the SAME variant and duplicate keys multiply
    // QUADRATICALLY across the join. The key is internal (never
    // oracle-compared), so the codegen'd xxhash64 beats md5.
    def keyed(df: DataFrame, id: String, str: String) =
      df.select(col(id), col(str),
          explode(delNeighborhood(col(str))).as("__k"))
        .select(col(id), col(str), xxhash64(col("__k")).as("__kh"))
    keyed(a, aId, aStr)
      .join(keyed(b, bId, bStr), Seq("__kh"))
      .select(col(aId), col(aStr), col(bId), col(bStr))
      .distinct()
  }

  /** Block-population ledger for [[editCandidates]] — the measured
    * scale evidence for the symmetric-delete join, one row of
    * (n_keys, max_block_a, max_block_b, join_rows) over the deletion-
    * neighborhood key space (join_rows = Σ_k |a-block|·|b-block|, the
    * exact row count the candidate join materializes before distinct).
    *
    * What the measurement showed on the zero-padded supplier-name gate
    * corpus (sf0.1 → 10×): join_rows 88,300 → 1,468,000 (16.6×) — but
    * the EXACT OUTPUT (every lev ≤ 2 pair, any implementation) grows
    * 28,000 → 370,000 (13.2×) on the same corpora, and candidates stay
    * within 2.7–3.5× of output at both scales. The super-linearity is
    * INTRINSIC RESULT DENSITY (sequential numeric names put ever more
    * pairs within 2 edits), not blocking waste; a stop-key cap was
    * tested and removed ZERO candidates (every over-cap key's pairs
    * also share an under-cap key), so no cap is applied — this ledger
    * is the standing instrument that keeps that diagnosis measurable.
    * Keys are xxhash64 of the variants (same caveat as
    * [[lshBucketLedger]]: populations equal the string-keyed truth
    * unless a 64-bit collision merges two blocks). */
  def editBlockLedger(a: DataFrame, b: DataFrame,
      aId: String, aStr: String, bId: String, bStr: String): DataFrame = {
    def keys(df: DataFrame, id: String, str: String) =
      df.select(col(id), explode(delNeighborhood(col(str))).as("__k"))
        .select(col(id), xxhash64(col("__k")).as("__kh"))
    val pa = keys(a, aId, aStr).groupBy(col("__kh"))
      .agg(count(lit(1)).as("na"))
    val pb = keys(b, bId, bStr).groupBy(col("__kh"))
      .agg(count(lit(1)).as("nb"))
    pa.join(pb, Seq("__kh"), "full_outer")
      .select(coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("na")).as("max_block_a"),
        max(col("nb")).as("max_block_b"),
        sum(col("na") * col("nb")).as("join_rows"))
  }

  // ---- Exact substring dedup (content-defined chunking) ---------------

  /** Content-defined chunk spans of each document — the exact-substring
    * dedup family (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499). The paper builds a
    * suffix array, which is inherently sequential and single-machine;
    * the shardable Spark restatement is content-defined chunking: a
    * token position closes a chunk when the md5-derived hash of the
    * `window`-token span ending there ≡ 0 (mod `divisor`). Boundaries
    * depend only on LOCAL content, so a long span shared by two
    * documents chunks identically in both REGARDLESS of its byte offset
    * (fixed-width chunking would misalign), and exact duplicate spans
    * become chunk-hash equality at ~`divisor`-token granularity.
    *
    * Chunking is a PURE PROJECTION — no shuffle, no state; it shards to
    * any corpus size and composes with streaming ingest. Output:
    * `(id, start_tok, chunk_len, chash)`, one row per chunk. Expected
    * chunk length ≈ `divisor` tokens. `__toks` is bound as a column
    * BEFORE the lambdas so HOF capture references an attribute, not a
    * re-evaluated expression (the split would otherwise recompute per
    * element). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 5, divisor: Int = 8): DataFrame = {
    val base = docs.select(col(idCol),
      split(normalized(col(textCol)), " ").as("__toks"))
    // Boundary positions: the CASE guard keeps slice() away from
    // non-positive starts (CaseWhen branches evaluate lazily).
    val withB = base.select(col(idCol), col("__toks"),
      size(col("__toks")).as("__n"),
      filter(sequence(lit(1), size(col("__toks"))),
        i => when(i >= window,
            hash60(array_join(
              slice(col("__toks"), i - (window - 1), lit(window)), " "))
              % divisor === 0)
          .otherwise(lit(false))).as("__bnd"))
    // Chunks: starts = 1 ∪ (boundary+1), ends = boundaries ∪ n; a
    // trailing boundary at n yields an empty (n+1, n) pair — filtered.
    withB.select(col(idCol),
      explode(filter(
        zip_with(
          concat(array(lit(1)), transform(col("__bnd"), b => b + 1)),
          concat(col("__bnd"), array(col("__n"))),
          (s, e) => struct(
            s.as("start_tok"),
            (e - s + 1).as("chunk_len"),
            hash60(array_join(slice(col("__toks"), s, e - s + 1), " "))
              .as("chash"))),
        c => c.getField("chunk_len") > 0)).as("__c"))
      .select(col(idCol), col("__c.start_tok").as("start_tok"),
        col("__c.chunk_len").as("chunk_len"), col("__c.chash").as("chash"))
  }

  /** Exact duplicate spans: [[cdcChunks]] + ONE chunk-hash groupBy
    * (partial count-distinct combines map-side) + a join back on the
    * duplicated hashes. Every occurrence of a span whose chunk text
    * appears in ≥ `minDocs` distinct documents, with its location. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 5, divisor: Int = 8, minDocs: Int = 2): DataFrame = {
    val ch = cdcChunks(docs, idCol, textCol, window, divisor)
    val dup = ch.groupBy(col("chash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    ch.join(dup, Seq("chash"))
      .select(col(idCol), col("start_tok"), col("chunk_len"),
        col("chash"), col("n_docs"))
  }

  /** Exact-substring REMOVAL — the second half of the Lee et al. recipe
    * ([[duplicateSpans]] finds the spans; this drops them): every chunk
    * whose text appears in ≥ `minDocs` distinct documents is cut, and
    * each document is reconstructed from its surviving chunks in order.
    * Returns `(id, n_chunks, n_kept, clean_md5)` (digest, not the text —
    * only narrow rows shuffle).
    *
    * Scale: chunking is a projection; the duplicated-chunk dictionary is
    * small (chunks crossing `minDocs` docs) and broadcast; the single
    * groupBy carries (start, len) spans, not chunk text; the token
    * arrays join back once for the slice-reconstruction projection. */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 5, divisor: Int = 8, minDocs: Int = 2): DataFrame = {
    val ch = cdcChunks(docs, idCol, textCol, window, divisor)
    val dup = ch.groupBy(col("chash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("chash"), lit(true).as("__dup"))
    val spans = ch.join(dup, Seq("chash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__dup").isNull, 1)).as("n_kept"),
        array_sort(collect_list(when(col("__dup").isNull,
          struct(col("start_tok"), col("chunk_len"))))).as("__spans"))
    spans.join(docs.select(col(idCol),
        split(graft.functions.TextFunctions.normalized(col(textCol)), " ")
          .as("__toks")), idCol)
      .select(col(idCol), col("n_chunks"), col("n_kept"),
        md5(array_join(flatten(transform(col("__spans"),
          sp => slice(col("__toks"), sp.getField("start_tok"),
            sp.getField("chunk_len")))), " ")).as("clean_md5"))
  }
}
