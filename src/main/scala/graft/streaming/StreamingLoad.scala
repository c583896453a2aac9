package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftPlans
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse

/** Row/state/result types for [[StreamingLoad.sessionizeStream]]. */
case class SessEvent(user_id: Long, ts: Timestamp, event_id: Long)
case class SessAccum(startTs: Timestamp, endTs: Timestamp, n: Long)
case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long)

/** Row/state/result types for [[StreamingLoad.asofJoinStream]]. */
case class AsOfEv(k: Long, ts: Timestamp, side: Int, id: Long)
case class AsOfBuf(pending: Seq[AsOfEv], lastRid: Option[Long])
case class AsOfMatch(event_id: Long, user_id: Long, ts: Timestamp,
    asof_event_id: Option[Long])

/** Output row for [[StreamingLoad.runningCountsTws]]. */
case class UserRunningCount(user_id: Long, n_events: Long)

/** Spark 4 `transformWithState` processor: per-user running event count
  * held in a named ValueState (the arbitrary-state API that supersedes
  * flatMapGroupsWithState — typed state handles, timers, TTL; RocksDB
  * state store required). Emits the updated total once per key per
  * micro-batch. */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, SessEvent, UserRunningCount] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[SessEvent],
      timers: TimerValues): Iterator[UserRunningCount] = {
    val prev = if (count.exists()) count.get() else 0L
    val total = prev + rows.size
    count.update(total)
    Iterator.single(UserRunningCount(key, total))
  }
}

/** Structured Streaming restatement of the reference's incremental-arrival
  * model (SURVEY.md §2.1 S4, §7.2 M5): the reference starts an S3 upload
  * per `addFile` and loads everything present at `insert()` time; here a
  * file-source stream picks up files as they land and
  * `Trigger.AvailableNow` makes one load pass over everything available —
  * files arriving after the trigger boundary wait for the next run (the
  * reference's `_started` latch warn-and-drop becomes "picked up next
  * run": strictly better, nothing is lost).
  *
  * Scale notes: `maxFilesPerTrigger` is the backpressure control (the
  * reference's generator backpressure, utils.ts:53-55); foreachBatch
  * executes the merge as a normal distributed job per micro-batch.
  */
object StreamingLoad {

  /** One row per id within a micro-batch, chosen DETERMINISTICALLY
    * (lexicographically-least full row): a producer retry can land the
    * same document in two files drained by one AvailableNow trigger,
    * and the per-table replay guards only see the PERSISTED stores —
    * within-batch id duplicates would insert twice (and, for content
    * dedup, two same-id rows form no id_a < id_b candidate pair, so
    * nothing rejects them). dropDuplicates would pick an arbitrary row;
    * ordering by the full row keeps replays byte-stable. */
  private def onePerId(batch: DataFrame, idField: String): DataFrame = {
    val others = batch.columns.filter(_ != idField).map(col).toSeq
    batch.withColumn("__one",
        row_number().over(Window
          .partitionBy(col(idField)).orderBy(struct(others: _*))))
      .filter(col("__one") === 1).drop("__one")
  }

  /** Run one micro-batch body, then release every RDD block the body
    * persisted (the eager `localCheckpoint` materializations the sinks
    * lean on): per-batch storage is SCOPED to the batch, so a
    * long-running continuous ingest cannot accumulate cached blocks
    * batch over batch until eviction thrashing. Snapshot-diff on
    * persistent-RDD ids — frames the caller materialized BEFORE
    * starting the stream (a frozen boilerplate dict, a benchmark eval
    * set) carry pre-snapshot ids and are never touched. Assumes the
    * session runs one foreachBatch body at a time (Spark's default;
    * concurrently-triggered independent streams in one session would
    * need per-frame tracking instead — don't share a session if you do
    * that). The assumption is ENFORCED, not documented-and-hoped: a
    * second scope entered from another thread on the same SparkContext
    * fails loudly BEFORE it can unpersist the first stream's
    * mid-batch local checkpoints (which cannot be recomputed — the
    * silent version of this bug kills the other stream's jobs). Same-
    * thread reentry stays legal: an inner scope releases only its own
    * post-snapshot ids, and the outer finally re-visits them as
    * already-unpersisted no-ops. */
  private val scopeOwner = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Thread]()
  private[graft] def batchStorageScope[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val me = Thread.currentThread()
    val prev = scopeOwner.putIfAbsent(sc, me)
    require(prev == null || prev == me,
      s"batchStorageScope: concurrent scope on one SparkContext (held by " +
        s"thread '${if (prev == null) "?" else prev.getName}', entered from " +
        s"'${me.getName}') — two concurrently-triggered streams sharing a " +
        "session would unpersist each other's mid-batch local checkpoints; " +
        "run concurrent streams in separate sessions")
    val owner = prev == null
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      sc.getPersistentRDDs
        .filter { case (rddId, _) => !before.contains(rddId) }
        .values.foreach(_.unpersist(blocking = false))
      if (owner) scopeOwner.remove(sc, me)
    }
  }

  /** The stream every file-fed sink runs: NDJSON files of `schema`
    * picked up from `srcDir` (at most `maxFilesPerTrigger` per batch when
    * set), one `body` call per micro-batch inside [[batchStorageScope]],
    * progress in `checkpointDir`. AvailableNow unless the sink passes its
    * own trigger.
    *
    * `body` gets the batch re-homed into the caller's session `spark`
    * (CONTRACTS §8c, rule *Code*). Spark runs each streaming query in a
    * clone of the session, and each clone's executor tasks get a class
    * loader of their own; the codegen cache is keyed by class loader, so
    * a body left in the clone recompiles every generated class on every
    * new query (measured: 160 Janino compiles per 50-document
    * `curationIngestStream` batch, a quarter of its CPU samples). The
    * foreachBatch frame is a `LogicalRDD`, so re-homing it is free, and
    * the frames the body derives from it then run in the same session as
    * the warehouse tables and frozen frames they join, under its
    * settings (Spark turns adaptive execution off in the clone; the
    * benchmark's curation batch keeps its 42 jobs and 68 tasks either
    * way). With the cache sized by [[graft.ToolSession.local]], a
    * repeated batch compiles nothing. */
  private def runStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None)(
      body: DataFrame => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .json(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batchStorageScope(spark)(
          body(GraftPlans.ofRows(spark, batch.queryExecution.logical)))
      }
      .start()
  }

  /** The per-table replay guard of the multi-store sinks (CONTRACTS §8c
    * leg (a)): the rows of `df` whose id `table` does not hold yet,
    * materialized BEFORE the insert so the anti-join reads the pre-append
    * store. At-least-once delivery replays whole batches, and a crash
    * between two inserts leaves a doc in some stores but not others;
    * guarding each store against ITS OWN ids makes every insert
    * individually idempotent, so full and partial replays both heal. A
    * single guard shared by two stores would instead turn a crash
    * between them into permanent loss (the replay finds nothing fresh,
    * so the missing rows are never written). */
  private def notIn(warehouse: ParquetWarehouse, df: DataFrame,
      table: TableRef, idField: String): DataFrame =
    (if (warehouse.exists(table))
        df.join(warehouse.table(table).select(col(idField)),
          Seq(idField), "left_anti")
      else df).localCheckpoint(true)

  /** "No URL": a doc whose canonical key is blank has no key to dedup
    * on — it always survives the URL stage and contributes nothing to
    * the key store. Blank includes whitespace-only strings (crawl JSON
    * encodes missing as "", "\t", or "\n" as often as null; the
    * canonicalizer passes them through, and one shared blank key would
    * silently collapse every url-less doc corpus-wide onto the first
    * arrival — rlike over \s, because trim() strips only ASCII spaces).
    * Without the split, the keep-lowest window would collapse every
    * null-key doc of a batch into one survivor while cross-batch nulls
    * always survive — inconsistent, and either way not URL dedup. */
  private def blank(c: Column): Column = c.isNull || c.rlike("^\\s*$")

  /** The canonical-URL reject stage: one row per id, its URL
    * canonicalized into `canonical_url`, and only the docs whose key is
    * neither held by the PERSISTED `keyTable` nor claimed by a lower-id
    * arrival of the same batch (keep-lowest: arrivals 2..n of a key are
    * within-batch rejects even when the key is new). Keyless docs
    * ([[blank]]) always survive. Materialized: one evaluation feeds the
    * key-store insert and everything downstream. */
  private def urlStage(warehouse: ParquetWarehouse, batch: DataFrame,
      keyTable: TableRef, idField: String, urlField: String): DataFrame = {
    val all = onePerId(batch, idField).withColumn("canonical_url",
        graft.operators.CurationOps.canonicalizeUrl(col(urlField)))
      .localCheckpoint(true)
    val keyed = all.filter(!blank(col("canonical_url")))
    val keyless = all.filter(blank(col("canonical_url")))
    val claimedByStore =
      if (warehouse.exists(keyTable))
        keyed.join(warehouse.table(keyTable).select(col("canonical_url")),
          Seq("canonical_url"), "left_semi").select(col(idField))
      else keyed.select(col(idField)).limit(0)
    keyed
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("canonical_url")).orderBy(col(idField))))
      .filter(col("__rk") === 1).drop("__rk")
      .join(claimedByStore, Seq(idField), "left_anti")
      .unionByName(keyless)
      .localCheckpoint(true)
  }

  /** MinHash candidate pairs of one batch of `docs`, est-filtered at
    * `minEst`: `(corpus_id, new_id)` against the PERSISTED signature
    * store `sigTable` (the corpus is never re-shingled; only its
    * ~256-byte/doc signatures stay hot) and `(id_a, id_b)` within the
    * batch. ONE shingling pass per batch: the returned materialized
    * signature frame feeds both candidate joins and the caller's
    * signature-store insert (shingle + 32 hash-mins per doc is the
    * dominant per-batch text cost).
    *
    * `verifyExact` re-checks the est-passing pairs against their TRUE
    * shingle Jaccard (pair-count-sized work): the K = 32 estimator has a
    * measured false-positive tail at large store x batch products (one
    * honest doc rejected at est 0.53 / true J 0.07 in 8e10 implicit
    * tests — SCALING.md). The store side's text comes from the corpus
    * `table`: the §8c commit order (corpus before sigs) guarantees every
    * sig row has its corpus row, and broadcastPairs pins the
    * batch-bounded pair set as the build side so the corpus text lookup
    * is ONE column-pruned streaming scan — never a per-batch sort-merge
    * shuffle of the whole corpus (which plain planning picks once size
    * estimates outgrow the broadcast threshold). */
  private def nearDupCandidates(warehouse: ParquetWarehouse, docs: DataFrame,
      table: TableRef, sigTable: TableRef, idField: String, textField: String,
      minEst: Double, bands: Int, verifyExact: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val ops = graft.operators.DedupOps
    val sigArr = ops.minhashSignatureArr(docs, idField, textField)
      .repartition(col(idField)).localCheckpoint(true)
    val vsStore =
      if (warehouse.exists(sigTable)) {
        val cand = ops.minhashCandidatesAgainstSig(
            warehouse.table(sigTable), sigArr, idField, bands)
          .filter(col("est_jaccard") >= minEst)
        (if (verifyExact)
            ops.verifyPairsExact(cand, "corpus_id", warehouse.table(table),
              "new_id", docs, idField, textField, minEst,
              broadcastPairs = true)
          else cand)
          .select(col("corpus_id"), col("new_id"))
      } else docs.select(col(idField).as("corpus_id"),
        col(idField).as("new_id")).limit(0)
    val withinCand = ops.minhashCandidatesFromSig(sigArr, idField, bands)
      .filter(col("est_jaccard") >= minEst)
    val within = (if (verifyExact)
        ops.verifyPairsExact(withinCand, "id_a", docs, "id_b", docs,
          idField, textField, minEst)
      else withinCand).select(col("id_a"), col("id_b"))
    (sigArr, vsStore, within)
  }

  /** The near-dup reject stage over [[nearDupCandidates]]: the ids of
    * `docs` rejected for matching the persisted store, or for matching a
    * LOWER-id member of the same batch (keep-lowest rule) — but only a
    * lower-id member that itself SURVIVES the vs-store check: if A is
    * store-rejected and B ~ A but B is unlike anything stored, dropping
    * B on A's account would lose B's content from the corpus entirely
    * (round-5 ADVICE). Within the surviving set the rule stays pairwise
    * (chains like store-dup ← B ← C still drop C with B) — the same
    * transitivity caveat semDedup documents. Returns the signature frame
    * and the rejected ids. */
  private def nearDupRejects(warehouse: ParquetWarehouse, docs: DataFrame,
      table: TableRef, sigTable: TableRef, idField: String, textField: String,
      minEst: Double, bands: Int, verifyExact: Boolean)
      : (DataFrame, DataFrame) = {
    val (sigArr, storePairs, withinPairs) = nearDupCandidates(warehouse,
      docs, table, sigTable, idField, textField, minEst, bands, verifyExact)
    // Materialized (CONTRACTS §13): feeds BOTH the within-batch anti-join
    // and the rejected union — under verifyExact the subtree carries the
    // corpus-text lookup + exact verify, which must run once per batch,
    // not once per consumer.
    val vsStore = storePairs.select(col("new_id").as(idField))
      .localCheckpoint(true)
    val within = withinPairs
      .join(vsStore.select(col(idField).as("id_a")), Seq("id_a"), "left_anti")
      .select(col("id_b").as(idField))
    (sigArr, vsStore.unionByName(within).distinct())
  }

  /** Stream NDJSON files from `srcDir` into `table` with upsert semantics
    * per micro-batch. By default it runs until no more files are
    * available, then stops (AvailableNow); a `Trigger.ProcessingTime`
    * keeps it ingesting on that cadence until stopped. */
  def fileStreamUpsert(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      idField: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir, trigger, maxFilesPerTrigger) { batch =>
      warehouse.load(LoadMode.Upsert, table, batch, idField)
    }

  /** Stream a CDC feed (rows carrying an op column; "D" = tombstone)
    * into `table`: each micro-batch applies deletes and upserts in one
    * [[graft.operators.LoadOps.applyCdc]] merge against the current
    * version. Batch boundaries preserve feed order, so a delete and a
    * re-insert of the same key in ONE batch resolve to the upsert (the
    * applyCdc contract) and across batches to whichever arrived later —
    * the same convergence a Redshift staging-table DELETE+INSERT gives
    * the reference. */
  def cdcStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      idField: String,
      opCol: String,
      checkpointDir: String): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch =>
      val target =
        if (warehouse.exists(table)) warehouse.table(table)
        else batch.drop(opCol).limit(0) // first batch bootstraps
      val merged = graft.operators.LoadOps.applyCdc(
        target, batch, idField, opCol)
      warehouse.load(LoadMode.TruncateInsert, table, merged, idField)
    }

  /** Near-duplicate-REJECTING ingest: the online form of the corpus
    * dedup family. Rejection is est-threshold only; at store×batch
    * pair exposures past ~10¹⁰ the estimator's measured false-positive
    * tail matters (CONTRACTS §4) — precision-critical ingest should
    * ride [[curationIngestStream]]'s `verifyExact`, whose commit order
    * guarantees the corpus-text lookup the verify pass needs.
    *
    * Each micro-batch of arriving documents is MinHash-signed and
    * LSH-banded against the PERSISTED signature store
    * ([[graft.operators.DedupOps.minhashCandidatesAgainst]] — the corpus
    * itself is never re-shingled; only its ~256-byte/doc signatures stay
    * hot), and additionally against the batch's own earlier-id members
    * ([[nearDupRejects]]). Rejected documents never reach the corpus
    * table; survivors are appended together WITH their signatures, so
    * later batches — and later runs — dedup against them too. At 100 TB
    * this is the pattern that keeps ingest-side dedup O(new-batch),
    * independent of corpus size.
    *
    * Replay: a fully-committed replayed batch is already self-healing
    * (a survivor is a near-dup of its own stored signature and
    * re-rejects), but a crash BETWEEN the two inserts leaves survivors
    * in the corpus with no signatures — on replay nothing rejects them
    * and the corpus insert would duplicate. The per-table guards
    * ([[notIn]]) make both inserts idempotent. */
  def nearDupRejectStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      sigTable: TableRef,
      idField: String,
      textField: String,
      minEst: Double,
      checkpointDir: String,
      bands: Int = graft.operators.DedupOps.Bands): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch0 =>
      val batch = onePerId(batch0, idField)
      val (sigArr, rejected) = nearDupRejects(warehouse, batch, table,
        sigTable, idField, textField, minEst, bands, verifyExact = false)
      val survivors = batch.join(rejected, Seq(idField), "left_anti")
        .localCheckpoint(true)
      // §8c order: corpus → sigs (the sig store gates).
      warehouse.load(LoadMode.Insert, table,
        notIn(warehouse, survivors, table, idField), idField)
      warehouse.load(LoadMode.Insert, sigTable,
        sigArr.join(notIn(warehouse, survivors, sigTable, idField)
          .select(col(idField)), Seq(idField), "left_semi"), idField)
    }

  /** URL-level exact-dedup ingest — the cheapest first-pass filter of a
    * crawl pipeline, run BEFORE any content hashing: each arriving
    * document's URL is canonicalized
    * ([[graft.operators.CurationOps.canonicalizeUrl]]) and rejected if
    * the canonical key is already in the PERSISTED key store, or if a
    * lower-id arrival in the same batch claims it ([[urlStage]]).
    * Survivors append together with their keys, so later batches — and
    * later runs — dedup against them too. At 100 TB this stays
    * O(new-batch): one equi-join per batch against a key table that
    * holds one short string per corpus document (no shingling, no
    * banding — that's [[nearDupRejectStream]]'s job, downstream).
    *
    * Replay: keyless docs have no key in the store to re-reject them,
    * and a crash between the two inserts leaves survivors in the corpus
    * with unstored keys (later arrivals of the same URL would pass); the
    * per-table guards ([[notIn]]) heal both. */
  def urlKeyRejectStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      keyTable: TableRef,
      idField: String,
      urlField: String,
      checkpointDir: String): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch =>
      val survivors = urlStage(warehouse, batch, keyTable, idField, urlField)
      // §8c order: corpus → keys (the key store gates).
      warehouse.load(LoadMode.Insert, table,
        notIn(warehouse, survivors, table, idField).drop("canonical_url"),
        idField)
      warehouse.load(LoadMode.Insert, keyTable,
        notIn(warehouse, survivors, keyTable, idField)
          .filter(!blank(col("canonical_url")))
          .select(col("canonical_url"), col(idField)), idField)
    }

  /** Continuous cluster labeling — the incremental twin of the batch
    * `dedup_cc_*` family: every micro-batch of arriving documents is
    * MinHash-signed, candidate edges are generated against the persisted
    * signature store AND within the batch ([[nearDupCandidates]]), and
    * a PERSISTED component-label table is updated via
    * [[graft.operators.DedupOps.incrementalComponents]] — only the
    * frontier (this batch's edges, lifted to label space) iterates; the
    * corpus-sized label table gets one broadcast remap per batch. Unlike
    * [[nearDupRejectStream]], near-duplicates are KEPT and labeled, so
    * downstream curation can pick per-cluster survivors with full
    * information (quality-weighted keep, cluster-size stats) at any time
    * without a batch recompute.
    *
    * Replay: the append stores are guarded per table ([[notIn]] — a
    * re-delivered batch must not accumulate duplicate corpus rows or
    * signatures, which would fan out every future candidate-edge join);
    * the label table's left_anti seed already has its own guard. */
  def ccLabelStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      sigTable: TableRef,
      labelTable: TableRef,
      idField: String,
      textField: String,
      minEst: Double,
      checkpointDir: String,
      bands: Int = graft.operators.DedupOps.Bands): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch0 =>
      val batch = onePerId(batch0, idField)
      val (sigArr, vsStore, within) = nearDupCandidates(warehouse, batch,
        table, sigTable, idField, textField, minEst, bands,
        verifyExact = false)
      val prev =
        if (warehouse.exists(labelTable)) warehouse.table(labelTable)
        else batch.select(col(idField), col(idField).as("component"))
          .limit(0)
      // Materialize eagerly: the new labels are DERIVED from the table
      // they are about to replace (TruncateInsert) — cut the lineage
      // before the overwrite, or the lazy read races the write.
      val labels = graft.operators.DedupOps.incrementalComponents(
          prev, batch.select(col(idField)),
          vsStore.select(col("corpus_id").as("id_a"), col("new_id").as("id_b"))
            .unionByName(within), idField)
        .localCheckpoint(true)
      warehouse.load(LoadMode.Insert, table,
        notIn(warehouse, batch, table, idField), idField)
      warehouse.load(LoadMode.Insert, sigTable,
        sigArr.join(notIn(warehouse, batch, sigTable, idField)
          .select(col(idField)), Seq(idField), "left_semi"), idField)
      warehouse.load(LoadMode.TruncateInsert, labelTable, labels, idField)
    }

  /** Continuously-maintained KMV distinct-count sketch: each micro-batch
    * is hashed to its bottom-k rows and LOSSLESSLY merged into the
    * persisted per-group sketch table (≤ k rows per group, ~8 bytes per
    * row — the running "distinct users per type" a dashboard reads
    * without ever re-scanning history). KMV merge is exact
    * (bottom-k(stored ∪ batch) == bottom-k(all rows ever seen) — the
    * [[graft.operators.SketchOps]] invariant the parity spec asserts),
    * so unlike approximate-state stores the streamed sketch never
    * drifts from the batch recompute. */
  def kmvSketchStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      sketchTable: TableRef,
      groupField: String,
      valueField: String,
      k: Int,
      checkpointDir: String): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch =>
      val ops = graft.operators.SketchOps
      val newSk = ops.kmvBottomK(batch, Seq(col(groupField)),
        col(valueField), k)
      val prev =
        if (warehouse.exists(sketchTable)) warehouse.table(sketchTable)
        else newSk.limit(0)
      // Eager checkpoint: the merged sketch derives from the table it
      // truncate-replaces.
      val merged = ops.kmvMergeSketch(prev.unionByName(newSk),
          Seq(col(groupField)), k)
        .localCheckpoint(true)
      warehouse.load(LoadMode.TruncateInsert, sketchTable, merged,
        groupField)
    }

  /** Continuously-maintained IVF-PQ coded index — FAISS's "add" phase
    * as a stream: each micro-batch of new vectors is coarse-bucketed and
    * PQ-coded against the SERVED trained quantizers (coarse centroids +
    * residual sub-codebooks, both model-store artifacts) and the
    * `(id, cent_id, codes, qfp)` rows are appended to the index table;
    * the store grows by m small codes per vector — the PQ memory
    * contract, maintained incrementally. Replay-safe: at-least-once
    * redelivery is anti-joined away against the stored ids, so the
    * index never holds duplicate codings (the ccLabelStream guard).
    *
    * Quantizers follow the COMMITTED drift-threshold retrain
    * policy — the round-16 weak mark's fix wired end-to-end: frozen
    * quantizers are correct per batch but collapse across size decades
    * (measured at 100×: per-probe 2.8 → 61 ms, recall@5 0.338 → 0.013
    * against 1×-trained centroids), while fingerprint-keyed getOrTrain
    * retrains on EVERY append. Here each batch:
    *
    *   1. appends its new vectors to `corpusTable` (the raw-vector
    *      system of record — a real pipeline has this table anyway),
    *   2. resolves the quantizer pair through
    *      [[graft.io.ModelStore.getOrTrainDrifted]] keyed on the
    *      corpus table's live data dir (metadata-only stat): the
    *      SERVED artifacts stay frozen inside a size decade and
    *      retrain when bytes exceed
    *      [[graft.io.ModelStore.DriftRetrainFactor]] × the trained
    *      point — auto-C and auto-rerank re-derive with them,
    *   3. codes ONLY the vectors the index is missing (batch
    *      anti-joined against the index table, the replay guard above
    *      — so a crash between the corpus append and the index append
    *      self-heals on redelivery) — unless
    *      this batch CROSSED a decade, in which case the whole index
    *      is recoded under the new quantizers in one TruncateInsert
    *      (corpus-scale work on a log₂-rare event; every index row
    *      carries the quantizer fingerprint `qfp` it was coded under,
    *      so a mixed-generation index is structurally impossible and
    *      a crash between retrain and recode self-heals on replay).
    *
    * The quantizer generation the index serves is re-read per batch
    * from the index itself (`qfp`), never cached across batches.
    * Training derives C/codebooks from the FULL corpus table at
    * retrain time; `m`·`subDim` must equal the vector dimension.
    *
    * Since the r19 default flip the index codes RESIDUALS
    * (`vec − coarse_centroid`, [[graft.operators.SimilarityOps
    * .ivfPqResidualIndex]]) and is served by `ivfPqResidualSearch`:
    * residual coding under the auto-C/auto-rerank policy measured
    * strictly better recall at strictly lower per-probe cost than the
    * raw coder at 1×, 10× and 100× (SCALING.md round-19 ledger pair). */
  def pqIndexStreamDrifted(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      corpusTable: TableRef,
      indexTable: TableRef,
      modelStore: graft.io.ModelStore,
      artifactPrefix: String,
      m: Int,
      subDim: Int,
      ks: Int,
      kmeansIters: Int,
      idField: String,
      checkpointDir: String,
      driftFactor: Double = graft.io.ModelStore.DriftRetrainFactor): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch =>
      pqIndexBatchDrifted(spark, warehouse, corpusTable, indexTable,
        modelStore, artifactPrefix, m, subDim, ks, kmeansIters, idField,
        driftFactor)(batch)
    }

  /** One micro-batch of [[pqIndexStreamDrifted]] — the committed
    * per-batch body, extracted so StreamingSpec's crash-heal and
    * coder-migration specs drive the EXACT code path the stream runs
    * (DataFrame batches instead of the JSON stream plumbing, which the
    * stream spec covers). Returns true iff this batch
    * RETRAINED (recoded the whole index under a new quantizer
    * generation). */
  private[graft] def pqIndexBatchDrifted(
      spark: SparkSession,
      warehouse: ParquetWarehouse,
      corpusTable: TableRef,
      indexTable: TableRef,
      modelStore: graft.io.ModelStore,
      artifactPrefix: String,
      m: Int,
      subDim: Int,
      ks: Int,
      kmeansIters: Int,
      idField: String,
      driftFactor: Double)(batch0: DataFrame): Boolean = {
    val ops = graft.operators.SimilarityOps
    val batch = onePerId(batch0, idField)
    // Replay/dup guard against the system of record, then append —
    // the corpus table is committed FIRST (its presence is what the
    // index is rebuilt from; index-first + crash would strand coded
    // rows with no raw vectors behind them, CONTRACTS §8c order).
    val fresh = notIn(warehouse, batch.select(col(idField), col("vec")),
      corpusTable, idField)
    if (warehouse.exists(corpusTable))
      warehouse.load(LoadMode.Insert, corpusTable, fresh, idField)
    else warehouse.create(corpusTable, fresh)
    // Metadata-only size/identity stat of the live corpus files.
    val stat = graft.io.ModelStore.corpusStat(warehouse.liveFiles(corpusTable))
    val corpus = warehouse.table(corpusTable)
      .select(col(idField), col("vec"))
    val cents = modelStore.getOrTrainDrifted(
        s"${artifactPrefix}_coarse", stat, driftFactor) {
      val initial = ops.ivfCentroids(corpus, 0, idField)
        .select(col("cent_id"),
          transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      graft.operators.ClusterOps.kmeans(corpus, initial, kmeansIters, idField)
    }
    // r19 default flip: the streamed index serves RESIDUAL coding (the
    // measured-best configuration at 1x/10x/100x — SCALING.md round-19).
    // Residual books are a function of the coarse quantizer, so the
    // train closure captures `cents` (the generation getOrTrainDrifted
    // just served or trained): both artifacts key on the same corpus
    // stat and drift factor, so their retrain decisions coincide; if a
    // crash ever tears the pair across generations, search stays
    // SELF-CONSISTENT (coding and LUTs read the same stored books and
    // cents) and the books are merely one decade stale until the next
    // drift crossing retrains both.
    //
    // CODER IDENTITY IS PART OF THE GENERATION (r20, ADVICE r19): the
    // books artifact name carries the coder (`_books_res`, never the
    // pre-r19 raw `_books` key — a raw-trained artifact persisted
    // before the flip can therefore never be served to the residual
    // coder), and the generation fingerprint written to every index
    // row is `res1:<coarse fp>` rather than the bare coarse
    // fingerprint. A warehouse/checkpoint persisted under the pre-flip
    // RAW coder stores bare-fp qfp rows, so the first post-flip batch
    // MISMATCHES below and takes the full-recode branch — without the
    // tag it would silently append residual codes into a raw-coded
    // index (the mixed-coder state CONTRACTS §15 forbids: same schema,
    // no error, ADC applies residual LUTs to raw codes for every
    // pre-flip row).
    val books = modelStore.getOrTrainDrifted(
        s"${artifactPrefix}_books_res", stat, driftFactor)(
      ops.pqResidualCodebooks(corpus, cents, m, subDim, ks, kmeansIters,
        idField))
    val qfp = "res1:" + modelStore.servedFingerprint(s"${artifactPrefix}_coarse")
      .getOrElse(sys.error(s"no served quantizer for $artifactPrefix"))
    val indexedQfp =
      if (!warehouse.exists(indexTable)) None
      else warehouse.table(indexTable).select(col("qfp")).head(1)
        .headOption.map(_.getString(0))
    indexedQfp match {
      case Some(old) if old == qfp =>
        // Same quantizer generation: code the rows the INDEX is
        // missing. Anti-join the batch against the index table, not
        // against `fresh` — `fresh` is the corpus-table replay guard,
        // and after a crash between the corpus Insert and the index
        // Insert a replayed batch finds `fresh` empty while the index
        // still lacks the rows; deduping against the index itself
        // makes that window self-heal.
        val newRows = batch.select(col(idField), col("vec")).join(
          warehouse.table(indexTable).select(col(idField)),
          Seq(idField), "left_anti")
        val coded = ops.ivfPqResidualIndex(newRows, cents, books, subDim,
            idField)
          .withColumn("qfp", lit(qfp)).localCheckpoint(true)
        warehouse.load(LoadMode.Insert, indexTable, coded, idField)
        false
      case _ =>
        // First build, or this batch crossed a drift decade: recode
        // the ENTIRE corpus under the served quantizers (one atomic
        // swap — readers see the old index until the pointer moves).
        val coded = ops.ivfPqResidualIndex(corpus, cents, books, subDim,
            idField)
          .withColumn("qfp", lit(qfp)).localCheckpoint(true)
        if (warehouse.exists(indexTable))
          warehouse.load(LoadMode.TruncateInsert, indexTable, coded, idField)
        else warehouse.create(indexTable, coded)
        true
    }
  }

  /** Incremental boilerplate-dictionary maintenance — keeps the
    * [[graft.operators.TextOps.boilerplateDict]] artifact fresh as the
    * corpus grows, without ever re-tiling old documents: each batch's
    * NEW docs are tiled once, their per-tile distinct-doc counts are
    * summed into the persisted counts, and the scrub dictionary is the
    * `kind='tile' AND df >= minDf` view of the state at read time.
    * Counts below the threshold must be KEPT (they may cross it later),
    * so the state is tile-vocabulary + processed-ids sized.
    *
    * Crash-safety: tile counts and the processed-ids replay guard live
    * in ONE state table committed by ONE TruncateInsert (an atomic
    * version-pointer swap) — with two tables, a crash between the two
    * commits either double-counts the batch's tiles on replay (counts
    * first) or permanently under-counts them (guard first); both
    * silently corrupt df and therefore what the scrub deletes. Rows are
    * `(kind='tile', k=tile_hash, df)` ∪ `(kind='doc', k=doc_id, df=0)`.
    * `k` is stored as STRING on BOTH branches (explicit casts): the id
    * column's type varies by caller, and relying on union type-coercion
    * would silently widen the tile hashes along with it. Consumers
    * recover tile hashes with `col("k").cast("long")`.
    *
    * Disjointness of processed docs makes the incremental sum exact: a
    * doc contributes its distinct tiles to exactly one committed batch,
    * so summed per-batch df == corpus df (the parity spec's
    * contract). */
  def boilerDictStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      stateTable: TableRef,
      idField: String,
      textField: String,
      width: Int,
      checkpointDir: String): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch0 =>
      val batch = onePerId(batch0, idField)
      val state =
        if (warehouse.exists(stateTable)) warehouse.table(stateTable)
        else batch.select(lit("tile").as("kind"),
          col(idField).cast("string").as("k"), lit(0L).as("df")).limit(0)
      val fresh = batch.join(
          state.filter(col("kind") === "doc")
            .select(col("k").cast(batch.schema(idField).dataType).as(idField)),
          Seq(idField), "left_anti")
        .localCheckpoint(true) // derived from the table we overwrite
      // minDf=1: per-batch counts for EVERY tile of the fresh docs.
      val counts = graft.operators.TextOps.boilerplateDict(
          fresh, idField, textField, width, minDf = 1)
        .select(lit("tile").as("kind"),
          col("tile_hash").cast("string").as("k"), col("df"))
      val tiles = state.filter(col("kind") === "tile").unionByName(counts)
        .groupBy(col("kind"), col("k")).agg(sum(col("df")).as("df"))
      val docs = state.filter(col("kind") === "doc").unionByName(
        fresh.select(lit("doc").as("kind"),
          col(idField).cast("string").as("k"), lit(0L).as("df")))
      warehouse.load(LoadMode.TruncateInsert, stateTable,
        tiles.unionByName(docs).localCheckpoint(true), "k")
    }

  /** Quality-gated ingest: each micro-batch of documents is scored by
    * the PERSISTED trained quality model ([[graft.operators
    * .QualityModelOps]] weights from the model store — a 65-row frozen
    * broadcast; training never reruns here) and only docs with
    * `score >= 0` land in the corpus table. The trained-classifier
    * upgrade of a heuristic-thresholded ingest gate; scoring is one
    * feature projection + one aggregation per batch. Streamed kept set
    * == the batch filter over the same docs (frozen weights make the
    * gate a pure per-doc function — the parity spec's contract). */
  def qualityGateStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      weights: DataFrame,
      idField: String,
      textField: String,
      checkpointDir: String): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch0 =>
      val batch = onePerId(batch0, idField)
      val ops = graft.operators.QualityModelOps
      val kept = ops.scores(
          ops.hashedFeatures(batch, idField, textField), weights, idField)
        .filter(col("score") >= 0)
        .select(col(idField))
      warehouse.load(LoadMode.Upsert, table,
        batch.join(kept, idField).localCheckpoint(true), idField)
    }

  /** The COMPOSED continuous curation pipeline — the streaming twin of
    * the batch `crawl_curation_pipeline` gate query's filtering stages,
    * in one micro-batch pass with cheapest-stage-first ordering
    * (RefinedWeb recipe; reference streams are single-purpose, this is
    * the north-star composition):
    *
    *   1. canonical-URL reject (exact, one equi-join vs the persisted
    *      key store + within-batch keep-lowest) — before any text work;
    *   2. boilerplate scrub against the FROZEN trained dictionary
    *      (train-once/scrub-many split — the dict is a ModelStore
    *      artifact, never retrained per batch);
    *   3. heuristic quality gate on the SCRUBBED text
    *      (`qualityScore >= qualityMin` — same expression as the batch
    *      pipeline, so chrome can never buoy a page's score);
    *   3b. (when `evalSet` is given) benchmark decontamination on the
    *      scrubbed text: docs whose distinct word-`contamN`-gram overlap
    *      with the FROZEN held-out set reaches `maxContamFrac` are
    *      rejected ([[graft.operators.TextOps.contaminationFraction]] —
    *      eval grams are benchmark-sized and broadcast; the corpus side
    *      is one batch-sized explode). Runs on clean text so shared
    *      boilerplate can't trigger false hits, and before shingling so
    *      rejected docs never pay for signatures;
    *   4. MinHash near-dup reject vs the persisted signature store and
    *      within the batch (signatures over clean_text — the same text
    *      future comparisons see). With `verifyExact` the est-passing
    *      pairs are re-checked against their TRUE shingle Jaccard
    *      before rejecting — the precision companion of the recall
    *      contract, justified by a measured estimator false positive
    *      at 8×10¹⁰ implicit pair tests (see
    *      [[graft.operators.DedupOps.exactShingleJaccard]]).
    *
    * Store semantics, chosen for the 100 TB crawl case: the KEY store
    * claims every first-seen canonical URL — including pages that then
    * die at quality, decontamination, or near-dup — so a page judged
    * once is re-rejected at the cheapest stage forever (its later
    * surface variants never re-scrub or re-shingle). Corpus and
    * signature stores hold only fully-curated survivors. Per-batch work
    * is O(batch): one key
    * equi-join, batch-sized scrub/score projections, and the banded
    * candidate join whose corpus side is [[graft.operators.DedupOps
    * .minhashCandidatesAgainst]]'s capped buckets.
    *
    * Replay safety is per-table as in the single-stage streams: each
    * store is guarded against its own ids, so full or partial replays
    * (crash between the three inserts) heal instead of duplicating —
    * and a key claimed by a later-rejected doc on run 1 correctly
    * keeps rejecting on replay. The insert ORDER is the load-bearing
    * part (the [[urlKeyRejectStream]] invariant, here with three
    * tables): the key store — the only store whose presence REJECTS at
    * stage 1 — commits LAST, so no crash can leave a doc's URL claimed
    * while its corpus/signature rows are missing. A replayed doc whose
    * key is absent re-passes stage 1 and either re-survives (stage-4
    * store sigs don't hold it yet) into guarded zero-or-missing-row
    * appends, or is vs-store-rejected by its own already-committed
    * signature — in both cases the three stores converge to the
    * fully-committed state. Were keys committed first, a crash before
    * the corpus insert would make the replay URL-reject its own
    * survivors and lose their rows forever.
    *
    * StreamingSpec checks exact per-store growth, the scrub, replay
    * appending nothing, zero leaked blocks and a per-batch job count
    * that does not grow with the stores (CURATION_STREAM_PROBE.json
    * records the 1 M-corpus run). */
  def curationIngestStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      warehouse: ParquetWarehouse,
      table: TableRef,
      keyTable: TableRef,
      sigTable: TableRef,
      boilerDict: DataFrame,
      idField: String,
      urlField: String,
      textField: String,
      qualityMin: Double,
      minEst: Double,
      checkpointDir: String,
      tileWidth: Int = 8,
      minDf: Int = 20,
      bands: Int = graft.operators.DedupOps.Bands,
      evalSet: Option[DataFrame] = None,
      contamN: Int = 8,
      maxContamFrac: Double = 0.05,
      verifyExact: Boolean = false): StreamingQuery =
    runStream(spark, srcDir, schema, checkpointDir) { batch =>
      // --- stage 1: canonical-URL reject (keyless docs are never
      // URL-deduped, see `blank`); the survivors feed the key store AND
      // stages 2-4.
      val urlSurvivors = urlStage(warehouse, batch, keyTable, idField,
        urlField)
      // --- stage 2+3: scrub against the frozen dict, gate on the
      // scrubbed text. Only URL survivors pay for text processing.
      val scrubbed = graft.operators.TextOps.boilerplateScrubText(
          urlSurvivors.select(col(idField), col(textField)),
          idField, textField, tileWidth, minDf, Some(boilerDict))
        .select(col(idField), col("clean_text"))
      // Zero-content reject rides with the quality gate: a page that
      // scrubs to nothing must never become a corpus row, but
      // `qualityScore` rates the empty token list 0.30 (the
      // diversity term is 1 of 1 distinct) — above any practical
      // threshold. The batch report queries keep the raw score
      // semantics (they aggregate, they don't store); a STORE refuses
      // empty rows explicitly.
      val gated = scrubbed
        .filter(!blank(col("clean_text")) &&
          graft.functions.TextFunctions.qualityScore(
            col("clean_text")) >= qualityMin)
      // --- stage 3b: benchmark decontamination (like `boilerDict`,
      // `evalSet` is a FROZEN driver-sized input — see the probe's
      // storage-hygiene lesson on materializing such frames).
      val qualified = (evalSet match {
        case Some(ev) => gated.join(
          graft.operators.TextOps.contaminationFraction(gated,
              // evalSet carries the caller's (idField, textField)
              // schema like the input docs; align to clean_text.
              ev.select(col(idField), col(textField).as("clean_text")),
              idField, "clean_text", contamN)
            .filter(col("frac") >= maxContamFrac).select(col(idField)),
          Seq(idField), "left_anti")
        case None => gated
      }).localCheckpoint(true) // both sides of the within-batch join
      // --- stage 4: near-dup reject on clean_text (signatures over the
      // text future comparisons see; `verifyExact` re-checks est-passing
      // pairs on their true Jaccard, see nearDupCandidates).
      val (sigArr, rejected) = nearDupRejects(warehouse, qualified, table,
        sigTable, idField, "clean_text", minEst, bands, verifyExact)
      val survivors = urlSurvivors
        .join(qualified.join(rejected, Seq(idField), "left_anti"), idField)
        .localCheckpoint(true)
      // --- guarded appends, §8c order: corpus → sigs → keys (the
      // stage-1-gating key store commits LAST, see scaladoc).
      warehouse.load(LoadMode.Insert, table,
        notIn(warehouse, survivors, table, idField).drop(textField), idField)
      warehouse.load(LoadMode.Insert, sigTable,
        sigArr.join(notIn(warehouse, survivors, sigTable, idField)
          .select(col(idField)), Seq(idField), "left_semi"), idField)
      warehouse.load(LoadMode.Insert, keyTable,
        notIn(warehouse, urlSurvivors, keyTable, idField)
          .filter(!blank(col("canonical_url")))
          .select(col("canonical_url"), col(idField)), idField)
    }

  /** Event-time windowed aggregation with a watermark — the streaming
    * form of [[graft.operators.AnalyticOps.tumblingAgg]] (same expression
    * tree; late rows beyond the watermark are dropped instead of
    * recomputed). */
  def windowedCounts(
      stream: DataFrame, ts: String, width: String, watermark: String): DataFrame =
    stream
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Stateful gap-based sessionization over a stream — the custom-state
    * form of the reference-free sessionize family, via
    * `flatMapGroupsWithState` with an EVENT-TIME timeout:
    *
    *   - per user, events extend the open session while the
    *     second-floored gap stays ≤ `gapMinutes` (the same
    *     `unix_timestamp` gap test as the batch
    *     [[graft.operators.AnalyticOps.sessionize]]);
    *   - a larger gap closes the session and emits it inline;
    *   - the final open session emits when the watermark passes
    *     session_end + gap (the timeout path — requires a running
    *     stream; under `Trigger.AvailableNow` each user's last session
    *     stays open, exactly like a real endless stream).
    *
    * Events must arrive time-ordered per user across micro-batches
    * (within a batch they are sorted here); watermark-late stragglers
    * fold into the open session without extending it. For fully
    * unordered data use the native `session_window` aggregation instead
    * (`session_window_30m` in SparkEntry) — this operator is the
    * arbitrary-custom-state template (counters, cart state, fraud
    * windows, ...), sessionization being the demonstrator. */
  def sessionizeStream(events: Dataset[SessEvent], gapMinutes: Int,
      watermark: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapSec = gapMinutes * 60L
    def sec(t: Timestamp): Long = t.getTime / 1000L // floor ≡ unix_timestamp
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessAccum, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessEvent], state: GroupState[SessAccum]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startTs, s.endTs, s.n))
          } else {
            val evs = it.toIndexedSeq.sortBy(e => (sec(e.ts), e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              cur = cur match {
                case Some(s) if sec(e.ts) <= sec(s.endTs) => // late straggler
                  Some(s.copy(n = s.n + 1))
                case Some(s) if sec(e.ts) - sec(s.endTs) <= gapSec =>
                  Some(s.copy(endTs = e.ts, n = s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.startTs, s.endTs, s.n)
                  Some(SessAccum(e.ts, e.ts, 1L))
                case None =>
                  Some(SessAccum(e.ts, e.ts, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((sec(s.endTs) + gapSec + 1) * 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-static enrichment: join a stream against a batch dimension
    * table (the lookup-join every event pipeline needs). The static side
    * is re-planned per micro-batch, so a dimension refreshed in place
    * (e.g. a warehouse version swap) is picked up without restarting the
    * query; Catalyst broadcasts it when it fits. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String, how: String = "left"): DataFrame =
    stream.join(dim, Seq(key), how)

  /** Streaming as-of join (the temporal-join shape Flink calls a
    * versioned-table join; Spark has no built-in): for each left event,
    * the most recent right event with `rts <= lts` on the same key —
    * identical matching to [[graft.operators.AnalyticOps.asofJoin]] and
    * [[graft.plans.AsOfJoinExec]], but continuous. Events inside the
    * watermark horizon are buffered in state; once the watermark passes
    * them they are processed in exact (time, side, id) order, so
    * out-of-order arrival within the horizon cannot change results.
    * State per key = the pending slice + one rid (the running match) —
    * right-side history older than the watermark collapses to a single
    * value instead of accumulating. */
  def asofJoinStream(left: DataFrame, right: DataFrame,
      key: String, lts: String, rts: String,
      leftId: String, rightId: String,
      watermark: String): Dataset[AsOfMatch] = {
    import left.sparkSession.implicits._
    def mic(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val l = left.select(col(key).as("k"), col(lts).as("ts"),
      lit(1).as("side"), col(leftId).as("id"))
    val r = right.select(col(key).as("k"), col(rts).as("ts"),
      lit(0).as("side"), col(rightId).as("id"))
    l.unionByName(r).as[AsOfEv]
      .withWatermark("ts", watermark)
      .groupByKey(_.k)
      .flatMapGroupsWithState[AsOfBuf, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[AsOfEv], state: GroupState[AsOfBuf]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val prior = state.getOption.getOrElse(AsOfBuf(Nil, None))
          val (ready, pending) = (prior.pending ++ it.toSeq)
            .partition(_.ts.getTime <= wmMs)
          var last = prior.lastRid
          val out = Seq.newBuilder[AsOfMatch]
          ready.sortBy(e => (mic(e.ts), e.side, e.id)).foreach { e =>
            if (e.side == 0) last = Some(e.id)
            else out += AsOfMatch(e.id, k, e.ts, last)
          }
          state.update(AsOfBuf(pending, last))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.map(_.ts.getTime).min, wmMs + 1))
          out.result().iterator
      }
  }

  /** Per-user running event counts on the Spark 4 `transformWithState`
    * API (see [[RunningCountProcessor]]). Requires the RocksDB state
    * store provider:
    * `spark.sql.streaming.stateStore.providerClass=
    *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`. */
  def runningCountsTws(events: Dataset[SessEvent])
      : Dataset[UserRunningCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming exact dedup: drop rows whose dedup key was already seen,
    * ACROSS micro-batches — Spark keeps the seen-key set as streaming
    * state, and the watermark bounds it (keys older than the watermark
    * are evicted, so state size tracks the dedup horizon, not the full
    * history — the streaming twin of [[graft.operators.DedupOps.exact]]
    * for continuous ingest). `keyCols` is typically a content
    * fingerprint (e.g. `TextFunctions.fingerprint`). */
  def dedupStream(stream: DataFrame, ts: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    stream.withWatermark(ts, watermark)
      .dropDuplicates(keyCols :+ ts)

  /** Watermarked stream-stream interval join: right-side rows within
    * `[lts, lts + maxDelaySec]` of a left row with the same key — the
    * streaming twin of the batch interval join
    * (`interval_join_click_purchase`). The watermarks + time-range
    * constraint bound the join state Spark must retain (without them a
    * stream-stream inner join would buffer both streams forever). */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      lts: String, rts: String, maxDelaySec: Long,
      watermark: String): DataFrame = {
    val l = left.withWatermark(lts, watermark)
    val r = right.withWatermark(rts, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rts) >= l(lts) &&
        r(rts) <= l(lts) + expr(s"INTERVAL $maxDelaySec SECONDS"))
      .drop(r(key))
  }
}
