package graft.exec

import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.graftshim.GraftScheduler
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.core._
import graft.io.{ParquetWarehouse, StagedUpload, StagingWriter}
import graft.sql.{CopyCredentials, CopySqlBuilder}

/** Load-lifecycle events (reference EventEmitter surface, SURVEY.md §2.6 O1:
  * `progress` / `error` / `done`). */
trait LoadListener {
  def onProgress(task: String, info: Map[String, String]): Unit = ()
  def onError(e: Throwable): Unit = ()
  def onDone(): Unit = ()
}
object LoadListener { object Silent extends LoadListener }

/** One load job — the Spark restatement of the reference's `RedshiftLoader`
  * lifecycle (SURVEY.md §3):
  *
  *   1. `addBody` submits each body's staging write and returns its upload
  *      handle at once (the reference starts its S3 multipart upload at
  *      `addFile` time and returns the task, RedshiftLoader.ts:135-193).
  *      Bodies stage concurrently, one write each, on a daemon pool of at
  *      most `defaultParallelism` threads owned by the load. Single-shot:
  *      bodies added after the load starts are warned and dropped
  *      (`_started` latch, :137-142, X5).
  *   2. `insert()` / `truncInsert()` / `upsert()` first wait for every
  *      handle, in body order (the reference's `await
  *      Promise.all(uploadPromises)`, :281), then emit the manifest (L5),
  *      assemble the COPY/merge SQL (L6) for external-warehouse deployments,
  *      and run the NATIVE Spark execution of the load semantics against
  *      the warehouse (our engine's value-add; the reference delegates this
  *      to Redshift).
  *   3. Wrap-up: staging cleanup per policy (C1), listener events (O1).
  *      On failure: abort + policy-aware cleanup + `error` event (C2-C4).
  *
  * Listener calls are made one at a time, under the load's lock, whichever
  * thread they come from, so a [[LoadListener]] needs no synchronization.
  */
final class Loader(
    spark: SparkSession,
    cfg: LoaderConfig,
    warehouse: ParquetWarehouse,
    stagingRoot: String,
    executor: Option[SqlExecutor] = None,
    creds: CopyCredentials = CopyCredentials.None,
    listener: LoadListener = LoadListener.Silent,
    txnRunner: RetryingTxnRunner = new RetryingTxnRunner(),
    initialBodies: Seq[DataFrame] = Nil) {

  val jobTime: String = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd_HHmmss")
    .withZone(java.time.ZoneOffset.UTC)
    .format(java.time.Instant.now()) // reference's luxon jobTime, RedshiftLoader.ts:10-12
  val uuid: String = java.util.UUID.randomUUID().toString.take(8)

  private val staging = new StagingWriter(spark, stagingRoot, cfg, jobTime, uuid)
  /** Every added body with its format and upload handle, in body order.
    * Its lock also guards the single-shot latch: a body is either in the
    * snapshot `start()` takes or refused. */
  private val pending = mutable.Buffer.empty[(DataFrame, String, Future[StagedUpload])]
  private var started = false
  @volatile private var aborted = false
  /** The first staging failure, in time: the cause `start()` rethrows. */
  private val failure = new AtomicReference[Throwable]

  /** Spark job tag of this load's staging and load jobs. A tag adds to
    * whatever job group the caller runs in (a `foreachBatch` stream's). */
  private val jobTag = s"graft-load-$uuid"

  /** The staging writes' threads: daemons, at most `defaultParallelism`,
    * idle ones exit after a second; shut down at wrap-up or abort. */
  private val pool = {
    val (n, threads) = (spark.sparkContext.defaultParallelism, new AtomicInteger)
    val p = new ThreadPoolExecutor(n, n, 1L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"$jobTag-stage-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  private def debug(msg: => String): Unit = if (cfg.debug) println(s"[graft] $msg")

  /** One listener call at a time, whichever thread makes it. */
  private def emit(f: LoadListener => Unit): Unit = synchronized(f(listener))

  /** Validate one body and submit its staging write (upload-at-add, S4).
    * Returns the body's upload handle at once, or None if the job already
    * started or was aborted (warn-and-drop, X5). A `json` body holding a
    * map with non-string keys is rejected here, before anything is
    * submitted.
    *
    * The write runs on the load's pool under the caller's local properties
    * (`SQLExecution.withThreadLocalCaptured`: a `foreachBatch` execution
    * id, a tracer's tag, the job group), plus the load's job tag. A failed
    * write cancels the load's other jobs and fails its handle; `start()`
    * rethrows it.
    *
    * Progress (O3, the reference's per-upload `progress` events,
    * RedshiftLoader.ts:147-151): once the write returns, one
    * `uploadProgress` per staged file and then `uploadedFile`, with the
    * byte counts of the writer's own listing of the committed files, both
    * sent before the handle completes. */
  def addBody(df: DataFrame, format: String = "json"): Option[Future[StagedUpload]] =
    pending.synchronized {
      if (started || aborted) {
        debug(s"addBody after start or abort ignored")
        None
      } else {
        StagingWriter.requireStageable(df.schema, format)
        val idx = pending.size
        val upload = Promise[StagedUpload]()
        SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool) {
          try upload.success(stage(df, idx, format))
          catch { case e: Throwable => upload.failure(e) }
        }
        pending += ((df, format, upload.future))
        Some(upload.future)
      }
    }

  def addBodies(dfs: Seq[DataFrame], format: String = "json"): Seq[Future[StagedUpload]] =
    dfs.flatMap(addBody(_, format))

  def insert(): String = start(LoadMode.Insert)
  def truncInsert(): String = start(LoadMode.TruncateInsert)
  def upsert(): String = start(LoadMode.Upsert)

  /** Cancel + immediate staging cleanup (C2/C3): cancels this load's
    * running jobs and drops bodies not yet started, waits (bounded) until
    * no task of the load runs, then deletes the staging job directory. */
  def abort(): Unit = {
    pending.synchronized { aborted = true }
    spark.sparkContext.cancelJobsWithTag(jobTag)
    quiesce()
    pool.shutdown()
    staging.deleteAll()
    emit(_.onProgress("aborted", Map.empty))
  }

  /** Body `idx`'s staging write, on a pool thread. */
  private def stage(df: DataFrame, idx: Int, format: String): StagedUpload = {
    def abortedWhile(what: String) = new IllegalStateException(
      s"load of ${cfg.table.qualified} aborted while body $idx was $what")
    if (aborted) throw abortedWhile("queued")
    val sc = spark.sparkContext
    try {
      sc.addJobTag(jobTag)
      val up = staging.writeBody(df, idx, format, cfg.copySettings.gzip)
      if (aborted) throw abortedWhile("staging")
      up.bytes.foreach(len => emit(_.onProgress("uploadProgress", Map(
        "index" -> idx.toString, "bytes" -> len.toString))))
      emit(_.onProgress("uploadedFile", Map(
        "index" -> up.index.toString,
        "files" -> up.files.size.toString,
        "bytes" -> up.bytes.sum.toString) ++
        up.files.zip(up.bytes).map { case (f, len) =>
          s"bytes.${new org.apache.hadoop.fs.Path(f).getName}" -> len.toString }))
      up
    } catch {
      case e: Throwable =>
        // Failure fan-out (C4): the first failure cancels its siblings.
        if (!aborted && failure.compareAndSet(null, e)) sc.cancelJobsWithTag(jobTag)
        throw e
    } finally sc.removeJobTag(jobTag)
  }

  /** Wait, at most [[Loader.QuiesceWaitS]] in all, until every handle has
    * settled and no task of this load's jobs runs: a cancelled task runs
    * on until it next checks for the kill, and would recreate its
    * directories under a job directory deleted before it ends. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(Loader.QuiesceWaitS)
    def left = math.max(0L, deadline - System.nanoTime())
    pending.synchronized(pending.toList).foreach { case (_, _, h) =>
      try Await.ready(h, Duration.fromNanos(left)) catch { case _: TimeoutException => () }
    }
    val sc = spark.sparkContext
    // The status store must have seen the jobs' starts before it is asked.
    try GraftScheduler.drainListenerBus(sc) catch { case _: TimeoutException => () }
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(jobTag).exists(j => st.getJobInfo(j).exists(
      _.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))))
    while (running && left > 0) Thread.sleep(10)
  }

  /** The `Promise.all` barrier: wait for every handle of `bodies`, and
    * return the uploads with their formats in body order; if any write
    * failed, wait for the load's tasks to end and throw the first failure. */
  private def awaitUploads(
      bodies: Seq[(DataFrame, String, Future[StagedUpload])]): Seq[(StagedUpload, String)] = {
    val settled = bodies.map { case (_, format, h) =>
      (Await.ready(h, Duration.Inf).value.get, format)
    }
    settled.collectFirst { case (Failure(e), _) => e }.foreach { e =>
      quiesce()
      throw Option(failure.get).getOrElse(e)
    }
    settled.map { case (up, format) => (up.get, format) }
  }

  private def start(mode: LoadMode): String = {
    // The latch and the snapshot in one step: a body added concurrently is
    // either in `bodies` (and so in the manifest and the load) or refused.
    val bodies = pending.synchronized {
      require(pending.nonEmpty, "no files added") // X6 assert, :277
      started = true
      pending.toList
    }
    try {
      val staged = awaitUploads(bodies)
      spark.sparkContext.addJobTag(jobTag)
      // Manifest: atomic multi-file visibility (L5). Failure propagates
      // (quirk C6 intentionally not replicated).
      val manifestPath = staging.writeManifest(staged.map(_._1))
      emit(_.onProgress("uploadedManifest", Map("path" -> manifestPath)))

      // External-warehouse SQL (the reference's whole job): assembled always,
      // executed only when an executor is configured.
      val q = CopySqlBuilder.makeQueries(cfg, mode, manifestPath, creds, jobTime, uuid)
      executor.foreach(e => txnRunner.run(e, q.q, q.cleanUp))

      // Native Spark execution of the load semantics (our engine): load
      // exactly the files the manifest lists, read back in their staged
      // format with the first body's schema — the reference's COPY from
      // a manifest. Each body is evaluated once, at staging; a
      // non-deterministic body can therefore never load rows that
      // differ from what was staged. `observe` piggybacks row/byte
      // counters on the load job itself — the reference's per-task
      // progress events (O1) without a second pass over the data.
      val observation = new org.apache.spark.sql.Observation(s"load-$uuid")
      val schema = bodies.head._1.schema
      val stagedDf = staged.groupMap(_._2)(_._1.files).toSeq
        .map { case (format, files) =>
          spark.read.schema(schema).format(format)
            .options(StagingWriter.stageOptions(format))
            .load(files.flatten.toSeq: _*)
        }
        .reduce(_ unionByName _)
        .observe(observation,
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows_loaded"))
      // X2 end-to-end: a lost concurrent-writer race (retryable
      // ConcurrentWriteException) re-commits the written rows against
      // the new current version on the reference's 1 s·3ⁿ schedule —
      // two racing Loaders both land (core.ts:49-53 parity).
      warehouse.loadWithRetry(mode, cfg.table, stagedDf, cfg.idField)
      observation.getAsJava.forEach((k, v) =>
        emit(_.onProgress("loadedMetrics", Map(k -> String.valueOf(v)))))

      wrapUp(success = true)
      emit(_.onProgress("done", Map.empty))
      emit(_.onDone())
      "SUCCESS"
    } catch {
      case e: Throwable =>
        emit(_.onError(e))
        wrapUp(success = false)
        throw e
    } finally {
      spark.sparkContext.removeJobTag(jobTag)
      pool.shutdown()
    }
  }

  // Constructor-time bodies (reference parity: `new RedshiftLoader(options)`
  // stages `options.body`/`options.bodies` immediately —
  // RedshiftLoader.ts:122): submitted exactly as explicit addBody calls,
  // and staged (events sent) before the constructor returns; a
  // failed one is rethrown by `start()`.
  initialBodies.flatMap(addBody(_)).foreach(Await.ready(_, Duration.Inf))

  /** Staging cleanup per policy (C1: ALWAYS / SUCCESS / NEVER), then the
    * optional auto-compaction hook: after a SUCCESSFUL load leaves the
    * live version fragmented past `maxFiles`, rewrite it to
    * `targetFiles` (z-order-clustered when configured) — small
    * incremental appends are the normal ingest shape, and without this
    * the file count grows per load until scan planning degrades. Same
    * atomic version swap as the load itself. */
  private def wrapUp(success: Boolean): Unit = {
    val doClean = cfg.cleanup match {
      case CleanupPolicy.Always    => true
      case CleanupPolicy.OnSuccess => success
      case CleanupPolicy.Never     => false
    }
    if (doClean) {
      staging.deleteAll()
      emit(_.onProgress("deleteObjects", Map("dir" -> staging.jobDir)))
    }
    if (success) cfg.autoCompact.foreach { ac =>
      val before = warehouse.dataFiles(cfg.table).size
      if (before > ac.maxFiles) {
        ac.zorderBy match {
          case Some((x, y)) => warehouse.compactZorder(cfg.table, x, y, ac.targetFiles)
          case None         => warehouse.compact(cfg.table, ac.targetFiles)
        }
        val after = warehouse.dataFiles(cfg.table).size
        emit(_.onProgress("compacted", Map(
          "table" -> cfg.table.qualified,
          "filesBefore" -> before.toString,
          "filesAfter" -> after.toString)))
      }
    }
  }
}

object Loader {
  /** Bound on waiting for a cancelled or failed load's tasks to end. */
  private val QuiesceWaitS = 30L
}
