package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.exec._
import graft.io.{Ingest, Manifest, ParquetWarehouse}

/** Executor-side rendezvous for the specs that park a staging write: the
  * parking UDF holds a write mid-task until the test releases it.
  * local[*] executors share the JVM, so plain static latches work. */
object LoaderSpec {
  @volatile var writing: CountDownLatch = _
  @volatile var release: CountDownLatch = _

  final case class Item(id: Long, name: String)
}

/** Loader lifecycle parity tests — mirrors RedshiftLoader.spec.ts
  * (SURVEY.md §5): the 6-row fixture delivered as two NDJSON bodies, upload
  * counts, manifest content, cleanup policies, single-shot latch, and the
  * native execution of all three load modes against a parquet warehouse.
  */
class LoaderSpec extends AnyFunSuite with SparkSuite {

  /** The reference's TEST_ROWS (RedshiftLoader.spec.ts:46-58): ids 1-6,
    * mixed int/float `number`, epoch-millis `created_at` stepping daily from
    * 2017-01-01 UTC; rows 3-6 carry text 'UPSERT' and arrive as the second
    * body (spec:95-105). */
  private val day0 = 1483228800000L
  private def row(id: Int, n: Double, text: String) =
    s"""{"id":$id,"number":$n,"text":"$text","created_at":${day0 + id * 86400000L}}"""
  private val body1 = (1 to 2).map(i => row(i, 56.8, "sample")).mkString("\n")
  private val body2 = (3 to 6).map(i => row(i, 45, "UPSERT")).mkString("\n")

  private def tmp() = Files.createTempDirectory("graft-test").toString

  private def await[T](h: Future[T]): T = Await.result(h, 60.seconds)

  /** Fresh latches, and a UDF that parks its first call until released. */
  private def parking() = {
    LoaderSpec.writing = new CountDownLatch(1)
    LoaderSpec.release = new CountDownLatch(1)
    org.apache.spark.sql.functions.udf((x: Long) => {
      LoaderSpec.writing.countDown()
      LoaderSpec.release.await()
      x
    })
  }

  /** A started thread that lets the parked write go once its handle has
    * settled (a cancelled write fails its handle while its task is still
    * parked), or after a bound if it never settles or is never returned. */
  private def releaseWhenSettled(handle: Future[Future[graft.io.StagedUpload]]) = {
    val t = new Thread(() => {
      try Await.ready(handle.flatten, 30.seconds)
      catch { case _: java.util.concurrent.TimeoutException => () }
      LoaderSpec.release.countDown()
    })
    t.start()
    t
  }

  private def stagedFiles(stg: String) = Files.walk(java.nio.file.Paths.get(stg))
    .filter(Files.isRegularFile(_)).toArray.toSeq

  private class Recorder extends LoadListener {
    var progress = Vector.empty[String]
    var infos = Vector.empty[(String, Map[String, String])]
    var errors = 0
    var done = 0
    override def onProgress(task: String, info: Map[String, String]): Unit = {
      progress :+= task
      infos :+= (task -> info)
    }
    override def onError(e: Throwable): Unit = errors += 1
    override def onDone(): Unit = done += 1
  }

  private def mkLoader(
      cfg: LoaderConfig,
      wh: ParquetWarehouse,
      staging: String,
      listener: LoadListener = LoadListener.Silent,
      executor: Option[SqlExecutor] = None) =
    new Loader(spark, cfg, wh, staging, executor = executor, listener = listener,
      txnRunner = new RetryingTxnRunner(sleeper = _ => ()))

  test("insert: 2 bodies staged + 1 manifest; events fired (spec:108-115)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val rec = new Recorder
    val cfg = LoaderConfig(table = TableRef("", "target"),
      cleanup = CleanupPolicy.Never)
    val loader = mkLoader(cfg, wh, stg, rec)
    val ups = loader.addBodies(Seq(
      Ingest.ndjsonString(spark, body1), Ingest.ndjsonString(spark, body2))).map(await)
    assert(ups.size == 2 && ups.forall(_.files.nonEmpty))
    assert(loader.insert() == "SUCCESS")
    assert(rec.progress.count(_ == "uploadedFile") == 2)
    assert(rec.progress.count(_ == "uploadedManifest") == 1)
    assert(rec.done == 1 && rec.errors == 0)
    assert(wh.table(TableRef("", "target")).count() == 6)
    // observe-based metrics rode along with the load job (no extra pass)
    assert(rec.infos.collect {
      case ("loadedMetrics", m) => m("rows_loaded")
    } == Vector("6"))
    // manifest lists every staged file, mandatory:true (L5)
    val mf = Files.readString(java.nio.file.Paths.get(
      ups.head.dir).getParent.resolve(s"manifest_${loader.uuid}.json"))
    assert(Manifest.parseUrls(mf).size == ups.flatMap(_.files).size)
    assert(mf.contains("\"mandatory\":true"))
  }

  test("per-upload progress carries byte counts: task-level events + per-file sizes (O3)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val rec = new Recorder
    val cfg = LoaderConfig(table = TableRef("", "target"),
      cleanup = CleanupPolicy.Never)
    val loader = mkLoader(cfg, wh, stg, rec)
    val up = await(loader.addBody(Ingest.ndjsonString(spark, body1)).get)
    // Task-level streaming progress (the reference's managedUpload
    // 'progress' analogue): at least one event, with positive bytes and
    // the right body index.
    val streamed = rec.infos.collect { case ("uploadProgress", m) => m }
    assert(streamed.nonEmpty)
    assert(streamed.forall(m => m("index") == "0" && m("bytes").toLong > 0))
    // Completion event: exact per-file byte counts matching the staged
    // files on disk.
    val fileEv = rec.infos.collect { case ("uploadedFile", m) => m }.head
    assert(fileEv("bytes").toLong > 0)
    val perFile = up.files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getName -> p.getFileSystem(
        spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }
    perFile.foreach { case (name, len) =>
      assert(fileEv(s"bytes.$name").toLong == len, s"wrong bytes for $name")
    }
    assert(fileEv("bytes").toLong == perFile.map(_._2).sum)
  }

  test("addBody inside foreachBatch (a running SQL execution) reports every part promptly") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val (whDir, stg, src) = (tmp(), tmp(), tmp())
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, String])]
    val rec = new LoadListener {
      override def onProgress(task: String, info: Map[String, String]): Unit =
        events.add(task -> info)
    }
    val loader = mkLoader(LoaderConfig(table = TableRef("", "target"),
      cleanup = CleanupPolicy.Never), new ParquetWarehouse(spark, whDir), stg, rec)
    Files.write(java.nio.file.Paths.get(src, "a.json"), (body1 + "\n" + body2).getBytes("UTF-8"))
    val staged = new java.util.concurrent.atomic.AtomicReference[(graft.io.StagedUpload, Long)]
    spark.readStream.schema(Ingest.ndjsonString(spark, body1).schema).json(src)
      .writeStream.option("checkpointLocation", s"$stg/_ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val up = await(loader.addBody(batch.repartition(3)).get)
        staged.set(up -> (System.nanoTime() - t0) / 1000000L)
      }
      .start().awaitTermination()
    val (up, ms) = staged.get
    assert(ms < 10000, s"addBody took $ms ms")
    import scala.jdk.CollectionConverters._
    val streamed = events.asScala.toSeq.collect { case ("uploadProgress", m) => m }
    assert(streamed.size == up.files.size, s"${streamed.size} progress events, ${up.files.size} files")
    assert(streamed.forall(m => m("index") == "0" && m("bytes").toLong > 0))
    assert(streamed.map(_("bytes").toLong).sum == up.bytes.sum)
  }

  test("a slow listener on the shared bus does not delay addBody or its progress events") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    val (whDir, stg) = (tmp(), tmp())
    val rec = new Recorder
    val loader = mkLoader(LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Never),
      new ParquetWarehouse(spark, whDir), stg, rec)
    // Holds the shared listener queue from its first job end until released
    // (30 s at most), so nothing queued behind that event is delivered.
    val hold = new CountDownLatch(1)
    val slow = new SparkListener {
      private var first = true
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (first) { first = false; hold.await(30, TimeUnit.SECONDS) }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(slow)
    try {
      val up = scala.util.Try(
        Await.result(loader.addBody(Ingest.ndjsonString(spark, body1)).get, 20.seconds))
      assert(up.isSuccess, s"addBody did not stage behind a blocked listener: $up")
      val streamed = rec.infos.collect { case ("uploadProgress", m) => m }
      assert(streamed.forall(_("index") == "0"))
      assert(streamed.map(_("bytes").toLong) == up.get.bytes,
        s"progress $streamed for files of ${up.get.bytes} B")
      val fileEv = rec.infos.collect { case ("uploadedFile", m) => m }
      assert(fileEv.size == 1 && fileEv.head("bytes").toLong == up.get.bytes.sum)
      assert(rec.progress == Vector.fill(streamed.size)("uploadProgress") :+ "uploadedFile")
    } finally {
      hold.countDown()
      sc.removeSparkListener(slow)
    }
  }

  test("constructor-time bodies stage immediately: 2 bodies + manifest = 3 staged (spec:108-115)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val rec = new Recorder
    val cfg = LoaderConfig(table = TableRef("", "target"),
      cleanup = CleanupPolicy.Never)
    // Reference parity: new RedshiftLoader(options) stages options.bodies
    // at construction (RedshiftLoader.ts:122) — no explicit addBody calls.
    val loader = new Loader(spark, cfg, wh, stg, listener = rec,
      txnRunner = new RetryingTxnRunner(sleeper = _ => ()),
      initialBodies = Seq(
        Ingest.ndjsonString(spark, body1), Ingest.ndjsonString(spark, body2)))
    assert(rec.progress.count(_ == "uploadedFile") == 2)
    assert(loader.insert() == "SUCCESS")
    assert(rec.progress.count(_ == "uploadedManifest") == 1)
    assert(wh.table(TableRef("", "target")).count() == 6)
  }

  test("upsert merges on id; duplicate staged ids all land (L3 wart)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("", "target")
    wh.create(t, Ingest.ndjsonString(spark, body1 + "\n" + body2)) // 6 rows
    val cfg = LoaderConfig(table = t)
    val loader = mkLoader(cfg, wh, stg)
    // staged: two rows for id 3 (dup), one for id 99 (new)
    val staged = Ingest.ndjsonString(spark,
      Seq(row(3, 1.0, "A"), row(3, 2.0, "B"), row(99, 3.0, "C")).mkString("\n"))
    loader.addBody(staged)
    assert(loader.upsert() == "SUCCESS")
    val out = wh.table(t)
    assert(out.count() == 8) // 6 - 1 deleted + 3 staged
    assert(out.filter("id = 3").count() == 2) // both dups land
    assert(out.filter("id = 99").count() == 1)
  }

  test("truncInsert replaces the table (L2)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("", "target")
    wh.create(t, Ingest.ndjsonString(spark, body1 + "\n" + body2))
    val loader = mkLoader(LoaderConfig(table = t), wh, stg)
    loader.addBody(Ingest.ndjsonString(spark, row(7, 1.5, "only")))
    loader.truncInsert()
    val out = wh.table(t)
    assert(out.count() == 1 && out.filter("id = 7").count() == 1)
  }

  test("cleanup policy: staging deleted on SUCCESS, kept on NEVER (spec:131-142)") {
    def run(policy: CleanupPolicy): (Boolean, Recorder) = {
      val (whDir, stg) = (tmp(), tmp())
      val wh = new ParquetWarehouse(spark, whDir)
      val rec = new Recorder
      val loader = mkLoader(
        LoaderConfig(table = TableRef("", "t"), cleanup = policy), wh, stg, rec)
      loader.addBody(Ingest.ndjsonString(spark, body1))
      loader.insert()
      val anyLeft = Files.walk(java.nio.file.Paths.get(stg))
        .filter(p => Files.isRegularFile(p)).count() > 0
      (anyLeft, rec)
    }
    val (leftSuccess, recS) = run(CleanupPolicy.OnSuccess)
    assert(!leftSuccess)
    assert(recS.progress.count(_ == "deleteObjects") == 1)
    val (leftNever, recN) = run(CleanupPolicy.Never)
    assert(leftNever)
    assert(recN.progress.count(_ == "deleteObjects") == 0)
  }

  test("auto-compaction hook: fragmented table rewritten in wrapUp, rows intact") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val tbl = TableRef("", "t")
    val cfg = LoaderConfig(table = tbl,
      autoCompact = Some(graft.core.AutoCompact(maxFiles = 4, targetFiles = 2)))
    def loadOnce(rec: Recorder, i: Int): Unit = {
      val loader = mkLoader(cfg, wh, stg, rec)
      val lines = (1 to 3).map(j => s"""{"id":${i * 10 + j},"v":"x"}""")
        .mkString("\n")
      loader.addBody(Ingest.ndjsonString(spark, lines).repartition(3))
      loader.insert()
    }
    val rec = new Recorder
    loadOnce(rec, 1) // 3 files <= maxFiles: no compaction
    assert(!rec.progress.contains("compacted"))
    loadOnce(rec, 2) // 6 files > maxFiles: compacts to 2
    assert(rec.progress.count(_ == "compacted") == 1)
    assert(wh.dataFiles(tbl).size == 2)
    val rows = wh.table(tbl).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(11L, 12L, 13L, 21L, 22L, 23L),
      s"rows changed: ${rows.toSeq}")
    val info = rec.infos.find(_._1 == "compacted").get._2
    assert(info("filesBefore").toInt > 4 && info("filesAfter").toInt == 2)
    // A failed load never compacts (hook is success-only).
    val recF = new Recorder
    val bad = mkLoader(cfg, wh, stg, recF)
    intercept[IllegalArgumentException](bad.insert()) // no staged bodies
    assert(!recF.progress.contains("compacted"))
  }

  test("binary bodies stage under the job dir and ride the same cleanup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stg = tmp()
    val writer = new graft.io.StagingWriter(spark, stg,
      LoaderConfig(filePrefix = "graft/bin"), "jt", "uu")
    val bin = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](4, 5)))
      .toDF("id", "payload")
    val up = writer.writeBinaryBody(bin, "id", "payload", 0, ".bin")
    assert(up.dir == s"${writer.jobDir}/bin_0")
    assert(up.files.map(_.split('/').last).sorted == Seq("1.bin", "2.bin"))
    // A row body and the binary body share the job dir -> one deleteAll
    // (the C1-C5 policies' primitive) reaps both.
    writer.writeBody(Ingest.ndjsonString(spark, body1), 1)
    assert(writer.deleteAll())
    val left = Files.walk(java.nio.file.Paths.get(stg))
      .filter(p => Files.isRegularFile(p)).count()
    assert(left == 0, s"staging not cleaned: $left files left")
    // Duplicate ids fail loudly up front (unique-id precondition).
    val dup = Seq((1L, Array[Byte](1)), (1L, Array[Byte](2)))
      .toDF("id", "payload")
    val e = intercept[IllegalArgumentException](
      writer.writeBinaryBody(dup, "id", "payload", 2, ".bin"))
    assert(e.getMessage.contains("unique"))
  }

  test("single-shot latch: addBody after start is dropped (X5, spec:143-150)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val loader = mkLoader(
      LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Never), wh, stg)
    loader.addBody(Ingest.ndjsonString(spark, body1))
    loader.insert()
    assert(loader.addBody(Ingest.ndjsonString(spark, body2)).isEmpty)
    assert(wh.table(TableRef("", "t")).count() == 2) // second body never landed
  }

  test("single-shot latch under a race: every body addBody accepts is in the manifest and the load") {
    import scala.jdk.CollectionConverters._
    val stg = tmp()
    val wh = new ParquetWarehouse(spark, tmp())
    val body = Ingest.ndjsonString(spark, body1)
    for (round <- 1 to 20) {
      val t = TableRef("", s"race_$round")
      val loader = mkLoader(LoaderConfig(table = t, cleanup = CleanupPolicy.Never), wh, stg)
      val first = loader.addBody(body).get
      // insert() starts once the adder is in its loop, so the two overlap;
      // the adder stops after 32 bodies, so a starved insert() still runs.
      val adding = new CountDownLatch(1)
      val accepted = new java.util.concurrent.ConcurrentLinkedQueue[Future[graft.io.StagedUpload]]
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val adder = new Thread(() => {
        try Iterator.continually(loader.addBody(body)).take(32).takeWhile(_.isDefined)
          .foreach { h => accepted.add(h.get); adding.countDown() }
        catch { case e: Throwable => failed.set(e) }
        finally adding.countDown()
      })
      adder.start()
      adding.await()
      assert(loader.insert() == "SUCCESS", s"round $round")
      adder.join(60000)
      assert(!adder.isAlive && failed.get == null, s"round $round: adder failed: ${failed.get}")
      val ups = (first +: accepted.asScala.toSeq).map(h => scala.util.Try(await(h)))
      assert(ups.forall(_.isSuccess), s"round $round: a handle failed: ${ups.filter(_.isFailure)}")
      val manifest = Manifest.parseUrls(Files.readString(java.nio.file.Paths.get(
        ups.head.get.dir).getParent.resolve(s"manifest_${loader.uuid}.json"))).toSet
      val missing = ups.flatMap(_.get.files).filterNot(manifest)
      assert(missing.isEmpty, s"round $round: accepted bodies missing from the manifest: $missing")
      assert(wh.table(t).count() == 2L * ups.size, s"round $round: ${ups.size} bodies accepted")
    }
  }

  test("external executor runs the upsert transaction SQL (X6 + L3)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("pub", "tgt")
    val ex = new InMemorySqlExecutor()
    val loader = mkLoader(LoaderConfig(table = t, idField = "id"), wh, stg,
      executor = Some(ex))
    loader.addBody(Ingest.ndjsonString(spark, body1))
    loader.upsert()
    val sql = ex.executed.toSeq
    assert(sql.head == "BEGIN;" && sql.last == "COMMIT;")
    assert(sql.exists(_.startsWith("COPY pub.tgt_temp_")))
    assert(sql.exists(q => q.startsWith("DELETE FROM pub.tgt WHERE id IN")))
    assert(sql.size == 8)
  }

  test("failure wraps up with error event; ALWAYS policy still cleans (C4/C1)") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val rec = new Recorder
    val ex = new InMemorySqlExecutor({
      case q if q.startsWith("COPY") => Left(new RuntimeException("copy exploded"))
    })
    val loader = mkLoader(
      LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Always),
      wh, stg, rec, executor = Some(ex))
    loader.addBody(Ingest.ndjsonString(spark, body1))
    intercept[RuntimeException](loader.insert())
    assert(rec.errors == 1 && rec.done == 0)
    assert(rec.progress.count(_ == "deleteObjects") == 1) // ALWAYS cleans on failure
  }

  test("native load reads exactly the staged files; each body is evaluated once") {
    import org.apache.spark.sql.functions._
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("", "staged_only")
    // A non-deterministic body: every evaluation draws fresh values, so
    // a load that re-evaluated the body instead of reading the staged
    // files would land rows the manifest never listed.
    val calls = spark.sparkContext.longAccumulator("body_udf_calls")
    val draw = udf { (_: Long) =>
      calls.add(1)
      java.util.concurrent.ThreadLocalRandom.current().nextLong()
    }.asNondeterministic()
    val body = spark.range(0, 1000)
      .select(col("id"), draw(col("id")).as("draw"))
    val loader = mkLoader(LoaderConfig(table = t,
      cleanup = CleanupPolicy.Never), wh, stg)
    val up = await(loader.addBody(body).get)
    assert(loader.insert() == "SUCCESS")
    assert(calls.sum == 1000L,
      s"body evaluated ${calls.sum / 1000.0} times, expected once")
    val staged = spark.read.schema(body.schema).json(up.files: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loaded = wh.table(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staged.size == 1000)
    assert(loaded == staged, "the table must hold exactly the staged rows")
  }

  test("NDJSON staging keeps microseconds: timestamp and timestamp_ntz round-trip through insert") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("", "micros")
    val body = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP '2024-03-10 01:02:03.123456', TIMESTAMP_NTZ '2024-03-10 01:02:03.123456'),
        |  (2L, TIMESTAMP '1969-12-31 23:59:59.999999', TIMESTAMP_NTZ '1969-12-31 23:59:59.999999'),
        |  (3L, TIMESTAMP '2024-11-03 01:30:00.000001', TIMESTAMP_NTZ '2024-11-03 01:30:00.000001')
        |  AS b(id, ts, ntz)""".stripMargin)
    val loader = mkLoader(LoaderConfig(table = t), wh, stg)
    loader.addBody(body)
    assert(loader.insert() == "SUCCESS")
    val loaded = wh.table(t).select("id", "ts", "ntz")
    assert(loaded.schema.map(_.dataType) == body.schema.map(_.dataType))
    assert(loaded.collect().toSet == body.collect().toSet,
      "the loaded table must equal the body to the microsecond")
  }

  test("a json body with a non-string-keyed map is rejected before staging; parquet stages it") {
    val (whDir, stg) = (tmp(), tmp())
    val wh = new ParquetWarehouse(spark, whDir)
    val t = TableRef("", "int_keyed")
    val body = spark.sql("SELECT id, map(id, 'a', id + 1, 'b') AS m FROM range(3)")
    val loader = mkLoader(LoaderConfig(table = t), wh, stg)
    val e = intercept[IllegalArgumentException](loader.addBody(body))
    assert(e.getMessage.contains("format = \"parquet\""), e.getMessage)
    val staged = Files.walk(java.nio.file.Paths.get(stg))
      .filter(Files.isRegularFile(_)).count()
    assert(staged == 0, s"$staged files staged for a rejected body")
    loader.addBody(body, "parquet")
    assert(loader.insert() == "SUCCESS")
    assert(wh.table(t).collect().toSet == body.collect().toSet)
  }

  test("abort cancels a body that is still staging; nothing staged is left (C2/C3)") {
    import org.apache.spark.sql.functions._
    val (whDir, stg) = (tmp(), tmp())
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val rec = new LoadListener {
      override def onProgress(task: String, info: Map[String, String]): Unit = events.add(task)
    }
    val cfg = LoaderConfig(table = TableRef("", "target"), cleanup = CleanupPolicy.Never)
    val loader = mkLoader(cfg, new ParquetWarehouse(spark, whDir), stg, rec)
    val park = parking()
    val body = Ingest.ndjsonString(spark, body1).withColumn("id", park(col("id")))
    // The cancelled job's failures are expected: keep them out of the log.
    spark.sparkContext.setLogLevel("OFF")
    val handle = Promise[Future[graft.io.StagedUpload]]()
    val releaser = releaseWhenSettled(handle.future)
    val h = loader.addBody(body).get
    handle.success(h)
    assert(LoaderSpec.writing.await(30, TimeUnit.SECONDS), "the body's write never started")
    loader.abort()
    // Straight after abort returns, with no wait here.
    val jobDir = java.nio.file.Paths.get(stg, cfg.resolvedFilePrefix,
      s"${loader.jobTime}_${loader.uuid}")
    val sc = spark.sparkContext
    val running = sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    val jobDirLeft = Files.exists(jobDir)
    releaser.join()
    val err = try { await(h); None } catch { case e: Throwable => Some(e) }
    spark.sparkContext.setLogLevel("WARN")
    assert(!jobDirLeft, s"$jobDir exists after abort returned")
    assert(running == 0, s"$running tasks still running after abort returned")
    assert(err.isDefined, "awaiting the handle must fail once the load is aborted")
    assert(events.contains("aborted"))
    val left = stagedFiles(stg)
    assert(left.isEmpty, s"staged files left after abort: $left")
  }

  test("bodies stage concurrently: a later body's handle completes while an earlier one is parked") {
    import org.apache.spark.sql.functions._
    val (whDir, stg) = (tmp(), tmp())
    val t = TableRef("", "overlap")
    val wh = new ParquetWarehouse(spark, whDir)
    val loader = mkLoader(LoaderConfig(table = t, cleanup = CleanupPolicy.Never), wh, stg)
    val park = parking()
    // Bounded: a serial stager never reaches body 1 until body 0 is let go.
    val guard = new Thread(() => {
      LoaderSpec.release.await(30, TimeUnit.SECONDS)
      LoaderSpec.release.countDown()
    })
    guard.start()
    val h0 = loader.addBody(Ingest.ndjsonString(spark, body1).withColumn("id", park(col("id")))).get
    assert(LoaderSpec.writing.await(30, TimeUnit.SECONDS), "body 0's write never started")
    val h1 = loader.addBody(Ingest.ndjsonString(spark, body2)).get
    val up1 = scala.util.Try(Await.result(h1, 20.seconds))
    val parked = LoaderSpec.release.getCount == 1
    LoaderSpec.release.countDown()
    guard.join()
    assert(up1.isSuccess && up1.get.files.nonEmpty,
      s"body 1 did not stage while body 0 was parked: $up1")
    assert(parked, "body 0 was released before body 1's handle completed")
    assert(loader.insert() == "SUCCESS")
    assert(await(h0).files.nonEmpty && wh.table(t).count() == 6)
  }

  test("a failed staging write cancels its sibling; start() throws after one error event and ALWAYS cleanup (C4)") {
    import org.apache.spark.sql.functions._
    val (whDir, stg) = (tmp(), tmp())
    val rec = new Recorder
    val loader = mkLoader(LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Always),
      new ParquetWarehouse(spark, whDir), stg, rec)
    val park = parking()
    // Fails once the sibling's write is parked, so there is a job to cancel.
    val boom = udf((x: Long) => {
      LoaderSpec.writing.await(30, TimeUnit.SECONDS)
      if (x > 0) throw new IllegalStateException("staging exploded")
      x
    })
    spark.sparkContext.setLogLevel("OFF")
    val handle = Promise[Future[graft.io.StagedUpload]]()
    val releaser = releaseWhenSettled(handle.future)
    val sibling = loader.addBody(
      Ingest.ndjsonString(spark, body1).withColumn("id", park(col("id")))).get
    handle.success(sibling)
    loader.addBody(Ingest.ndjsonString(spark, body2).withColumn("id", boom(col("id"))))
    val err = try { loader.insert(); None } catch { case e: Throwable => Some(e) }
    val left = stagedFiles(stg)
    releaser.join()
    spark.sparkContext.setLogLevel("WARN")
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(err.exists(causes(_).exists(c =>
      String.valueOf(c.getMessage).contains("staging exploded"))),
      s"start() must rethrow the failed write: $err")
    assert(rec.errors == 1 && rec.done == 0, s"${rec.errors} error events, ${rec.done} done")
    val sib = Await.ready(sibling, 30.seconds).value.get
    assert(sib.isFailure && causes(sib.failed.get).exists(c =>
      String.valueOf(c.getMessage).toLowerCase.contains("cancel")),
      s"the sibling's write was not cancelled: $sib")
    assert(rec.progress.count(_ == "deleteObjects") == 1)
    assert(left.isEmpty, s"staged files left after a failed load: $left")
  }

  test("listener calls are serial: 8 concurrently staged bodies, unsynchronized counters") {
    val (whDir, stg) = (tmp(), tmp())
    val counting = new LoadListener {
      var files, overlaps = 0
      var bytes = 0L
      private var inside = false
      override def onProgress(task: String, info: Map[String, String]): Unit = {
        if (inside) overlaps += 1
        inside = true
        if (task == "uploadedFile") {
          val (f, b) = (files, bytes)
          Thread.sleep(2) // widens the window a concurrent call would hit
          files = f + 1
          bytes = b + info("bytes").toLong
        }
        inside = false
      }
    }
    val loader = mkLoader(LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Never),
      new ParquetWarehouse(spark, whDir), stg, counting)
    val ups = loader.addBodies((0 until 8).map(k =>
      Ingest.ndjsonString(spark, (1 to 20).map(i => row(k * 100 + i, 1.5, "x")).mkString("\n"))))
    assert(loader.insert() == "SUCCESS")
    val onDisk = ups.map(await).flatMap(_.files).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }
    assert(counting.overlaps == 0, s"${counting.overlaps} overlapping listener calls")
    assert(counting.files == 8, s"${counting.files} uploadedFile events")
    assert(counting.bytes == onDisk.sum, s"${counting.bytes} B reported, ${onDisk.sum} B staged")
  }

  test("a body held on the driver stages one file per maxPartitionBytes, at most defaultParallelism") {
    val (whDir, stg) = (tmp(), tmp())
    val loader = mkLoader(LoaderConfig(table = TableRef("", "t"), cleanup = CleanupPolicy.Never),
      new ParquetWarehouse(spark, whDir), stg)
    val threeLines = (1 to 3).map(i => row(i, 1.5, "x")).mkString("\n")
    assert(await(loader.addBody(Ingest.ndjsonString(spark, threeLines)).get).files.size == 1)
    val items = Ingest.rows(spark, (1L to 50L).map(i => LoaderSpec.Item(i, s"n$i")))
    assert(await(loader.addBody(items).get).files.size == 1)
    // The first body over 4 KB: 5 splits of 1 KB.
    val big = Iterator.from(1).map(n => (1 to n).map(i => row(i, 1.5, "x")).mkString("\n"))
      .dropWhile(_.getBytes("UTF-8").length <= 4096).next()
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    val bigDf = try Ingest.ndjsonString(spark, big)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val want = math.min(5, spark.sparkContext.defaultParallelism)
    assert(await(loader.addBody(bigDf).get).files.size == want)
  }

  test("requires at least one staged body (X6 assert, :277)") {
    val (whDir, stg) = (tmp(), tmp())
    val loader = mkLoader(LoaderConfig(table = TableRef("", "t")),
      new ParquetWarehouse(spark, whDir), stg)
    intercept[IllegalArgumentException](loader.insert())
  }
}
