package e2ebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse
import graft.operators.{DedupOps, TextOps}
import graft.streaming.StreamingLoad

/** Workload `curate_stream`: each op lands one arrival file of
  * [[Arrivals]] documents and runs `StreamingLoad.curationIngestStream`
  * (AvailableNow) to termination against stores pre-seeded with
  * [[StoreDocs]] documents. Arrivals are planted one fifth each into the
  * pipeline's five fates (URL duplicate of a stored page, content copy
  * of a stored page, spam, copy of a held-out eval document, honest
  * survivor), so every store's growth per batch is an exact integer:
  * corpus and signatures grow by one fifth, keys by four fifths. */
object CurateStream {
  val StoreDocs = 1000
  val Arrivals = 50
  val Ops = 5
  val EvalDocs = 200
  val WarmOps = 1
  private val Footer = "rights reserved contact example" // one aligned tile
  private val TileW = 4
  private val Stops = Seq("the", "a", "of", "to", "in", "is", "for", "on")

  /** 16 tokens: 8 stopwords interleaved with 8 words of a 10M-word hashed
    * vocabulary, so quality scores pass the gate and spam does not. */
  private def body(id: Column, salt: Long): Column =
    concat_ws(" ", Stops.zipWithIndex.flatMap { case (s, j) =>
      Seq(lit(s), concat(lit("w"), pmod(xxhash64(id, lit(salt), lit(j)), lit(10000000L))))
    }: _*)

  private def url(id: Column): Column =
    concat(lit("https://src"), (id % 1000).cast("string"), lit(".example.com/p/"),
      id.cast("string"))

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("url", StringType), StructField("text", StringType)))

  /** One stream with its own stores, source and checkpoint directories. */
  final class Pipeline(run: Run, name: String, n: Long, a: Long, warm: Int,
      ops: Int, seed: Long) {
    require(a % 5 == 0, "arrivals per batch must divide into the five fates")
    private val spark = run.spark
    private val whRoot = s"${run.work}/wh_$name"
    private val wh = new ParquetWarehouse(spark, whRoot)
    private val (corpus, keys, sigs) = (TableRef("", "curated"),
      TableRef("", "page_keys"), TableRef("", "curated_sigs"))
    private val src = s"${run.work}/src_$name"
    private val landing = s"${run.work}/arrivals_$name"
    private val ckpt = s"${run.work}/ckpt_$name"
    private val storeSalt = seed * 7 + 1
    private val evalSalt = seed * 7 + 2
    private val freshSalt = seed * 7 + 3
    private val pickSalt = seed * 7 + 4
    private val evalSet = spark.range(0, EvalDocs).select(col("id").as("doc_id"),
      body(col("id"), evalSalt).as("text"))
    private var dict: DataFrame = _
    private var counts = (0L, 0L, 0L)

    private def storeCounts() = (Run.liveRows(wh, corpus, spark), Run.liveRows(wh, keys, spark),
      Run.liveRows(wh, sigs, spark))

    /** Seeds the three stores and writes every arrival file. */
    def setup(): Unit = {
      Files.createDirectories(Paths.get(src))
      val seedDocs = spark.range(0, n).select(col("id").as("doc_id"),
        url(col("id")).as("url"), body(col("id"), storeSalt).as("clean_text"))
      wh.load(LoadMode.Insert, corpus, seedDocs.withColumn("canonical_url", col("url"))
        .select("doc_id", "url", "canonical_url", "clean_text"), "doc_id")
      wh.load(LoadMode.Insert, keys,
        seedDocs.select(col("url").as("canonical_url"), col("doc_id")), "doc_id")
      wh.load(LoadMode.Insert, sigs,
        DedupOps.minhashSignatureArr(seedDocs.select("doc_id", "clean_text"),
          "doc_id", "clean_text"), "doc_id")
      // The frozen boilerplate dictionary holds the footer tile only; it
      // is rebuilt from driver rows so no cached block backs it.
      val computed = TextOps.boilerplateDict(
        seedDocs.filter(col("doc_id") < 1000).select(col("doc_id"),
          concat(col("clean_text"), lit(" " + Footer)).as("text")),
        "doc_id", "text", TileW, 20)
      val rows = computed.collect()
      require(rows.length == 1, s"boilerplate dictionary has ${rows.length} tiles, not 1")
      dict = spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
        computed.schema)
      run.phase("stores")

      // Fates by id % 5: 0 URL of a stored page, 1 content copy of a
      // stored page, 2 spam, 3 copy of an eval document, 4 honest.
      val id = col("id")
      val stored = pmod(xxhash64(id, lit(pickSalt)), lit(n))
      val evalPick = pmod(xxhash64(id, lit(pickSalt + 1)), lit(EvalDocs.toLong))
      val lines = spark.range(n, n + (warm + ops) * a).select(
        ((id - n) / a).cast("long").as("b"),
        to_json(struct(id.as("doc_id"),
          when(id % 5 === 0, url(stored))
            .otherwise(concat(lit("https://new"), id.cast("string"),
              lit(".example.com/p/"), id.cast("string"))).as("url"),
          when(id % 5 === 1, concat(body(stored, storeSalt), lit(" " + Footer)))
            .when(id % 5 === 2, lit(Seq.fill(16)("buy").mkString(" ")))
            .when(id % 5 === 3, concat(body(evalPick, evalSalt), lit(" " + Footer)))
            .otherwise(concat(body(id, freshSalt), lit(" " + Footer))).as("text")))
          .as("value"))
        .collect().groupBy(_.getLong(0))
      Files.createDirectories(Paths.get(landing))
      for (b <- 0 until warm + ops) {
        val batch = lines(b.toLong).map(_.getString(1))
        require(batch.length == a, s"batch $b holds ${batch.length} arrivals, not $a")
        Files.write(Paths.get(s"$landing/b$b.json"), batch.toSeq.asJava)
      }
      counts = storeCounts()
      run.phase("arrivals")
    }

    /** Batch `k` of the sequence, then its check and reader query (both
      * outside the op's timing). The first `warm` batches are the
      * warm-up: untimed, and a failed check there aborts the run. */
    def op(k: Int): Unit = {
      val timed = k >= warm
      val i = k - warm
      val before = Run.files(whRoot)
      val file = Paths.get(s"$landing/b$k.json")
      val bytes = Files.size(file)
      val t = run.tracer
      val body = { (rec: mutable.LinkedHashMap[String, Any]) =>
        Files.move(file, Paths.get(s"$src/b$k.json"), StandardCopyOption.ATOMIC_MOVE)
        val q = t.span("StreamingLoad.curation_ingest_stream") {
          StreamingLoad.curationIngestStream(spark, src, schema, wh, corpus, keys,
            sigs, dict, "doc_id", "url", "text", qualityMin = 0.25, minEst = 0.5,
            ckpt, tileWidth = TileW, minDf = 20, evalSet = Some(evalSet),
            contamN = 8, maxContamFrac = 0.05)
        }
        t.span("StreamingQuery.await")(q.awaitTermination())
        rec("rows") = a
      }
      val rec =
        if (timed) run.timedOp(i)(body)
        else { body(mutable.LinkedHashMap.empty); mutable.LinkedHashMap.empty[String, Any] }
      def bad(why: String): Unit =
        if (timed) run.fail(rec, why) else throw new IllegalStateException(why)
      val after = storeCounts()
      Checks.growth(counts, after, (a / 5, 4 * a / 5, a / 5)).foreach(bad)
      counts = after

      // Reader query: two of this batch's survivors, three seeded docs.
      val lookup = Seq(n + k * a + 4, n + k * a + 9, k.toLong, n / 2 + k, n - 1 - k)
      var found = 0
      var total = 0L
      def read(): Unit = {
        val tbl = t.span("ParquetWarehouse.table")(wh.table(corpus))
        found = tbl.filter(col("doc_id").isin(lookup: _*)).select("doc_id", "clean_text")
          .collect().length
        total = tbl.agg(count(lit(1)), max(length(col("clean_text")))).head().getLong(0)
      }
      val readS = if (timed) run.timedRead(i)(read()) else { read(); 0.0 }
      if (found != lookup.size || total != counts._1)
        bad(s"reader query found $found of ${lookup.size} docs and $total rows, " +
          s"corpus holds ${counts._1}")
      if (timed) {
        val wrote = Run.newBytes(before, Run.files(whRoot))
        rec("read_s") = readS
        rec("input_bytes") = bytes
        rec("ParquetWarehouse.bytes_written") = wrote
        rec("ParquetWarehouse.live_files") =
          Seq(corpus, keys, sigs).map(wh.dataFiles(_).size).sum
        t.progress.get(s"op:$i").foreach { ps =>
          def ms(key: String) = ps.map(_.getOrElse(key, 0L)).sum / 1000.0
          rec("StreamingLoad.trigger_s") = ms("triggerExecution")
          rec("StreamingLoad.add_batch_s") = ms("addBatch")
          rec("StreamingLoad.log_s") = ms("walCommit") + ms("commitOffsets")
          rec("StreamingLoad.start_stop_s") =
            rec("wall_s").asInstanceOf[Double] - ms("triggerExecution")
        }
      }
      run.clean()
    }

    /** Live data-file bytes and rows over the three stores. */
    def liveBytes: Long = Seq(corpus, keys, sigs).map(Run.liveBytes(wh, _)).sum
    def liveRows: Long = counts._1 + counts._2 + counts._3
  }

  def run(r: Run): Unit = {
    val p = new Pipeline(r, "main", StoreDocs, Arrivals, WarmOps, Ops, r.seed)
    p.setup()
    (0 until WarmOps + Ops).foreach { k => p.op(k); if (k < WarmOps) r.phase(s"warm op $k") }
    r.phase("ops")
    r.totals ++= Seq("input_bytes" -> r.opTotal("input_bytes"),
      "written_bytes" -> r.opTotal("ParquetWarehouse.bytes_written"),
      "live_bytes" -> p.liveBytes, "live_rows" -> p.liveRows)
  }
}
