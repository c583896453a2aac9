package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.graftshim.GraftScheduler
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Ingest, ParquetSchema}

/** Schemas resolved on the driver: [[ParquetSchema]] reads one footer and
  * `Ingest.ndjsonString` runs Spark's JSON inference over the body it
  * holds. Each gives the frame schema Spark's own inference gives, and
  * opening a table or a body starts no Spark job. */
class SchemaResolutionSpec extends AnyFunSuite with SparkSuite {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started while `body` runs, counted after the bus drains. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftScheduler.drainListenerBus(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      GraftScheduler.drainListenerBus(sc)
      (out, n.get())
    } finally sc.removeSparkListener(l)
  }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try body
    finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  private val fixtureDirs = Seq(sf("sf0.01"), "e2ebench/fixture/sf0.01")

  private def tables(dir: String): Seq[String] = {
    val names = new File(dir).list().toSeq.filter(_.endsWith(".parquet")).sorted
    assert(names.nonEmpty, s"no parquet tables under $dir")
    names
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    for (dir <- fixtureDirs; t <- tables(dir); on <- Seq(false, true)) {
      val p = s"$dir/$t"
      withNanosAsLong(on) {
        assert(ParquetSchema.read(spark, p).schema == spark.read.parquet(p).schema,
          s"$p (nanosAsLong=$on)")
      }
    }
  }

  test("footer schema of a Spark-written 4-part directory equals Spark's inferred schema") {
    val dir = Files.createTempDirectory("graft_schema").resolve("t").toString
    spark.range(400).select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("v"), col("id").cast("string")).as("s"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("a"), lit(1.5).as("b")).as("st"),
        timestamp_micros(col("id")).as("ts"))
      .repartition(4).write.parquet(dir)
    val parts = new File(dir).list().filter(_.endsWith(".parquet"))
    assert(parts.length == 4, parts.mkString(","))
    val df = ParquetSchema.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.except(spark.read.parquet(dir)).isEmpty && df.count() == 400)
  }

  test("Tables starts no Spark job") {
    for (t <- tables(sf("sf0.01")).map(_.stripSuffix(".parquet"))) {
      val (df, jobs) = jobsDuring(Tables(spark, sf("sf0.01"), t))
      assert(jobs == 0, s"Tables($t) started $jobs Spark job(s)")
      assert(df.columns.nonEmpty)
    }
  }

  private val bodies = Seq(
    "int and double" -> "{\"x\":1}\n{\"x\":2.5}\n{\"x\":-3}",
    "int and string" -> "{\"y\":1,\"z\":true}\n{\"y\":\"a\",\"z\":false}",
    "all-null column" -> "{\"n\":null,\"k\":1}\n{\"n\":null,\"k\":2}",
    "nested objects" -> "{\"o\":{\"a\":1,\"b\":{\"c\":\"x\"}}}\n{\"o\":{\"b\":{\"d\":2.0}}}",
    "arrays of objects with differing fields" ->
      "{\"arr\":[{\"p\":1},{\"q\":\"z\"}]}\n{\"arr\":[{\"p\":2,\"r\":true}]}",
    "empty array" -> "{\"e\":[],\"i\":1}\n{\"e\":[],\"i\":2}",
    "integer wider than a long" ->
      "{\"big\":123456789012345678901234567890}\n{\"big\":7}",
    "keys a and A" -> "{\"a\":1,\"A\":\"x\"}\n{\"a\":2}",
    "one malformed line" -> "{\"x\":1}\n{bad\n{\"x\":2}",
    "only malformed lines" -> "{bad\nnot json\n[1,",
    "top-level array of objects" -> "[{\"x\":1},{\"x\":2}]\n{\"x\":3,\"w\":\"u\"}")

  test("ndjsonString infers Spark's schema and rows with no Spark job") {
    import spark.implicits._
    for ((label, body) <- bodies) {
      val (df, jobs) = jobsDuring(Ingest.ndjsonString(spark, body))
      assert(jobs == 0, s"$label: ndjsonString started $jobs Spark job(s)")
      val ref = spark.read.json(spark.createDataset(body.split('\n').toSeq))
      assert(df.schema == ref.schema, s"$label: ${df.schema} vs ${ref.schema}")
      assert(df.collect().toSeq == ref.collect().toSeq, label)
    }
  }
}
