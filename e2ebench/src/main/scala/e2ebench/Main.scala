package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.core.TableRef
import graft.io.ParquetWarehouse

/** What one run shares across its ops: the session, the tracer, the
  * run's private work directory and the per-op records that end up in
  * the result file. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: String,
    val seed: Long, val fixture: String) {
  /** One record per timed op, in op order. */
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  /** Run-level totals (bytes, rows) that the metrics are ratios of. */
  val totals = mutable.LinkedHashMap.empty[String, Any]
  var firstOpUs = -1L

  /** In a traced run every other op runs untraced, so the run measures
    * its own tracing overhead on the same op sequence. */
  def traced(i: Int): Boolean = tracer.enabled && i % 2 == 0

  /** Times `body` as op `i` (tagged, and traced when [[traced]]).
    * Returns the op's record with `wall_s` and `ok` filled in; a thrown
    * exception fails the op instead of the run. */
  def timedOp(i: Int)(body: mutable.LinkedHashMap[String, Any] => Unit)
      : mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]("i" -> i, "ok" -> true,
      "traced" -> traced(i))
    val gc0 = Tracer.gcSeconds
    tracer.op(i, "op", traced(i)) {
      if (firstOpUs < 0) firstOpUs = tracer.nowUs
      val t0 = System.nanoTime()
      try body(rec)
      catch { case e: Throwable =>
        fail(rec, s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      rec("wall_s") = (System.nanoTime() - t0) / 1e9
    }
    rec("jvm.gc_s") = Tracer.gcSeconds - gc0
    ops += rec
    rec
  }

  /** Times one reader query between ops; returns its latency. */
  def timedRead(i: Int)(body: => Unit): Double =
    tracer.op(i, "read", traced(i)) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  def fail(rec: mutable.LinkedHashMap[String, Any], why: String): Unit = {
    rec("ok") = false
    rec("error") = rec.get("error").map(_.toString + "; ").getOrElse("") + why
    System.err.println(s"[e2ebench] op ${rec("i")} failed: $why")
  }

  /** Notes on stderr how long after JVM start a phase ended. */
  def phase(name: String): Unit = System.err.println(
    f"[e2ebench] $name done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")

  /** Sum of a byte or row count over the timed ops. */
  def opTotal(key: String): Long = ops.map(_(key).asInstanceOf[Long]).sum

  /** Releases cached storage blocks; runs between ops, never timed. */
  def clean(): Unit = graft.ToolSession.clearStorage(spark)
}

object Run {
  /** Every regular file under `dir` with its size, by path. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Bytes of files in `after` that were not in `before`. */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.filterNot(kv => before.contains(kv._1)).map(_._2).sum

  /** Paths and sizes of the data files of a table's live version. */
  private def liveFiles(wh: ParquetWarehouse, t: TableRef): Map[String, Long] = {
    val names = wh.dataFiles(t).toSet
    files(wh.currentDataPath(t).get).filter { case (p, _) => names(Paths.get(p).getFileName.toString) }
  }

  /** Bytes of the data files of a table's live version. */
  def liveBytes(wh: ParquetWarehouse, t: TableRef): Long = liveFiles(wh, t).values.sum

  /** Rows of a table's live version, summed from its parquet footers on
    * the driver: no Spark job, so a check between ops stays cheap. */
  def liveRows(wh: ParquetWarehouse, t: TableRef, spark: SparkSession): Long =
    footerRows(liveFiles(wh, t).keys, spark)

  /** Rows of the given parquet files, from their footers. */
  def footerRows(paths: Iterable[String], spark: SparkSession): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

/** Entry point: `e2ebench.Main --workload W --seed N --trace 0|1
  * --work DIR --fixture DIR --cores N --out FILE`. Writes the raw per-op
  * records (and, when tracing, the span file next to them); `run.py`
  * turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val trace = kv("trace") == "1"
    val work = kv("work")
    val cores = kv("cores").toInt
    val out = kv("out")

    val spark = graft.ToolSession.local(cores.toString)
    val run = new Run(spark, new Tracer(spark, trace), work, seed, kv("fixture"))
    run.phase("Spark session")
    try {
      workload match {
        case "load_upsert"   => LoadUpsert.run(run)
        case "curate_stream" => CurateStream.run(run)
        case "gate_suite"    => GateSuite.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (trace) run.tracer.writeSpans(s"$work/spans.jsonl")
      val result = Json.obj(Seq(
        "workload" -> workload,
        "first_op_us" -> run.firstOpUs,
        "peak_rss_mb" -> Tracer.peakRssMb,
        "totals" -> run.totals.toMap,
        "ops" -> run.ops.map(_.toMap)))
      Files.writeString(Paths.get(out), result)
    } finally spark.stop()
  }
}
