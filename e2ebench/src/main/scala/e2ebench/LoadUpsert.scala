package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{LoaderConfig, TableRef}
import graft.exec.{LoadListener, Loader}
import graft.io.{Ingest, ParquetWarehouse}

/** Workload `load_upsert`: each op is one Loader job that stages
  * [[Bodies]] NDJSON bodies and commits them with `upsert()` into a table
  * of [[BaseRows]] rows written as [[BaseFiles]] files of contiguous ids.
  * A batch is half updates and half new keys; of the updates,
  * [[RecentShare]] hit the newest [[RecentWindow]] ids (one base file's
  * worth, sliding as the run inserts) and the rest are uniform over every
  * id, so the batch has the recency skew a file-pruning upsert would
  * exploit. The skew's size is an assumption, not a measured trace.
  * Between ops, outside the op's timing, the live table is checked
  * against the model and one reader query (point lookup plus aggregate)
  * is timed. */
object LoadUpsert {
  val BaseRows = 200000
  val BaseFiles = 10
  val BatchRows = 1000
  val Bodies = 3
  val Ops = 8
  val RecentShare = 0.8
  val RecentWindow = BaseRows / BaseFiles
  val WarmOps = 1

  def amount(id: Long, ver: Int): Double = ((id * 7919L + ver * 104729L) % 100000L) / 100.0

  def line(id: Long, ver: Int): String =
    s"""{"amount":${amount(id, ver)},"grp":${id % 100},"id":$id,"name":"n$id-v$ver","ver":$ver}"""

  /** The seeded op sequence: per op, the ids it writes (updates first,
    * then new keys), and the keys each following reader query looks up. */
  final case class Plan(batches: Seq[Array[Long]], lookups: Seq[Seq[Long]],
      recentUpdates: Long, updates: Long)

  def plan(seed: Long, base: Int, ops: Int): Plan = {
    val rnd = new java.util.SplittableRandom(seed)
    val half = BatchRows / 2
    var n = base.toLong
    val batches = mutable.ArrayBuffer.empty[Array[Long]]
    val lookups = mutable.ArrayBuffer.empty[Seq[Long]]
    var recent = 0L
    for (_ <- 0 until ops) {
      val upd = mutable.LinkedHashSet.empty[Long]
      val window = math.min(RecentWindow.toLong, n)
      while (upd.size < math.round(half * RecentShare)) upd += n - 1 - rnd.nextLong(window)
      while (upd.size < half) upd += rnd.nextLong(n)
      recent += upd.count(_ >= n - window)
      batches += (upd.toArray ++ (n until n + half))
      n += half
      lookups += Seq(n - 1 - rnd.nextLong(window), n - 1 - rnd.nextLong(window),
        rnd.nextLong(n), rnd.nextLong(n), rnd.nextLong(n))
    }
    Plan(batches.toSeq, lookups.toSeq, recent, ops.toLong * half)
  }

  /** LoadListener that keeps the event times and the staged byte count. */
  final class Events(tracer: Tracer) extends LoadListener {
    var stagedBytes = 0L
    var manifestUs, loadedUs, doneUs = 0L
    override def onProgress(task: String, info: Map[String, String]): Unit =
      task match {
        case "uploadedFile"     => stagedBytes += info("bytes").toLong
        case "uploadedManifest" => manifestUs = tracer.nowUs
        case "loadedMetrics"    => if (loadedUs == 0) loadedUs = tracer.nowUs
        case "done"             => doneUs = tracer.nowUs
        case _                  => ()
      }
  }

  /** One upserted table, its model, and the ops against it. */
  final class Target(run: Run, name: String, base: Int, warm: Int, ops: Int,
      seed: Long) {
    private val spark = run.spark
    private val wh = new ParquetWarehouse(spark, s"${run.work}/wh")
    private val table = TableRef("bench", name)
    private val tableDir = s"${run.work}/wh/bench/$name"
    private val cfg = LoaderConfig(table = table, idField = "id", filePrefix = s"load_$name")
    private val p = plan(seed, base, warm + ops)
    private val model = new Array[Int](base + (warm + ops) * BatchRows / 2)
    private var n = base
    /** NDJSON bodies of every op, generated before the first op. */
    private val bodies: Seq[Seq[String]] = p.batches.zipWithIndex.map { case (ids, k) =>
      val lines = ids.map(line(_, k + 1))
      lines.grouped(math.ceil(lines.length.toDouble / Bodies).toInt)
        .map(_.mkString("", "\n", "\n")).toSeq
    }

    def create(): Unit = wh.create(table, spark.range(0, base, 1, BaseFiles).select(
      (col("id") * 7919L % 100000L / 100.0).as("amount"),
      (col("id") % 100).as("grp"), col("id"),
      concat(lit("n"), col("id"), lit("-v0")).as("name"),
      lit(0L).as("ver")))

    /** Op `k` of the sequence, then its check and reader query (both
      * outside the op's timing). The first `warm` ops are the warm-up:
      * untimed, and a failed check there aborts the run. */
    def op(k: Int): Unit = {
      val timed = k >= warm
      val i = k - warm
      val before = Run.files(tableDir)
      val liveBefore = wh.dataFiles(table).toSet
      val ev = new Events(run.tracer)
      val t = run.tracer
      val body = { (rec: mutable.LinkedHashMap[String, Any]) =>
        val loader = new Loader(spark, cfg, wh, s"${run.work}/staging", listener = ev)
        bodies(k).foreach { b =>
          val df = t.span("Ingest.ndjson_string")(Ingest.ndjsonString(spark, b))
          t.span("Loader.add_body")(loader.addBody(df))
        }
        val s = t.nowUs
        t.span("Loader.upsert")(loader.upsert())
        t.record("Loader.manifest", s, ev.manifestUs)
        t.record("ParquetWarehouse.load", ev.manifestUs, ev.loadedUs)
        t.record("Loader.cleanup", ev.loadedUs, ev.doneUs)
        rec("rows") = p.batches(k).length
      }
      val rec =
        if (timed) run.timedOp(i)(body)
        else { body(mutable.LinkedHashMap.empty); mutable.LinkedHashMap.empty[String, Any] }
      def bad(why: String): Unit =
        if (timed) run.fail(rec, why) else throw new IllegalStateException(why)
      p.batches(k).foreach(id => model(id.toInt) = k + 1)
      n += BatchRows / 2
      Checks.liveTable(wh.table(table), model, n).foreach(bad)
      val keys = p.lookups(k)
      var lookedUp: Map[Long, Long] = Map.empty
      var groups = 0
      def read(): Unit = {
        val tbl = t.span("ParquetWarehouse.table")(wh.table(table))
        lookedUp = tbl.filter(col("id").isin(keys: _*)).select("id", "ver")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        groups = tbl.groupBy("grp").agg(sum("amount"), max("ver")).collect().length
      }
      val readS = if (timed) run.timedRead(i)(read()) else { read(); 0.0 }
      if (groups != 100 || keys.exists(id => !lookedUp.get(id).contains(model(id.toInt).toLong)))
        bad(s"reader query saw $groups groups and versions $lookedUp for $keys")
      if (timed) {
        val after = Run.files(tableDir)
        val live = wh.dataFiles(table)
        rec("read_s") = readS
        rec("input_bytes") = bodies(k).map(_.getBytes("UTF-8").length.toLong).sum
        rec("StagingWriter.staged_bytes") = ev.stagedBytes
        rec("ParquetWarehouse.bytes_written") = Run.newBytes(before, after)
        rec("ParquetWarehouse.files_rewritten") = live.count(f => !liveBefore.contains(f))
        rec("ParquetWarehouse.live_files") = live.size
      }
      run.clean()
    }

    /** Share of the run's updates whose id lies in the recent window. */
    def recentShare: Double = p.recentUpdates.toDouble / p.updates
    def liveFiles: Int = wh.dataFiles(table).size
    def liveBytes: Long = Run.liveBytes(wh, table)
    def liveRows: Long = n.toLong
  }

  def run(r: Run): Unit = {
    val t = new Target(r, "items", BaseRows, WarmOps, Ops, r.seed)
    t.create()
    r.phase(s"base table (${t.liveFiles} files; ${"%.3f".format(t.recentShare)} of updates recent)")
    (0 until WarmOps + Ops).foreach { k => t.op(k); if (k < WarmOps) r.phase(s"warm op $k") }
    r.phase("ops")
    r.totals ++= Seq("input_bytes" -> r.opTotal("input_bytes"),
      "written_bytes" -> (r.opTotal("StagingWriter.staged_bytes") +
        r.opTotal("ParquetWarehouse.bytes_written")),
      "live_bytes" -> t.liveBytes, "live_rows" -> t.liveRows)
  }
}
