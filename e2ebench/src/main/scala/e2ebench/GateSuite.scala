package e2ebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** Workload `gate_suite`: a fixed subset of the pipeline rows of
  * `SparkEntry.queries` (every [[Stride]]-th of [[pipeline]]) over the
  * benchmark's fixture, in a seeded order. Each query runs twice in a
  * row: the first execution is untimed, pays whole-stage-codegen
  * compilation and writes the result the DuckDB oracle checks; the
  * second is the op, forced through the `noop` sink so column pruning
  * cannot skip work. Between ops one reader query (an aggregate over a
  * point lookup on `orders`) is timed. */
object GateSuite {
  val Stride = 27
  val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  lazy val all = SparkEntry.queries

  /** Every pipeline row, in name order, except the contract rows and the
    * `knn_` rows: their DuckDB oracles compute an exact kNN that takes
    * 8 to 11 s per row on sf0.01, longer than the rest of a run's checks
    * together. */
  lazy val pipeline: Seq[String] = (all.keySet -- SparkEntry.ContractQueries)
    .filterNot(_.startsWith("knn_")).toSeq.sorted

  /** The measured rows, in name order. */
  def selected: Seq[String] =
    pipeline.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }

  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = r.fixture
    val dump = s"${r.work}/gate_out"
    val t = r.tracer
    val rnd = new scala.util.Random(r.seed)
    val order = rnd.shuffle(selected)

    // Reader-query inputs: five existing order keys per op.
    val orderKeys = Tables(spark, dir, "orders").select("o_orderkey").collect()
      .map(_.getLong(0)).sorted
    val lookups = order.indices.map(_ => Seq.fill(5)(orderKeys(rnd.nextInt(orderKeys.length))).distinct)
    def read(keys: Seq[Long]): Option[String] = {
      val orders = t.span("Tables.read")(Tables(spark, dir, "orders"))
      val got = orders.filter(col("o_orderkey").isin(keys: _*))
        .agg(count(lit(1)), sum("o_totalprice")).head().getLong(0)
      if (got == keys.size) None
      else Some(s"reader query found $got of ${keys.size} keys")
    }

    // Warm-up: the reader query, untimed. The first op's untimed first
    // execution pays the JVM's and Spark's cold start.
    read(lookups.head)
    r.phase(s"warm-up (${order.size} of ${pipeline.size} pipeline rows)")

    order.zipWithIndex.foreach { case (name, i) =>
      val fn = all(name)
      val first =
        try { fn(spark, dir).write.mode("overwrite").parquet(s"$dump/$name"); None }
        catch { case e: Throwable => Some(s"first execution threw ${e.getMessage}") }
      r.clean()
      val rec = r.timedOp(i) { rec =>
        rec("query") = name
        val df = t.span("SparkEntry.build")(fn(spark, dir))
        if (r.traced(i)) t.span("Catalyst.plan")(df.queryExecution.executedPlan)
        t.span("SparkEntry.exec")(df.write.format("noop").mode("overwrite").save())
      }
      first.foreach(r.fail(rec, _))
      r.clean()
      if (r.traced(i)) {
        // The same query once more, untraced: the tracing overhead is the
        // ratio of the two, since neighbouring ops run other queries.
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        rec("plain_s") = (System.nanoTime() - t0) / 1e9
        r.clean()
      }
      var readErr: Option[String] = None
      rec("read_s") = r.timedRead(i) { readErr = read(lookups(i)) }
      readErr.foreach(r.fail(rec, _))
    }

    r.phase("ops")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1)))
    val fixtureBytes = Run.files(dir).values.sum
    val fixtureRows = Run.footerRows(FixtureTables.map(tb => s"$dir/$tb.parquet"), spark)
    val dumpBytes = Run.files(dump).filter(_._1.endsWith(".parquet")).values.sum
    r.totals ++= Seq("input_bytes" -> fixtureBytes, "written_bytes" -> dumpBytes,
      "live_bytes" -> fixtureBytes, "live_rows" -> fixtureRows, "dump_dir" -> dump)
  }
}
