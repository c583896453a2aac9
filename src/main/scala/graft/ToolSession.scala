package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction and inter-query storage hygiene for
  * every command-line main (Bench, Verify, Explain, the graft.tools.*
  * measurement tools). One definition so a config or
  * measurement-hygiene fix lands everywhere at once — before this the
  * 8 hand-rolled copies had already drifted (missing
  * inferTimestampNTZ, mismatched shuffle partitions). */
object ToolSession {

  /** Parallelism of the measurement tools and BenchServe:
    * `SPARK_GRAFT_CPUS` when set, otherwise the cores this JVM sees.
    * (Bench and Verify keep their own "4" default.) */
  def cpus(): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** The standard local session: shuffle partitions sized to the core
    * count (not the 200 default — CONTRACTS: partitions are sized to
    * the scale actually run), UTC pinned so timestamp queries match the
    * DuckDB oracle, NTZ inference off so parquet timestamps read as
    * TIMESTAMP_LTZ regardless of the fixture writer, and `file:` served
    * by [[graft.io.ForkFreeLocalFs]] for `FileSystem` and `FileContext`
    * alike. Hadoop caches a `FileSystem` per scheme for the whole JVM,
    * so the install rides the session conf: the first `file:` handle is
    * built from it. */
  def local(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config(graft.io.ForkFreeLocalFs.SessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Inter-query storage hygiene for measurement loops: queries that
    * `localCheckpoint` leak storage blocks into the shared JVM, and a
    * long suite accumulates them — later (typically scaled) runs then
    * inherit a storage-pressure bias the earlier runs didn't pay
    * (measured 4-5x inflation on late-alphabet queries before Bench
    * adopted this). Blocking, and must be called OUTSIDE the timed
    * region. */
  def clearStorage(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
}
