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

  /** Entries of Spark's JVM-wide codegen cache (a static conf, read once
    * per JVM). The cache is keyed by (class loader, code), and a batch
    * compiles many of its classes twice: under the driver thread's
    * loader and under the executor tasks'. Measured from an emptied cache
    * on the benchmark's 50-document `curationIngestStream` batch: the
    * batch fills 150 entries, and with its reader query 158 (101 distinct
    * classes, 2 loaders). Spark's default of 100 cannot hold that, so
    * every batch evicts what the next one needs. 256, the next power of
    * two above that working set, holds the batch and the reader query
    * with room to spare; at 256 a repeated batch compiles nothing. */
  val CodegenCacheEntries = 256

  /** The standard local session: shuffle partitions sized to the core
    * count (not the 200 default — CONTRACTS: partitions are sized to
    * the scale actually run), UTC pinned so timestamp queries match the
    * DuckDB oracle, NTZ inference off so parquet timestamps read as
    * TIMESTAMP_LTZ regardless of the fixture writer, and `file:` served
    * by [[graft.io.ForkFreeLocalFs]] for `FileSystem` and `FileContext`
    * alike. Hadoop caches a `FileSystem` per scheme for the whole JVM,
    * so the install rides the session conf: the first `file:` handle is
    * built from it. The codegen cache holds [[CodegenCacheEntries]]
    * classes, not Spark's default 100. */
  def local(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
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
