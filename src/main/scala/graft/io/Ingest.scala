package graft.io

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftJsonSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion façade — the reference accepts `Readable | string | Buffer |
  * AsyncGenerator<row>` and coerces everything to an uploadable byte stream
  * (`ensureS3BodyAcceptable`, utils.ts:65-79; NDJSON encoding utils.ts:27-63).
  * Spark sources are typed at the API level, so the façade is a set of
  * overloads instead of runtime sniffing (SURVEY.md §2.1 S1/S2).
  */
object Ingest {

  /** NDJSON text (the reference's wire format) → rows. `schema=None` infers,
    * like Redshift's `JSON 'auto'` column mapping (one Spark job over
    * `lines`); pass a schema for production paths. */
  def ndjson(
      spark: SparkSession,
      lines: Dataset[String],
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(lines)
  }

  /** A literal NDJSON string body (the reference's `string` body type).
    * The body is already on the driver, so its schema is inferred there,
    * by Spark's own JSON inference ([[GraftJsonSchema]]), and no Spark job
    * starts: the schema and rows equal `spark.read.json` of the lines.
    * Partitions follow [[driverParts]] of the body's UTF-8 bytes, so a
    * body under `spark.sql.files.maxPartitionBytes` stages as one file. */
  def ndjsonString(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    val lines = body.split('\n').toIndexedSeq.filter(_.nonEmpty)
    val parts = driverParts(spark, body.getBytes(StandardCharsets.UTF_8).length)
    ndjson(spark, spark.createDataset(lines).coalesce(parts),
      Some(GraftJsonSchema.infer(spark, lines)))
  }

  /** A local iterator of rows (the reference's AsyncGenerator body,
    * utils.ts:41-63). Backpressure is inherent: Spark pulls. Driver-side
    * iterators are for tests/small feeds; big inputs should be files.
    * Partitions follow [[driverParts]] of the rows' size as Spark's
    * statistics estimate it. */
  def rows[T <: Product: scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession,
      it: Iterable[T]): DataFrame = {
    implicit val enc = Encoders.product[T]
    val ds = spark.createDataset(it.toSeq)
    ds.toDF().coalesce(driverParts(spark, ds.queryExecution.analyzed.stats.sizeInBytes))
  }

  /** Partitions of a body held on the driver: one per
    * `spark.sql.files.maxPartitionBytes` of it (Spark's own file-split
    * size), at least one, at most `defaultParallelism`. */
  private def driverParts(spark: SparkSession, bytes: BigInt): Int = {
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    ((bytes + split - 1) / split).max(1).min(spark.sparkContext.defaultParallelism).toInt
  }

  /** File-based sources for the COPY formats the reference declares
    * (S5, types.ts:47-49): JSON/CSV/PARQUET/ORC — plus XML (Spark 4
    * built-in source, `rowTag` option); gzip is transparent.
    * AVRO is emitted as a COPY tag by CopySqlBuilder but scanning it needs
    * the external spark-avro package (not in this zero-egress jar set). */
  def files(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format.toLowerCase).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** Opaque byte payloads (the reference's `Buffer` body type; SURVEY.md
    * §1.1 "stream of bytes"): each file becomes one row of
    * (path, modificationTime, length, content) via Spark's binaryFile
    * source — the ingestion path for multimodal media, which then rides
    * as a `binary` column ([[graft.operators.MultimodalOps]]).
    * `pathGlobFilter` bounds the listing; files larger than
    * `spark.sql.sources.binaryFile.maxLength` fail fast rather than OOM. */
  def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** The write twin of [[binaryFiles]]: stage each row's binary payload
    * as its own file `<id><ext>` under `dir` — the shape object-store
    * media ingestion expects (one object per asset). Executed per
    * partition through the Hadoop FileSystem API, so the same code
    * writes file://, hdfs:// or s3a:// and each executor writes only its
    * partition's rows; nothing funnels through the driver.
    *
    * Cost note: the id-uniqueness guard below runs one EXTRA aggregate
    * action (column-pruned to the id — payloads are not scanned) before
    * every write, so each call reads its input listing twice. Accepted
    * as a safety guard; callers on a hot staging path can pre-dedup and
    * pass an already-unique frame. */
  def writeBinaryFiles(df: DataFrame, idCol: String, payloadCol: String,
      dir: String, ext: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    // File-per-id layout requires UNIQUE ids: a duplicate would collapse
    // to one file with nondeterministic last-writer-wins across
    // concurrently-writing partitions. Checked up front with one
    // column-pruned aggregate (ids only) — the write itself stays
    // overwrite-idempotent so Spark task retries/speculation can safely
    // re-create files from a failed attempt.
    // count(lit(1)), not count(idCol): count(col) skips NULLs, so two
    // null-id rows would pass the equality and both write to
    // "null<ext>" — the exact silent payload collapse this guard
    // exists to prevent. countDistinct also ignores nulls, so nulls
    // surface as nRows > nIds + nNulls check below.
    val Array(nRows, nIds, nNullIds) = df.select(count(lit(1)),
        countDistinct(col(idCol)), count(when(col(idCol).isNull, 1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    require(nNullIds == 0,
      s"writeBinaryFiles: $nNullIds rows have a null $idCol — every " +
        "payload needs its own file name")
    require(nRows == nIds,
      s"writeBinaryFiles: $idCol must be unique (got $nRows rows, " +
        s"$nIds distinct ids) — duplicates would silently drop payloads")
    // Truncate-stage semantics: clear the target dir first so a stale
    // file from an earlier (differently-sampled) staging run can't
    // pollute the listing a reader sees.
    val driverFs = path.getFileSystem(hadoopConf)
    if (driverFs.exists(path)) driverFs.delete(path, true)
    // Ship the SESSION's Hadoop settings to the executors (Configuration
    // isn't serializable; spark.hadoop.* overrides like s3a credentials
    // or endpoints would otherwise be silently dropped and executors
    // would resolve the filesystem from classpath defaults only).
    val confEntries = {
      val it = hadoopConf.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    df.select(col(idCol).cast("string"), col(payloadCol))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val fs = path.getFileSystem(conf)
        fs.mkdirs(path)
        rows.foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(path, r.getString(0) + ext), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }
}
