package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}

import graft.core.LoaderConfig

/** One staged "upload": the files a single body write produced and
  * their lengths in bytes (the reference's `UploadTask`,
  * RedshiftLoader.ts:13-21). */
final case class StagedUpload(index: Int, dir: String, files: Seq[String], bytes: Seq[Long])

/** Writes staged bodies to the staging filesystem and emits the
  * Redshift-format manifest — the Spark restatement of the reference's
  * concurrent S3 multipart uploads + `uploadManifest`
  * (RedshiftLoader.ts:135-193, 299-336).
  *
  * Naming mirrors the reference's object-key convention
  * `${filePrefix}${jobTime}_prt_${i}_${uuid}` (RedshiftLoader.ts:144-146):
  * each body lands under `<root>/<filePrefix>/<jobTime>_<uuid>/prt_<i>/`,
  * with Spark's commit protocol supplying the per-file uniqueness. The
  * manifest key fixes the reference's "manifiest" typo
  * (RedshiftLoader.ts:310) — recorded, not replicated.
  *
  * Scale note: one staged body = one distributed write job; parallelism
  * inside a body is its partition count (callers fragment big inputs across
  * partitions, not across bodies — SURVEY.md §4 "Parallel partitioned
  * load"). Nothing is ever collected to the driver.
  */
final class StagingWriter(
    spark: SparkSession, root: String, cfg: LoaderConfig, jobTime: String, uuid: String) {

  val jobDir = s"$root/${cfg.resolvedFilePrefix}/${jobTime}_$uuid"
  def manifestPath = s"$jobDir/manifest_$uuid.json"

  /** One handle per writer (each `newHadoopConf` copies the whole Hadoop configuration). */
  private lazy val fs: FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Write one body. `format` is the staged wire format — NDJSON (`json`,
    * the reference's native encoding, utils.ts:27-29) or columnar
    * (`parquet`); `gzip` maps to the codec flag (types.ts:26). */
  def writeBody(
      df: DataFrame,
      index: Int,
      format: String = "json",
      gzip: Boolean = false): StagedUpload = {
    val dir = s"$jobDir/prt_$index"
    val w = df.write.mode("errorifexists").options(StagingWriter.stageOptions(format))
    val writer = if (gzip && format == "json") w.option("compression", "gzip") else w
    writer.format(format).save(dir)
    upload(index, dir)
  }

  /** The upload a written dir holds: its data files (committed parts
    * only — no `_SUCCESS`, no hidden files), sorted for determinism,
    * with their lengths from the same listing. */
  private def upload(index: Int, dir: String): StagedUpload = {
    val (files, bytes) = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.toString -> s.getLen)
      .sorted
      .unzip
    StagedUpload(index, dir, files, bytes)
  }

  /** Stage one BINARY body: each row's payload as its own object
    * `<id><ext>` under `<jobDir>/bin_<index>/` — media assets ride the
    * same job-scoped staging layout (and therefore the same C1-C5
    * cleanup policies and abort path) as the row-oriented bodies,
    * instead of ad-hoc temp dirs the OS has to remember to reap.
    * Executor-side writes via [[Ingest.writeBinaryFiles]] (unique-id
    * precondition checked there; driver never touches payloads). */
  def writeBinaryBody(df: DataFrame, idCol: String, payloadCol: String,
      index: Int, ext: String): StagedUpload = {
    val dir = s"$jobDir/bin_$index"
    Ingest.writeBinaryFiles(df, idCol, payloadCol, dir, ext)
    upload(index, dir)
  }

  /** Emit the manifest listing every staged file, `mandatory:true` each —
    * the atomic-visibility contract (L5). Unlike the reference, a manifest
    * write failure propagates: quirk C6 (swallowed failure,
    * RedshiftLoader.ts:327-335) is deliberately NOT reproduced. */
  def writeManifest(uploads: Seq[StagedUpload]): String = {
    val m = Manifest.of(uploads.flatMap(_.files))
    val out = fs.create(new Path(manifestPath), false)
    try out.write(m.toJson.getBytes("UTF-8"))
    finally out.close()
    manifestPath
  }

  /** Delete the whole staging job dir (cleanup policies C1-C5). */
  def deleteAll(): Boolean = fs.delete(new Path(jobDir), true)
}

object StagingWriter {

  /** Staged NDJSON keeps microseconds (Spark's JSON default writes
    * milliseconds); the offset is written for `timestamp` only. */
  val JsonTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS[XXX]"

  /** Options a staged body is written and read back with. */
  def stageOptions(format: String): Map[String, String] =
    if (format != "json") Map.empty
    else Map("timestampFormat" -> JsonTimestampFormat, "timestampNTZFormat" -> JsonTimestampFormat)

  /** JSON object keys are strings: a `json` body holding a map with
    * non-string keys cannot be staged. */
  def requireStageable(schema: StructType, format: String): Unit = {
    def bad(t: DataType): Boolean = t match {
      case MapType(k, v, _) => k != StringType || bad(v)
      case ArrayType(e, _) => bad(e)
      case s: StructType => s.fields.exists(f => bad(f.dataType))
      case _ => false
    }
    require(format != "json" || !bad(schema), "a json-staged body cannot hold a map with " +
      s"non-string keys (${schema.simpleString}); stage it with format = \"parquet\"")
  }
}
