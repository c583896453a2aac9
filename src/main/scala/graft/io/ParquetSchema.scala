package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema is resolved on the driver. A schema-less
  * `spark.read.parquet(p)` starts one Spark job (`mergeSchemasInParallel`)
  * only to read a single footer; [[read]] reads that footer here, converts
  * it with Spark's own code and passes the schema to the read, so opening
  * a parquet path starts no job. */
object ParquetSchema {

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema` off:
    * the footer of `path` itself, or of a directory's first data part in
    * path order (names starting with `_` or `.` are skipped, as Spark's
    * listing skips them). Fields keep the footer's nullability; the frame
    * [[read]] returns marks every field nullable, as Spark's own read
    * does. The conversion reads the session's parquet settings (e.g.
    * `spark.sql.legacy.parquet.nanosAsLong`) at call time. Partition
    * directories (`k=v/`) are not discovered: a directory with
    * subdirectories fails. */
  private def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file = if (status.isFile) status else {
      val parts = fs.listStatus(p).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      require(parts.forall(_.isFile), s"$path: partitioned directories are not supported")
      require(parts.nonEmpty, s"$path: no parquet data file")
      parts.minBy(_.getPath.toString)
    }
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `spark.read.parquet(path)` with the schema from [[of]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(of(spark, path)).parquet(path)
}
