package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.ParquetSchema

/** Testdata table access — one parquet per table under the sf dir
  * (/root/repo/TESTDATA.md).
  *
  * `events.ts` arrives in whatever physical type the fixture writer used:
  * TIMESTAMP(NANOS) (rejected by the vectorized reader → read as long via
  * `spark.sql.legacy.parquet.nanosAsLong` and rebuilt with integer `div`;
  * double division would lose precision above 2^53) or timestamp[us] with no
  * timezone (pandas), which Spark 4 infers as TIMESTAMP_NTZ. Every consumer
  * expects one type, so we canonicalize `ts` to TIMESTAMP_LTZ here — the
  * session timezone is pinned to UTC everywhere, so NTZ→LTZ is wall-clock
  * lossless and matches what DuckDB sees for the naive parquet values.
  *
  * The schema comes from one footer read on the driver
  * ([[graft.io.ParquetSchema]]), so opening a table starts no Spark job;
  * for `events` it is read after `nanosAsLong` is set, because the footer
  * conversion honours that setting.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = ParquetSchema.read(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else ParquetSchema.read(spark, s"$sfDir/$name.parquet")
}
