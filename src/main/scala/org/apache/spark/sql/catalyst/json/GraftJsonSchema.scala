package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.Utils

/** The schema `spark.read.json(ds)` infers, for NDJSON lines already on
  * the driver: the per-record steps of `JsonInferSchema.infer` (its
  * parser, `inferField`, PERMISSIVE handling of a malformed record as a
  * `_corrupt_record` string, the `compatibleRootType` merge and
  * `canonicalizeType`) without the Spark job `infer` submits to run them.
  * It lives in Spark's package because `canonicalizeType` is
  * package-private. */
object GraftJsonSchema {
  def infer(spark: SparkSession, lines: Seq[String]): StructType = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val inference = new JsonInferSchema(options)
      val factory = options.buildJsonFactory()
      val corrupt = StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
      val merge = JsonInferSchema.compatibleRootType(
        options.columnNameOfCorruptRecord, options.parseMode)
      val root = lines.foldLeft(StructType(Nil): DataType) { (acc, line) =>
        val t = try {
          Utils.tryWithResource(
              CreateJacksonParser.utf8String(factory, UTF8String.fromString(line))) { p =>
            p.nextToken()
            inference.inferField(p)
          }
        } catch {
          case _: JsonProcessingException | _: MalformedInputException |
              _: CharConversionException => corrupt
        }
        merge(acc, t)
      }
      // canonicalizeType drops empty structs, the root one included.
      inference.canonicalizeType(root, options)
        .collectFirst { case s: StructType => s }.getOrElse(StructType(Nil))
    }
  }
}
