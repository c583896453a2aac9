package e2ebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts the right output and rejects a planted
  * wrong one. Run with `sbt test` from the benchmark's directory. */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = graft.ToolSession.local("2")
  private val model = Array(0, 2, 1, 0, 3)

  private def rows(pairs: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("id", "ver")
      .withColumn("name", concat(lit("n"), col("id"), lit("-v"), col("ver")))
  }
  private val right = model.indices.map(i => i.toLong -> model(i).toLong)

  test("the live table matching the model passes") {
    assert(Checks.liveTable(rows(right), model, model.length).isEmpty)
  }

  test("a missing row is rejected") {
    assert(Checks.liveTable(rows(right.filter(_._1 != 3)), model, model.length).nonEmpty)
  }

  test("a stale row is rejected") {
    assert(Checks.liveTable(rows(right.updated(1, 1L -> 1L)), model, model.length).nonEmpty)
  }

  test("a duplicated row is rejected") {
    assert(Checks.liveTable(rows(right :+ (4L -> 3L)), model, model.length).nonEmpty)
  }

  test("a duplicate standing in for a missing row is rejected") {
    assert(Checks.liveTable(rows(right.filter(_._1 != 3) :+ (4L -> 3L)), model,
      model.length).nonEmpty)
  }

  test("a row whose payload does not match its version is rejected") {
    val bad = rows(right).withColumn("name",
      when(col("id") === 2, lit("n2-v0")).otherwise(col("name")))
    assert(Checks.liveTable(bad, model, model.length).nonEmpty)
  }

  test("store growth must equal the planted fates exactly") {
    assert(Checks.growth((10, 20, 10), (12, 28, 12), (2, 8, 2)).isEmpty)
    assert(Checks.growth((10, 20, 10), (13, 28, 12), (2, 8, 2)).nonEmpty)
    assert(Checks.growth((10, 20, 10), (12, 27, 12), (2, 8, 2)).nonEmpty)
    assert(Checks.growth((10, 20, 10), (12, 28, 11), (2, 8, 2)).nonEmpty)
  }
}
