package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazy). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSuite.session
  def sf(name: String) = s"/root/testdata/$name"
}

object SparkSuite {
  /** The tools' and the benchmark's own session, on 4 cores. */
  lazy val session: SparkSession = ToolSession.local("4", "WARN")
}
