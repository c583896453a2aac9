package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: its Spark build over a testdata directory, the DuckDB
  * SQL that must return the same rows, and whether it is a contract row —
  * a MEASUREMENT rather than a shippable operator (recall contracts that
  * run exact and approximate pipelines and intersect them, cap/guard
  * ledgers, quadratic `_exact` truth twins, arithmetic pins). Bench
  * reports contract and pipeline time separately; the per-query map and
  * the regression gate hold every row. */
final case class GateRow(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String, contract: Boolean = false)
