package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gate._
import graft.operators.LoadOps

/** Driver contract: the index of the gate registry. Each operator family
  * defines its rows in one file under `graft.gate` ([[GateRow]]: Spark
  * build, DuckDB oracle, contract flag); the three views the drivers read
  * are derived here, so a row name is written once. Builds are pure
  * `(SparkSession, sfDir) => DataFrame` over the parquet testdata, aliased
  * like their oracles (the driver sorts columns by name before hashing).
  * Aggregates over doubles go through exact decimal casts, so the two
  * engines' summation orders cannot differ (SURVEY.md §7.4). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core semantic: key-based upsert merge (SURVEY.md §2.3
    * L3) of staged updates into the `orders` table. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    LoadOps.merge(Shared.t(spark, dir, "orders"), LoadGate.stagedOrders(spark, dir), "o_orderkey")
  }

  /** Every gate row, family by family; built on first use. */
  private[graft] lazy val rows: Seq[GateRow] =
    LoadGate.rows ++ TextGate.rows ++ CurationGate.rows ++ DedupGate.rows ++
      SimilarityGate.rows ++ MultimodalGate.rows ++ EventGate.rows ++ RelationalGate.rows

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** The contract rows, whose time Bench reports apart. */
  lazy val ContractQueries: Set[String] = rows.filter(_.contract).map(_.name).toSet

  def oracleSql: Map[String, String] = rows.map(r => r.name -> r.oracle).toMap
}
