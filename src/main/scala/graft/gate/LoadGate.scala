package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Load-mode rows (reference L1-L3: append, overwrite, upsert, SCD2, CDC)
  * and the row encodings the loader stages (T1/T2: NDJSON, CSV). */
object LoadGate {
  def rows: Seq[GateRow] = Seq(
    GateRow("load_insert_append", ((s, dir) =>
      LoadOps.append(t(s, dir, "orders"), stagedOrders(s, dir))),
      oracle = s"""SELECT * FROM orders
         |UNION ALL
         |SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin),

    GateRow("load_truncate_insert", ((s, dir) =>
      LoadOps.overwrite(stagedOrders(s, dir))),
      oracle = s"""SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin),

    GateRow("load_upsert_merge", ((s, dir) =>
      LoadOps.merge(t(s, dir, "orders"), stagedOrders(s, dir), "o_orderkey")),
      oracle = s"""WITH staged AS (
         |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 7 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staged)
         |UNION ALL SELECT * FROM staged""".stripMargin),

    // Reference wart preserved: duplicate staged ids all land (L3).
    GateRow("load_upsert_dup_keys", { (s, dir) =>
      val base = t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
      val s1 = base.withColumn("o_orderpriority", lit("X1"))
      val s2 = base.withColumn("o_orderpriority", lit("X2"))
      LoadOps.merge(t(s, dir, "orders"), s1.unionByName(s2), "o_orderkey")
    }, oracle = s"""WITH staged AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, 'X1' AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 13 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, 'X2' AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staged)
         |UNION ALL SELECT * FROM staged""".stripMargin),

    // CDC derivation: classify keys across two snapshot versions (new
    // version = deletes every 10th key, restatuses every 7th, inserts
    // shifted copies of every 13th).
    GateRow("snapshot_diff", { (s, dir) =>
      val old = t(s, dir, "orders")
      val next = old.filter(col("o_orderkey") % 10 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("U")).otherwise(col("o_orderstatus")))
        .unionByName(old.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      LoadOps.snapshotDiff(old, next, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
    }, oracle = s"""WITH newt AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
         |      AS o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 10 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 13 = 0),
         |oldt AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
         |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
         |       WHEN n.o_orderkey IS NULL THEN 'delete'
         |       WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
         |        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
         |       THEN 'same' ELSE 'update' END AS change_type
         |FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey""".stripMargin),

    // CDC application: tombstones ('D', every 10th key) delete; the rest
    // of the changed keys (every 5th) upsert with a mutated status.
    GateRow("apply_cdc", { (s, dir) =>
      val target = t(s, dir, "orders")
      val changes = target.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("C"))
        .withColumn("op",
          when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("I")))
      LoadOps.applyCdc(target, changes, "o_orderkey", "op")
    }, oracle = s"""WITH changes AS (
         |  SELECT o_orderkey, o_custkey, 'C' AS o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority,
         |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'I' END AS op
         |  FROM orders WHERE o_orderkey % 5 = 0)
         |SELECT * FROM orders
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM changes WHERE op <> 'D'""".stripMargin),

    GateRow("ndjson_roundtrip", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val line = docs.select(
        to_json(struct(docs.columns.map(col).toIndexedSeq: _*)).as("line"))
      line
        .select(from_json(col("line"), docs.schema).as("r"))
        .select("r.*")
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // Point-in-time lookup over the SCD2 table: the version of each key
    // valid at the probe timestamp.
    GateRow("scd2_asof_lookup", { (s, dir) =>
      val target = t(s, dir, "orders")
        .withColumn("valid_from", lit("1990-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val probe = lit("1995-06-01").cast("timestamp")
      LoadOps.scd2Merge(target, stagedOrders(s, dir), "o_orderkey", lit("2000-01-01"))
        .filter(col("valid_from") <= probe &&
          (col("valid_to").isNull || col("valid_to") > probe))
        .select(col("o_orderkey"), col("o_orderstatus"), col("valid_from"))
    }, oracle = LoadSql.scd2AsofLookup),

    // SCD2 history-keeping upsert: replaced current rows get their
    // validity interval closed instead of being deleted (the
    // history-auditable variant of the reference's L3 merge).
    GateRow("load_scd2_merge", { (s, dir) =>
      val target = t(s, dir, "orders")
        .withColumn("valid_from", lit("1990-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      LoadOps.scd2Merge(target, stagedOrders(s, dir), "o_orderkey",
        lit("2000-01-01"))
    }, oracle = LoadSql.loadScd2Merge),

    // Data-quality gate: violation counts per failed-rule combination
    // (LoadOps.expectations — the declarative generalization of
    // MAXERROR from parse errors to arbitrary predicates).
    GateRow("expectation_violations", { (s, dir) =>
      val (_, bad) = LoadOps.expectations(t(s, dir, "orders"), Map(
        "status_final" -> (col("o_orderstatus") === "F"),
        "price_under_300k" -> (col("o_totalprice") < 300000.0)))
      bad.groupBy(col("failed_rules")).agg(count(lit(1)).as("n"))
    }, oracle = """WITH v AS (SELECT array_to_string(list_filter([
        |  CASE WHEN NOT coalesce(o_totalprice < 300000.0, false)
        |    THEN 'price_under_300k' END,
        |  CASE WHEN NOT coalesce(o_orderstatus = 'F', false)
        |    THEN 'status_final' END
        |  ], x -> x IS NOT NULL), ',') AS failed_rules
        |  FROM orders)
        |SELECT failed_rules, count(*) AS n FROM v
        |WHERE failed_rules <> '' GROUP BY failed_rules""".stripMargin),

    GateRow("csv_roundtrip", { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.select(to_csv(struct(docs.columns.map(col).toIndexedSeq: _*)).as("line"))
        .select(from_csv(col("line"), docs.schema,
          Map.empty[String, String]).as("r"))
        .select("r.*")
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
  )

  /** Staged "update" rows for the load-mode parity ops: every 7th order,
    * with a mutated status — the Spark side of the oracle's CTE. */
  private[graft] def stagedOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
}

/** DuckDB oracle builders that only the load rows use. */
object LoadSql {

  /** Point-in-time SCD2 lookup at 1995-06-01 over the merged target. */
  val scd2AsofLookup: String =
    """WITH staged AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    TIMESTAMP '1990-01-01' AS valid_from,
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM staged)
      |      THEN TIMESTAMP '2000-01-01' ELSE NULL END AS valid_to
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U' AS o_orderstatus,
      |    TIMESTAMP '2000-01-01' AS valid_from, NULL AS valid_to
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, o_orderstatus, valid_from FROM merged
      |WHERE valid_from <= TIMESTAMP '1995-06-01'
      |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-01')""".stripMargin

  /** SCD2 merge over a freshly-versioned orders target: replaced
    * current rows close at the effective timestamp; staged rows open
    * there. */
  val loadScd2Merge: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, TIMESTAMP '1990-01-01' AS valid_from,
      |  CASE WHEN o_orderkey IN (SELECT o_orderkey FROM staged)
      |    THEN TIMESTAMP '2000-01-01' ELSE NULL END AS valid_to
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, TIMESTAMP '2000-01-01' AS valid_from,
      |  NULL AS valid_to
      |FROM staged""".stripMargin
}
