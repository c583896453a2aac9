package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators._
import Shared._

/** Relational rows over the TPC-H tables: the TPC-H query shapes, joins,
  * set operations, grouping, scalar functions and salted skew handling. */
object RelationalGate {
  def rows: Seq[GateRow] = Seq(
    GateRow("q1_agg", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val dec = DecimalType(18, 2)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
            ).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order").cast("double"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order").cast("double"))
    }, oracle = s"""WITH a AS (SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus)
         |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
         |  sum_disc_price, count_order,
         |  sum_qty / CAST(count_order AS DOUBLE) AS avg_qty,
         |  sum_base_price / CAST(count_order AS DOUBLE) AS avg_price
         |FROM a""".stripMargin),

    // TPC-H q6 shape: tight filtered aggregation — the predicate set
    // must reach the parquet scan as pushed filters.
    GateRow("q6_revenue_band", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(sum((col("l_extendedprice").cast(dec) *
          col("l_discount").cast(dec))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, oracle = RelationalSql.q6RevenueBand),

    GateRow("orders_by_month", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }, oracle = RelationalSql.ordersByMonth),

    GateRow("topk_orders_by_priority", ((s, dir) =>
      AnalyticOps.topKPerGroup(
        t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)),
      oracle = RelationalSql.topKOrders(3)),

    GateRow("rollup_lineitem", { (s, dir) =>
      val dec = DecimalType(18, 2)
      AnalyticOps.rollupAgg(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
        Seq(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty")))
    }, oracle = RelationalSql.rollupLineitem),

    GateRow("q3_shipping_priority", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val cust = t(s, dir, "customer").filter(col("c_nationkey") < 5)
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      // Dim chain broadcasts (customer filter, then orders×lineitem shuffles
      // on the join key once).
      val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
      // Global top-10: TakeOrderedAndProject (partial top-k per
      // partition), NOT a single-partition global window over all groups.
      AnalyticOps.globalTopK(agg, Seq(col("revenue").desc, col("o_orderkey")), 10)
    }, oracle = RelationalSql.q3ShippingPriority),

    GateRow("q5_nation_revenue", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") =!= "ASIA")
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, oracle = RelationalSql.q5NationRevenue),

    GateRow("join_customer_orders", { (s, dir) =>
      val dec = DecimalType(18, 2)
      // Dim side (customer) is small → Catalyst broadcasts it; the fact
      // scan never shuffles.
      t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }, oracle = RelationalSql.joinCustomerOrders),

    GateRow("set_ops_customers", { (s, dir) =>
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      urgent.intersect(high)
        .unionByName(urgent.except(high))
        .withColumnRenamed("o_custkey", "custkey")
    }, oracle = RelationalSql.setOpsCustomers),

    GateRow("count_distinct_exact", ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),
      oracle = RelationalSql.countDistinctExact),

    GateRow("ntile_quartiles", ((s, dir) =>
      // Quartile assignment (integer-exact, fully tie-broken) — computed
      // distributed (range-partition + zipWithIndex + bucket formula),
      // not via the single-partition global-window ntile.
      AnalyticOps.globalNtile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        4, Seq(col("o_totalprice"), col("o_orderkey")), "quartile")),
      oracle = RelationalSql.ntileQuartiles),

    // ---- joins: explicit semi / anti forms (the upsert's building
    // blocks as first-class relational operators) ----
    GateRow("left_join_counts", ((s, dir) =>
      // LEFT OUTER join preserved-side semantics: customers with zero
      // orders keep their row (count of the null-extended side = 0).
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))),
      oracle = RelationalSql.leftJoinCounts),

    GateRow("full_outer_flags", { (s, dir) =>
      // FULL OUTER join: presence flags on both sides survive.
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("uk")).distinct()
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey").as("hk")).distinct()
      urgent.join(high, col("uk") === col("hk"), "full_outer")
        .select(coalesce(col("uk"), col("hk")).as("custkey"),
          col("uk").isNotNull.as("has_urgent"),
          col("hk").isNotNull.as("has_high"))
    }, oracle = RelationalSql.fullOuterFlags),

    GateRow("semi_anti_orders", { (s, dir) =>
      val cust = t(s, dir, "customer").select(col("c_custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val any = t(s, dir, "orders").select(col("o_custkey"))
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_urgent").as("tag"))
        .unionByName(
          cust.join(any, col("c_custkey") === col("o_custkey"), "left_anti")
            .select(col("c_custkey"), lit("no_orders").as("tag")))
    }, oracle = RelationalSql.semiAntiOrders),

    // TPC-H q11 shape over the derived partsupp (see RelationalSql.partsuppCte
    // — integer cents keep every aggregate exact): stock value per part
    // for suppliers in the first five nations, kept where the part's
    // value exceeds 0.1% of the total (integer comparison, no float
    // threshold).
    GateRow("q11_important_stock", { (s, dir) =>
      val ps = derivedPartsupp(s, dir)
        .join(t(s, dir, "supplier")
          .filter(col("s_nationkey") < 5).select(col("s_suppkey")),
          col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("ps_partkey"),
          (col("ps_cost_cents") * col("ps_availqty")).as("value_cents"))
      val perPart = ps.groupBy(col("ps_partkey"))
        .agg(sum(col("value_cents")).as("part_cents"))
      val total = perPart.agg(sum(col("part_cents")).as("total_cents"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_cents") * 1000 > col("total_cents"))
        .select(col("ps_partkey"),
          (col("part_cents").cast("double") / 100.0).as("stock_value"))
    }, oracle = s"""WITH ${RelationalSql.partsuppCte},
         |f AS (SELECT ps_partkey,
         |  CAST(ps_cost_cents * ps_availqty AS BIGINT) AS value_cents
         |  FROM ps WHERE ps_suppkey IN
         |    (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)),
         |pp AS (SELECT ps_partkey,
         |  CAST(SUM(value_cents) AS BIGINT) AS part_cents
         |  FROM f GROUP BY ps_partkey),
         |tt AS (SELECT CAST(SUM(part_cents) AS BIGINT) AS total_cents FROM pp)
         |SELECT ps_partkey,
         |  CAST(part_cents AS DOUBLE) / 100.0 AS stock_value
         |FROM pp, tt WHERE part_cents * 1000 > total_cents""".stripMargin),

    // TPC-H q2 shape over the derived partsupp: the cheapest supplier
    // per PROMO part among suppliers in the first two regions — the
    // correlated-min pattern as two exact integer min-aggregations
    // (min cents, then min suppkey among ties), top 20 by account
    // balance.
    GateRow("q2_min_cost_supplier", { (s, dir) =>
      val regionSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_regionkey") < 2).select(col("n_nationkey"),
            col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = derivedPartsupp(s, dir)
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_type") === "PROMO").select(col("p_partkey"))),
          col("ps_partkey") === col("p_partkey"))
        .join(regionSupp.select(col("s_suppkey")),
          col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_cost_cents"))
      val minCost = ps.groupBy(col("ps_partkey"))
        .agg(min(col("ps_cost_cents")).as("min_cents"))
      val winner = ps.join(minCost, Seq("ps_partkey"))
        .filter(col("ps_cost_cents") === col("min_cents"))
        .groupBy(col("ps_partkey"), col("min_cents"))
        .agg(min(col("ps_suppkey")).as("win_suppkey"))
      winner.join(regionSupp, col("win_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("ps_partkey"),
          (col("min_cents").cast("double") / 100.0).as("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("ps_partkey")).limit(20)
    }, oracle = s"""WITH ${RelationalSql.partsuppCte},
         |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_regionkey < 2),
         |f AS (SELECT ps_partkey, ps_suppkey, ps_cost_cents FROM ps
         |  WHERE ps_partkey IN (SELECT p_partkey FROM part
         |    WHERE p_type = 'PROMO')
         |    AND ps_suppkey IN (SELECT s_suppkey FROM rs)),
         |mc AS (SELECT ps_partkey, min(ps_cost_cents) AS min_cents
         |  FROM f GROUP BY ps_partkey),
         |w AS (SELECT f.ps_partkey, min_cents, min(ps_suppkey) AS win_suppkey
         |  FROM f JOIN mc ON f.ps_partkey = mc.ps_partkey
         |    AND f.ps_cost_cents = mc.min_cents
         |  GROUP BY f.ps_partkey, min_cents)
         |SELECT s_acctbal, s_name, n_name, ps_partkey,
         |  CAST(min_cents AS DOUBLE) / 100.0 AS supply_cost
         |FROM w JOIN rs ON win_suppkey = s_suppkey
         |ORDER BY s_acctbal DESC, ps_partkey LIMIT 20""".stripMargin),

    // TPC-H q9 in its TRUE shape (the earlier q9_profit_nation_year used
    // retail price as a cost proxy): profit by supplier nation and order
    // year with the derived partsupp's per-(part, supplier) cost —
    // revenue as an exact decimal sum, cost as an exact integer cents
    // sum, one double subtraction at the end.
    GateRow("q9_profit_partsupp", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .filter(col("l_partkey") % 4 === 0) // a quarter of parts, q9's p_name-LIKE analog
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(derivedPartsupp(s, dir),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast("double").as("revenue"),
          (sum(col("ps_cost_cents") * col("l_quantity").cast("long"))
            .cast("double") / 100.0).as("supply_cost"))
        .withColumn("profit", col("revenue") - col("supply_cost"))
    }, oracle = s"""WITH ${RelationalSql.partsuppCte}
         |SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |    AS DOUBLE) AS revenue,
         |  CAST(CAST(SUM(ps_cost_cents * CAST(l_quantity AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 100.0 AS supply_cost,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |    AS DOUBLE) -
         |  CAST(CAST(SUM(ps_cost_cents * CAST(l_quantity AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 100.0 AS profit
         |FROM lineitem
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_partkey % 4 = 0
         |GROUP BY 1, 2""".stripMargin),

    // TPC-H q16 shape over the derived partsupp: distinct supplier count
    // per (brand, type, size) for parts outside one brand.
    GateRow("q16_supplier_variety", { (s, dir) =>
      derivedPartsupp(s, dir)
        .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#3" && col("p_size") <= 20)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
          col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    }, oracle = s"""WITH ${RelationalSql.partsuppCte}
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#3' AND p_size <= 20
         |GROUP BY p_brand, p_type, p_size""".stripMargin),

    // TPC-H q20 shape: suppliers holding excess stock — availqty more
    // than half the 1996 shipped quantity of that (part, supplier).
    // Quantities are integral, so 2*availqty > sum(qty) is an exact
    // integer comparison (no 0.5 float factor).
    GateRow("q20_excess_stock", { (s, dir) =>
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty_shipped"))
      val excess = derivedPartsupp(s, dir)
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty_shipped"))
        .select(col("ps_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }, oracle = s"""WITH ${RelationalSql.partsuppCte},
         |sh AS (SELECT l_partkey, l_suppkey,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_shipped
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_partkey, l_suppkey)
         |SELECT s_suppkey, s_name FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT ps_suppkey FROM ps JOIN sh
         |    ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |  WHERE ps_availqty * 2 > qty_shipped)""".stripMargin),

    GateRow("date_functions_orders", ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("omonth"),
        quarter(col("o_orderdate")).as("q"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_add(col("o_orderdate"), 30).cast("timestamp").as("d30"),
        last_day(col("o_orderdate")).cast("timestamp").as("dlast"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"))),
      oracle = RelationalSql.dateFunctionsOrders),

    GateRow("null_handling", ((s, dir) =>
      // Conditional/null scalar family over planted nulls (the testdata
      // itself is null-free): nullif plants them, the rest handle them.
      t(s, dir, "orders").select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("maybe_status"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or"),
        when(col("o_totalprice") > 300000.0, col("o_totalprice")).as("big_or_null"),
        nvl2(nullif(col("o_orderstatus"), lit("O")), lit(1L), lit(0L)).as("has_status"),
        greatest(col("o_custkey"), col("o_orderkey") % 1000).as("g"),
        least(col("o_custkey"), col("o_orderkey") % 1000).as("l"))),
      oracle = RelationalSql.nullHandling),

    GateRow("having_big_customers", ((s, dir) =>
      // GROUP BY + HAVING: repeat customers, with their latest order ts.
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_orderdate")).as("last_order"))
        .filter(col("n_orders") >= 12)),
      oracle = RelationalSql.havingBigCustomers),

    GateRow("profile_orders", ((s, dir) =>
      // One-pass table profiling (row count, per-column cardinalities,
      // value ranges) — the data-quality summary a pipeline runs before
      // training ingestion.
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderstatus")).as("d_status"),
        countDistinct(col("o_orderpriority")).as("d_priority"),
        countDistinct(col("o_custkey")).as("d_custkey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"))),
      oracle = RelationalSql.profileOrders),

    GateRow("trailing_7d_revenue", { (s, dir) =>
      // Trailing 7-day revenue per active day, WITHOUT a global range
      // window (single-partition at scale): each day's decimal revenue
      // is exploded to the 7 days it contributes to and re-aggregated —
      // decimal addition is associative, so re-merging is exact.
      val dec = DecimalType(18, 2)
      val daily = t(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev"))
      val contrib = daily
        .select(col("rev"), col("day"), explode(sequence(lit(0), lit(6))).as("k"))
        .select(expr("timestampadd(DAY, k, day)").as("day"), col("rev"))
        .groupBy(col("day")).agg(sum(col("rev")).cast("double").as("rev_7d"))
      contrib.join(daily.select(col("day")), "day")
        .select(col("day"), col("rev_7d"))
    }, oracle = RelationalSql.trailing7dRevenue),

    GateRow("salted_join_customer_orders", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val fact = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"), col("o_orderkey"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      SkewOps.saltedJoin(fact, dim, "custkey", 8, col("o_orderkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }, oracle = RelationalSql.joinCustomerOrders),

    // Bloom-prefiltered join: the selective order subset's keys become a
    // distributed-built Bloom sketch; lineitem rows are probed against it
    // BEFORE the join shuffle (only ~might-match rows move), then the
    // equi-join removes false positives — row-identical to the plain
    // join, at a fraction of the shuffled bytes.
    GateRow("bloom_prefilter_join", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val small = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      SkewOps.bloomPrefilteredJoin(big, small, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
    }, oracle = """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
        |GROUP BY o_orderpriority""".stripMargin),

    // ---- TPC-H q17 shape: aggregate-derived per-group threshold
    // (scalar subquery as a join against the per-part averages) ----
    GateRow("q17_small_quantity", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val brandParts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg((sum(col("l_quantity").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("avg_qty"))
      li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast(dec)).cast("double") / lit(7.0))
          .as("avg_yearly"))
    }, oracle = RelationalSql.q17SmallQuantity),

    GateRow("supplier_nation_acctbal", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(dec)).cast("double").as("total_acctbal"))
    }, oracle = RelationalSql.supplierNationAcctbal),

    // TPC-H q4 shape: EXISTS decorrelated to a left-semi join — orders
    // with at least one lineitem shipped >60 days after order date.
    // The semi join shuffles on the order key once; no row duplication.
    GateRow("q4_priority_exists", { (s, dir) =>
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > expr("timestampadd(DAY, 60, o_orderdate)"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }, oracle = """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin),

    // TPC-H q10 shape: returned-item revenue per customer, global top-20
    // via TakeOrderedAndProject (partial per-partition top-k, no global
    // sort). Nation broadcasts; the fact-side join shuffles once.
    GateRow("q10_returned_revenue", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      returned.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }, oracle = """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H q12 shape: late-shipment share per priority (conditional
    // aggregation over the orders×lineitem join).
    GateRow("q12_late_shipments", { (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("l_shipdate") > expr("timestampadd(DAY, 90, o_orderdate)"), 1L)
          .otherwise(0L)).as("late_count"),
          count(lit(1)).as("total_count"))
    }, oracle = """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |      THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
        |  count(*) AS total_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // TPC-H q13: customer order-count distribution — left join preserving
    // order-less customers, then a histogram of the per-customer counts.
    GateRow("q13_customer_distribution", { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }, oracle = """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count""".stripMargin),

    // TPC-H q14 shape: promo revenue share — two decimal sums in one
    // pass over the part-joined lineitems, ratio taken in double.
    GateRow("q14_promo_revenue", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val discPrice = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", discPrice).otherwise(lit(0).cast(dec)))
          .cast("double").as("promo_revenue"),
          sum(discPrice).cast("double").as("total_revenue"))
        .select((lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_pct"),
          col("promo_revenue"), col("total_revenue"))
    }, oracle = """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT 100.0 * promo_revenue / total_revenue AS promo_pct,
        |  promo_revenue, total_revenue FROM a""".stripMargin),

    // TPC-H q18 shape: large-volume orders (HAVING over the lineitem
    // rollup, then joined back to order/customer detail).
    GateRow("q18_large_orders", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
    }, oracle = """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // TPC-H q19 shape: disjunctive brand/size/quantity bands — the whole
    // OR-of-ANDs predicate evaluates inside one codegen'd filter after a
    // broadcast join with part.
    GateRow("q19_band_revenue", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_type") === "PROMO" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 40)))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, oracle = """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    // TPC-H q22 shape: above-average-balance customers with no URGENT
    // orders (every customer has SOME order in this data, so the classic
    // no-orders predicate would be vacuous). The average is an exact
    // decimal-sum scalar (broadcast cross join), so the threshold
    // comparison is bit-identical to the oracle; the NOT EXISTS is a
    // left-anti join.
    GateRow("q22_idle_customers", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("__avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
    }, oracle = """WITH avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS a
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, avg_bal
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin),

    // TPC-H q7 shape: shipping volume between a nation pair, by ship year.
    // Both dimension sides are pre-filtered to the two nations BEFORE the
    // fact join (at 100 TB this shrinks supplier/customer by ~12x each and
    // lets AQE pick broadcast for the dim sides); nation itself is
    // broadcast explicitly.
    GateRow("q7_volume_shipping", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))))
          .cast("double").as("revenue"))
    }, oracle = """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin),

    // TPC-H q8 shape: one nation's market share of revenue sold into a
    // region, by order year. Share = decimal-sum(conditional) over
    // decimal-sum(total), divided once in double (bit-identical both
    // engines).
    GateRow("q8_market_share", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val asiaCust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val vol = (col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast(dec))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
    }, oracle = """SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin),

    // TPC-H q9 shape (adapted: no partsupp table in this corpus, so unit
    // cost is p_retailprice): profit by supplier nation and order year
    // over parts whose name contains 'red'. Part/supplier dims pre-pruned
    // and broadcast-joined; profit stays decimal until the final cast.
    GateRow("q9_profit_nation_year", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val redParts = t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNat = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)) -
          col("p_retailprice").cast(dec) * col("l_quantity").cast(dec))
          .cast("double").as("profit"))
    }, oracle = """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) -
        |    CAST(p_retailprice AS DECIMAL(18,2)) *
        |    CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin),

    // TPC-H q15 shape: supplier(s) with the maximum revenue over a fixed
    // quarter. The max is taken on the EXACT decimal sum (not the double
    // projection), so the tie comparison is bit-identical to the oracle;
    // the scalar max joins back via broadcast.
    GateRow("q15_top_supplier", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))).as("rev_dec"))
      rev.crossJoin(broadcast(rev.agg(max(col("rev_dec")).as("max_rev"))))
        .filter(col("rev_dec") === col("max_rev"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_rev"))
    }, oracle = """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)""".stripMargin),

    // TPC-H q21 shape (adapted: late = shipped >60 days after order date;
    // this corpus has no commit/receipt dates): suppliers who were the
    // SOLE late supplier on a multi-supplier finalized order. The
    // correlated EXISTS / NOT EXISTS pair is reformulated as one
    // per-order aggregate (distinct suppliers vs distinct late suppliers)
    // — a single extra shuffle instead of two correlated self-joins.
    GateRow("q21_waiting_supplier", { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      // Two-level agg instead of two countDistincts in one aggregate
      // (which would plan a 3x Expand): per-(order, supplier) late flag,
      // then per-order counts.
      val perOrder = li.groupBy(col("o_orderkey").as("po_orderkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(max(col("late")).as("supp_late"))
        .groupBy(col("po_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late_supp"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        .select(col("po_orderkey"))
      li.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("po_orderkey"), "left_semi")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    }, oracle = """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    // Relational reshaping: UNPIVOT (melt) the four lineitem measures to
    // long form, then re-aggregate. Narrow-to-long is a pure projection
    // (4x row explosion, no shuffle until the final 4-group agg).
    GateRow("unpivot_lineitem", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(sum(col("val").cast(dec)).cast("double").as("total"),
          count(lit(1)).as("n"))
    }, oracle = """WITH m AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure,
        |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM m GROUP BY measure""".stripMargin),

    // Time-series gap fill: left-join a generated daily date spine
    // (sequence over the min/max bounds, broadcast scalar) against sparse
    // per-day aggregates and zero-fill the holes. URGENT orders are
    // sparse enough (~1/day) that real gaps exist at every SF.
    GateRow("gap_fill_daily", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(date_trunc("day", col("o_orderdate")).as("day"),
          col("o_totalprice"))
      val daily = urgent.groupBy(col("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
      val spine = urgent
        .agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
        .select(explode(sequence(col("mind"), col("maxd"),
          expr("INTERVAL 1 DAY"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
    }, oracle = """WITH urgent AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    o_totalprice
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |daily AS (SELECT day, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM urgent GROUP BY day),
        |spine AS (SELECT unnest(range((SELECT min(day) FROM urgent),
        |  (SELECT max(day) FROM urgent) + INTERVAL 1 DAY,
        |  INTERVAL 1 DAY)) AS day)
        |SELECT spine.day AS day,
        |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        |  COALESCE(revenue, 0.0) AS revenue
        |FROM spine LEFT JOIN daily ON spine.day = daily.day""".stripMargin),

    // Percent-of-total: each priority's share of global revenue. The
    // global total is an exact decimal scalar broadcast back (NOT an
    // unpartitioned window — that would serialize the whole table
    // through one task); one double division on each side.
    GateRow("revenue_share_by_priority", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val byP = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev_dec"),
          count(lit(1)).as("n_orders"))
      val tot = byP.agg(sum(col("rev_dec")).as("tot_dec"))
      byP.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"),
          col("rev_dec").cast("double").as("revenue"),
          (col("rev_dec").cast("double") / col("tot_dec").cast("double"))
            .as("share"),
          col("n_orders"))
    }, oracle = """WITH byp AS (SELECT o_orderpriority,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |  count(*) AS n_orders
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) /
        |    CAST((SELECT SUM(rev_dec) FROM byp) AS DOUBLE) AS share,
        |  n_orders
        |FROM byp""".stripMargin),

    // RANGE window frame over event time: per-customer trailing-30-day
    // spend, the value-based frame (every row its own anchor) that ROWS
    // frames can't express. Ordered on epoch seconds so both engines
    // frame identically; decimal running sum so partial order is exact.
    GateRow("range_frame_spend", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dec = DecimalType(18, 2)
      val w = Window.partitionBy(col("o_custkey"))
        // NTZ → timestamp (UTC session) → epoch seconds
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(dec)).over(w)
            .cast("double").as("spend_30d"))
    }, oracle = """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS spend_30d
        |FROM orders""".stripMargin),

    // Month-over-month revenue growth via a self-join on the aggregated
    // month table (NOT an unpartitioned lag window — the raw data never
    // passes through a single partition; the tiny month table joins to
    // itself broadcast).
    GateRow("revenue_mom_growth", { (s, dir) =>
      val dec = DecimalType(18, 2)
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev_dec"))
      val prev = m.select(expr("month + INTERVAL 1 MONTH").as("month"),
        col("rev_dec").as("prev_dec"))
      m.join(broadcast(prev), Seq("month"), "left")
        .select(col("month"), col("rev_dec").cast("double").as("revenue"),
          ((col("rev_dec") - col("prev_dec")).cast("double") /
            col("prev_dec").cast("double")).as("mom_growth"))
    }, oracle = """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |    AS month,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1)
        |SELECT cur.month AS month,
        |  CAST(cur.rev_dec AS DOUBLE) AS revenue,
        |  CAST(cur.rev_dec - prev.rev_dec AS DOUBLE) /
        |    CAST(prev.rev_dec AS DOUBLE) AS mom_growth
        |FROM m cur LEFT JOIN m prev
        |  ON cur.month = prev.month + INTERVAL 1 MONTH""".stripMargin),

    // Null-safe equality join (<=>): planted nulls on both sides still
    // pair up — the semantics a plain equi-join silently drops.
    GateRow("null_safe_join_counts", { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("ck"))
      val nat = t(s, dir, "nation")
        .select(nullif(col("n_nationkey"), lit(3)).as("nk"), col("n_name"))
      cust.join(broadcast(nat), col("ck") <=> col("nk"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
    }, oracle = """SELECT n_name, count(*) AS n_cust
        |FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS ck FROM customer) c
        |JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
        |  ON c.ck IS NOT DISTINCT FROM n.nk
        |GROUP BY n_name""".stripMargin),

    // Top-k as a typed Aggregator (graft.functions.TopKLargest): partial
    // k-bounded buffers merge map-side, so the shuffle carries only
    // O(groups*k*partitions) rows — the aggregation form of top-k next
    // to the WindowGroupLimit form (topk_orders_by_priority). Same
    // oracle family: unique (value desc, id) order.
    GateRow("topk_agg_revenue", { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          col("o_totalprice").as("value"), col("o_orderkey").as("id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(r => graft.functions.TopKItem(r._2, r._3))
        .agg(graft.functions.TopKAgg.topKLargest(5).name("topk"))
        .toDF("o_orderpriority", "topk")
        .select(col("o_orderpriority"),
          posexplode(col("topk.items")).as(Seq("pos", "item")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
          col("item.id").as("o_orderkey"),
          col("item.value").as("o_totalprice"))
    }, oracle = """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk,
        |  o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 5""".stripMargin),

    // Markov transition counts: consecutive order-priority pairs per
    // customer (lag over the per-customer order sequence) — the
    // behavioral sequence-model building block.
    GateRow("priority_transitions", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"),
          lag(col("o_orderpriority"), 1).over(w).as("prev_priority"))
        .filter(col("prev_priority").isNotNull)
        .groupBy(col("prev_priority"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }, oracle = """SELECT prev_priority, o_orderpriority, count(*) AS n FROM (
        |  SELECT o_custkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_priority
        |  FROM orders)
        |WHERE prev_priority IS NOT NULL
        |GROUP BY prev_priority, o_orderpriority""".stripMargin),

    // SQL front-end parity: the same q6 semantics submitted as ANSI SQL
    // through spark.sql over a temp view (Catalyst plans both forms to
    // the same physical plan; the oracle is shared with q6_revenue_band).
    GateRow("sql_interface_q6", { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_sqlv")
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem_sqlv
          |WHERE l_discount >= 0.05 AND l_discount <= 0.07
          |  AND l_quantity < 24.0""".stripMargin)
    }, oracle = RelationalSql.q6RevenueBand),

    // Fixed-width histogram over order totals: integer-exact bucketing
    // (cents div bucket width — identical integer arithmetic in both
    // engines; see scalar_functions' value_cents precedent). One
    // hash-agg, fully codegen'd.
    GateRow("price_histogram", { (s, dir) =>
      val dec = DecimalType(18, 2)
      t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) div 2500000")
          .as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
    }, oracle = """SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 2500000 AS bucket,
        |  count(*) AS n_orders,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin),
  )

  /** Deterministic derived partsupp (the corpus ships none — see
    * [[RelationalSql.partsuppCte]] for the matching SQL, generated from the
    * same constants): 4 supplier rows per part, cost in integer CENTS. */
  private def derivedPartsupp(s: SparkSession, dir: String): DataFrame = {
    import RelationalSql._
    val nSupp = t(s, dir, "supplier").agg((max(col("s_suppkey")) + 1)
      .as("__n_supp"))
    t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(broadcast(nSupp))
      .select(col("p_partkey"), col("__n_supp"),
        explode(sequence(lit(0), lit(PsPerPart - 1))).as("i"))
      .select(col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * PsMulKey + col("i") * PsMulI) % col("__n_supp"))
          .as("ps_suppkey"),
        ((col("p_partkey") * PsQtyMulKey + col("i") * PsQtyMulI) %
          PsQtyMod + 1).as("ps_availqty"),
        ((col("p_partkey") * PsCostMulKey + col("i") * PsCostMulI) %
          PsCostMod + PsCostBase).as("ps_cost_cents"))
  }
}

/** DuckDB oracle builders that only the relational rows use. */
object RelationalSql {
  import graft.Oracles._

  def topKOrders(k: Int): String =
    s"""SELECT * FROM (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice,
       |    rank() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
       |  FROM orders) WHERE rank <= $k""".stripMargin

  /** Derived-partsupp constants — the corpus ships no partsupp table, so
    * the q2/q11/q16 family runs over a DETERMINISTIC derivation (4
    * supplier rows per part, integer-hash spread; cost held in integer
    * CENTS so every downstream aggregate is exact). Shared by the Spark
    * side and the generated CTE below. */
  val PsPerPart = 4
  val PsMulKey = 7919L
  val PsMulI = 104729L
  val PsQtyMulKey = 31L
  val PsQtyMulI = 17L
  val PsQtyMod = 1000L
  val PsCostMulKey = 13L
  val PsCostMulI = 7L
  val PsCostMod = 90000L
  val PsCostBase = 1000L

  /** The partsupp derivation as a DuckDB CTE body (one row per
    * (part, i<PsPerPart)); `ps(ps_partkey, ps_suppkey, ps_availqty,
    * ps_cost_cents)`. */
  def partsuppCte: String =
    s"""ps AS (SELECT p_partkey AS ps_partkey,
       |  (p_partkey * $PsMulKey + i * $PsMulI) %
       |    (SELECT max(s_suppkey) + 1 FROM supplier) AS ps_suppkey,
       |  (p_partkey * $PsQtyMulKey + i * $PsQtyMulI) % $PsQtyMod + 1
       |    AS ps_availqty,
       |  (p_partkey * $PsCostMulKey + i * $PsCostMulI) % $PsCostMod +
       |    $PsCostBase AS ps_cost_cents
       |FROM part, LATERAL (SELECT unnest(range(0, $PsPerPart)) AS i) t)""".stripMargin

  val rollupLineitem: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  val joinCustomerOrders: String =
    """SELECT c_nationkey, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey""".stripMargin

  val setOpsCustomers: String =
    """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |high AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT o_custkey AS custkey FROM (
      |  SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM high)
      |UNION ALL
      |SELECT o_custkey AS custkey FROM (
      |  SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM high)""".stripMargin

  val countDistinctExact: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  val ntileQuartiles: String =
    """SELECT o_orderkey, o_totalprice,
      |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      |FROM orders""".stripMargin

  val q3ShippingPriority: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderdate, o_orderpriority,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |    rank() OVER (ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) DESC,
      |      o_orderkey) AS rank
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN (SELECT c_custkey FROM customer WHERE c_nationkey < 5) c
      |    ON o_custkey = c_custkey
      |  GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |) WHERE rank <= 10""".stripMargin

  val q6RevenueBand: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin

  val ordersByMonth: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |  count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1""".stripMargin

  val leftJoinCounts: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin

  val fullOuterFlags: String =
    """WITH u AS (SELECT DISTINCT o_custkey AS uk FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |h AS (SELECT DISTINCT o_custkey AS hk FROM orders
      |  WHERE o_orderpriority = '2-HIGH')
      |SELECT coalesce(uk, hk) AS custkey,
      |  uk IS NOT NULL AS has_urgent,
      |  hk IS NOT NULL AS has_high
      |FROM u FULL OUTER JOIN h ON uk = hk""".stripMargin

  val semiAntiOrders: String =
    """SELECT c_custkey, 'has_urgent' AS tag FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT c_custkey, 'no_orders' AS tag FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** Date/time scalar family. DuckDB dayofweek is 0-based (Sunday=0);
    * Spark's is 1-based — hence the +1. Date results are cast to
    * TIMESTAMP on both sides for a uniform compare dtype. */
  val dateFunctionsOrders: String =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS omonth,
      |  quarter(o_orderdate) AS q,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS d30,
      |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS dlast,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
      |FROM orders""".stripMargin

  val nullHandling: String =
    """SELECT o_orderkey,
      |  nullif(o_orderstatus, 'O') AS maybe_status,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or,
      |  CASE WHEN o_totalprice > 300000.0 THEN o_totalprice END AS big_or_null,
      |  CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
      |    THEN 1 ELSE 0 END AS has_status,
      |  greatest(o_custkey, o_orderkey % 1000) AS g,
      |  least(o_custkey, o_orderkey % 1000) AS l
      |FROM orders""".stripMargin

  val havingBigCustomers: String =
    """SELECT o_custkey, count(*) AS n_orders, max(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 12""".stripMargin

  val profileOrders: String =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT o_orderstatus) AS d_status,
      |  count(DISTINCT o_orderpriority) AS d_priority,
      |  count(DISTINCT o_custkey) AS d_custkey,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
      |FROM orders""".stripMargin

  /** Trailing 7-day revenue per active day via a bounded range join —
    * the oracle twin of the explode + re-aggregate Spark plan. Decimal
    * all the way; one cast to double at the end. */
  val trailing7dRevenue: String =
    """WITH daily AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT d2.day AS day, CAST(SUM(d1.rev) AS DOUBLE) AS rev_7d
      |FROM daily d1 JOIN daily d2
      |  ON d2.day >= d1.day AND d2.day <= d1.day + INTERVAL 6 DAY
      |GROUP BY d2.day""".stripMargin

  /** q17 shape: per-part average as the filter threshold. Same decimal
    * sums, same double op order (sum/n, 0.2*avg, sum/7.0). */
  val q17SmallQuantity: String =
    """WITH avgq AS (SELECT l_partkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem
      |JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') p
      |  ON l_partkey = p_partkey
      |JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  val supplierNationAcctbal: String =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  val q5NationRevenue: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name <> 'ASIA'
      |GROUP BY n_name""".stripMargin
}
