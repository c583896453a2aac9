package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators._
import Shared._

/** Event-analytics rows over `events`: windows, sessions, as-of and
  * interval joins, funnels, retention, sketches and layout keys. */
object EventGate {
  def rows: Seq[GateRow] = Seq(
    // Robust anomaly statistics: median/MAD per group (the outlier
    // detector that, unlike mean/stddev, is not dragged by the outliers
    // it hunts). Exact interpolated medians (bit-identical engines), two
    // grouped passes + broadcast joins — the fact table never shuffles.
    GateRow("anomaly_mad_stats", { (s, dir) =>
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val withMed = ev.join(broadcast(med), "event_type")
      val mad = withMed.groupBy(col("event_type"))
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      withMed.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(abs(col("value") - col("med")) >
            lit(3.0 * 1.4826) * col("mad"), 1)).as("n_anomalies"),
          min(col("med")).as("med"), min(col("mad")).as("mad"))
    }, oracle = EventSql.anomalyMadStats),

    GateRow("events_tumbling_1h", ((s, dir) =>
      AnalyticOps.tumblingAgg(t(s, dir, "events"), "ts", "1 hour")),
      oracle = EventSql.tumbling1h),

    GateRow("sessionize_30m", ((s, dir) =>
      AnalyticOps.sessionize(t(s, dir, "events"), 30)),
      oracle = EventSql.sessionize(30)),

    GateRow("events_sliding_1h_30m", ((s, dir) =>
      // Sliding windows: each event lands in 2 overlapping 1h buckets.
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))),
      oracle = EventSql.sliding1h30m),

    GateRow("session_window_30m", ((s, dir) =>
      // Spark's native session windows (streaming-compatible gap merge);
      // same semantics as AnalyticOps.sessionize with end = max(ts)+gap.
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))),
      oracle = EventSql.sessionWindow30m),

    // Session-scoped conversion: within each gap session, did a click
    // precede a purchase? Built on the per-event session labels.
    GateRow("session_conversion", ((s, dir) =>
      AnalyticOps.sessionizeEvents(t(s, dir, "events"), 30)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .withColumn("converted",
          col("first_click") < col("first_purchase"))),
      oracle = EventSql.sessionConversion(30)),

    GateRow("interval_join_click_purchase", { (s, dir) =>
      // Bounded interval join: purchases within 10 minutes AFTER a click by
      // the same user. Equi-key on user (one shuffle), range as filter.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      clicks.join(purchases, "user_id")
        .filter(col("purchase_ts") >= col("click_ts") &&
          unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")) <= 600L)
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    }, oracle = EventSql.intervalJoinClickPurchase),

    GateRow("asof_click_purchase", { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    }, oracle = EventSql.asofClickPurchase),

    // Same as-of semantics, executed by the custom sort-merge physical
    // operator (plans.AsOfJoinExec: custom LogicalPlan + SparkStrategy +
    // SparkPlan) — per-side shuffles and a single forward merge walk
    // instead of the union+window composition. Checked against the SAME
    // oracle as asof_click_purchase.
    GateRow("asof_merge_exec_click", { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    }, oracle = EventSql.asofClickPurchase),

    GateRow("asof_forward_next_click", { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoinForward(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
    }, oracle = EventSql.asofForwardNextClick),

    // Forward + tolerance variants through the custom exec, against the
    // SAME oracles as their window-form twins.
    GateRow("asof_merge_exec_forward", { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id", forward = true)
    }, oracle = EventSql.asofForwardNextClick),

    GateRow("asof_merge_exec_tolerance", { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.plans.AsOfMergeJoin.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id",
        toleranceSec = Some(3600L))
    }, oracle = EventSql.asofToleranceClick),

    GateRow("asof_tolerance_click", { (s, dir) =>
      val ev = t(s, dir, "events")
      AnalyticOps.asofJoinTolerance(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id", toleranceSec = 3600L)
    }, oracle = EventSql.asofToleranceClick),

    // Concurrent sessions across users: interval × interval overlap via
    // bucketed candidates + exact verify (never O(n²) CANDIDATES — but
    // the OUTPUT is intrinsically quadratic in per-window user density:
    // measured 99.9x output at 10x data, ~1.5B pairs at 100x, CONTRACTS
    // §4. This stays the labeled all-pairs truth row; committed
    // pipelines ride session_topk_overlaps below.)
    GateRow("session_overlap_pairs", { (s, dir) =>
      // NOT checkpointed (r21: measured 1.03x — with only two
      // consumer legs the exchange reuse already covers it, unlike
      // session_topk_recall's six).
      val sess = AnalyticOps.sessionize(t(s, dir, "events"), 30)
      val a = sess.select(col("user_id").as("user_a"),
        col("session_start").as("start_a"), col("session_end").as("end_a"))
      val b = sess.select(col("user_id").as("user_b"),
        col("session_start").as("start_b"), col("session_end").as("end_b"))
      AnalyticOps.intervalOverlapJoin(a, b,
          "start_a", "end_a", "start_b", "end_b",
          bucketSec = 1800L, extraCond = col("user_a") < col("user_b"))
        .select(col("user_a"), col("start_a"), col("user_b"), col("start_b"))
    }, oracle = EventSql.sessionOverlapPairs(30)),

    // The BOUNDED concurrency twin (committed-pipeline form): per
    // session, its top-3 partners by true intersection seconds, with
    // per-bucket candidates pruned to the 32 longest sessions — output
    // ≤ k·sessions, work linear in sessions. The pruning is part of the
    // deterministic operator semantics (longest-first, (user, start)
    // tie-break), so the oracle replays it verbatim at any scale; the
    // recall vs the exact all-candidates form is pinned by the next
    // entry, not promised.
    GateRow("session_topk_overlaps", { (s, dir) =>
      AnalyticOps.topKOverlapsPerSession(
        // Not checkpointed (r21: measured 1.01x — two legs, covered
        // by exchange reuse; see session_overlap_pairs).
        AnalyticOps.sessionize(t(s, dir, "events"), 30),
        "user_id", "session_start", "session_end",
        k = SessionTopK, bucketSec = 1800L)
    }, oracle = EventSql.sessionTopkOverlaps(30, SessionTopK,
      1800L, AnalyticOps.TopOverlapCandidates)),

    // The bounded form's recall CONTRACT, measured in-gate (the
    // dedup_minhash_recall pattern): exact top-k rows, bounded top-k
    // rows, and their row-level intersection as one row of counts.
    GateRow("session_topk_recall", { (s, dir) =>
      // Sessionize ONCE for all consumers (each form reads it twice —
      // sessions + partners — and each form feeds both the intersect
      // and its own count: 6 plan legs re-ran the sessionize window
      // before this checkpoint). The FORMS deliberately stay
      // un-checkpointed: materializing them serializes the two
      // pipelines and measured 4.2 s vs 2.5 s with sess-only (r21
      // XProf) — recomputing a form leg from the tiny checkpointed
      // session frame is cheaper than the lost overlap.
      val sess = AnalyticOps.sessionize(t(s, dir, "events"), 30)
        .localCheckpoint(true)
      def form(m: Int) = AnalyticOps.topKOverlapsPerSession(sess,
        "user_id", "session_start", "session_end",
        k = SessionTopK, bucketSec = 1800L, candM = m)
      val exact = form(Int.MaxValue)
      val bounded = form(AnalyticOps.TopOverlapCandidates)
      // contractCounts counts DISTINCT rows: n_exact, n_bounded and
      // n_hit are distinct-row counts, equal to the row counts because
      // both forms are duplicate-free: one row per (session, rank ≤ k),
      // rank distinct within its window partition; all columns non-null. The
      // single-pass form also halves each UNCHECKPOINTED form's
      // consumer count (was two legs per form: its own count + the
      // semi-join side; now each feeds the tagged union once).
      contractCounts(exact, bounded, "n_bounded")
    }, oracle = EventSql.sessionTopkRecall(30, SessionTopK,
      1800L, AnalyticOps.TopOverlapCandidates), contract = true),

    // Sketch: KMV / bottom-k distinct estimate — the deterministic,
    // oracle-able counterpart of HLL (SketchOps.approxDistinct is the
    // tolerance-spec'd HLL twin). Both engines keep the k smallest
    // 60-bit md5 hashes and derive the estimate in pure integer
    // arithmetic, so the result hashes bit-identically.
    GateRow("kmv_distinct_users", ((s, dir) =>
      SketchOps.kmvDistinct(t(s, dir, "events"), Seq(col("event_type")),
        col("user_id"), KmvK)),
      oracle = EventSql.kmvDistinctUsers(KmvK)),

    // KMV distinct as a ONE-PASS typed aggregate (BottomKDistinct): the
    // window form above first shuffles the full distinct hash set; here
    // partial k-bounded buffers merge map-side and the shuffle carries
    // only O(groups·k·partitions) longs — the aggregation form of the
    // sketch, sharing the window form's oracle (same estimate by
    // construction; the spec also pins partition invariance).
    GateRow("kmv_distinct_users_agg", { (s, dir) =>
      import s.implicits._
      val k = KmvK
      // NULL guard matches SketchOps.kmvBottomK's sketch domain (a null
      // user_id would hash to a null hkey and break the Long encoder).
      t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type"),
          SketchOps.hash60(col("user_id")).as("hkey"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.BottomKAgg.bottomKDistinct(k).name("sk"))
        .map { case (t0, buf) =>
          val n = buf.keys.length
          val est = if (n < k) n.toLong
            else (k - 1L) * (SketchOps.HashDomain / buf.keys.last)
          (t0, est)
        }
        .toDF("event_type", "users_est")
    }, oracle = EventSql.kmvDistinctUsers(KmvK)),

    // Feature standardization: per-type z-scores from the exact-decimal
    // moment sums (the same fixed IEEE derivation as
    // stats_moments_by_type), joined back broadcast.
    GateRow("standardized_values", { (s, dir) =>
      val dec = DecimalType(18, 6)
      val nD = col("n").cast("double")
      val moments = t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"),
          sum(col("value").cast(dec) * col("value").cast(dec))
            .cast("double").as("sum_v2"))
        .select(col("event_type"), (col("sum_v") / nD).as("mean"),
          sqrt((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("std"))
      t(s, dir, "events").filter(col("event_id") % 50 === 0)
        .join(broadcast(moments), "event_type")
        .select(col("event_id"), col("event_type"),
          ((col("value") - col("mean")) / col("std")).as("z"))
    }, oracle = EventSql.standardizedValues),

    GateRow("scalar_functions", ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        upper(col("event_type")).as("type_upper"),
        substring(col("event_type"), 1, 3).as("type_prefix"),
        concat(col("event_type"), lit(":"), col("user_id").cast("string")).as("type_user"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        round(col("value") * 100, 0).cast("long").as("value_cents"),
        abs(col("value") - 50.0).as("dist50"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        levenshtein(col("event_type"), lit("click")).as("lev_click"),
        array_join(array(col("user_id").cast("string"),
          col("event_id").cast("string")), "-").as("id_pair_str"),
        array_max(array(col("user_id"), col("event_id"))).as("id_max"),
        length(col("props")).as("props_len"))),
      oracle = EventSql.scalarFunctions),

    GateRow("pivot_user_events", ((s, dir) =>
      // Crosstab: per-user event-type counts. Fixed pivot values so the
      // output schema is static (and the 100 TB plan is one hash-agg —
      // conditional aggregation, no per-value shuffle).
      t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)),
      oracle = EventSql.pivotUserEvents),

    GateRow("top1_latest_error", ((s, dir) =>
      // The reference's diagnostics top-1 (SELECT * FROM stl_load_errors
      // ORDER BY starttime DESC LIMIT 1 - core.ts:42) restated.
      t(s, dir, "events").filter(col("event_type") === "error")
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1)
        .select(col("event_id"), col("ts"), col("user_id"))),
      oracle = EventSql.top1LatestError),

    GateRow("cube_events", ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))),
      oracle = EventSql.cubeEvents),

    GateRow("window_running_user", { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wCum = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val w3 = w.rowsBetween(-2, 0)
      val dec = DecimalType(18, 6)
      t(s, dir, "events").select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lead(col("event_id"), 1).over(w).as("next_event_id"),
        row_number().over(w).as("seq"),
        sum(col("value").cast(dec)).over(wCum).cast("double").as("cum_value"),
        (sum(col("value").cast(dec)).over(w3).cast("double") /
          count(lit(1)).over(w3).cast("double")).as("avg3"))
    }, oracle = EventSql.windowRunningUser),

    GateRow("error_rate_by_hour", ((s, dir) =>
      // Operational monitoring: error share per hour-of-day (one count
      // pass, single double division).
      t(s, dir, "events").groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "error", 1)).as("errors"))
        .withColumn("error_rate",
          col("errors").cast("double") / col("n").cast("double"))),
      oracle = EventSql.errorRateByHour),

    // Pearson correlation between value and the props.k field, derived
    // from exact sums in a fixed IEEE op order (the built-in corr()
    // accumulates in partition order — not oracle-stable).
    GateRow("corr_value_k", { (s, dir) =>
      val dec = DecimalType(18, 6)
      val ev = t(s, dir, "events").select(col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val nD = col("n").cast("double")
      ev.agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sx"),
          sum(col("k")).cast("double").as("sy"),
          sum(col("value").cast(dec) * col("k")).cast("double").as("sxy"),
          sum(col("value").cast(dec) * col("value").cast(dec)).cast("string")
            .cast("double").as("sx2"),
          sum(col("k") * col("k")).cast("double").as("sy2"))
        .select(col("n"),
          ((col("sxy") - ((col("sx") * col("sy")) / nD)) /
            (sqrt(col("sx2") - ((col("sx") * col("sx")) / nD)) *
              sqrt(col("sy2") - ((col("sy") * col("sy")) / nD)))).as("corr_vk"))
    }, oracle = EventSql.corrValueK),

    GateRow("percent_rank_values", { (s, dir) =>
      // percent_rank/cume_dist per event type (integer-ratio exact);
      // keyed window — partitions stay distributed.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      t(s, dir, "events").filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }, oracle = EventSql.percentRankValues),

    GateRow("grouping_sets_events", ((s, dir) =>
      // Explicit GROUPING SETS (finer-grained than cube/rollup; one
      // shuffle, Expand feeds all three sets through one hash-agg).
      t(s, dir, "events").withColumn("h", hour(col("ts")))
        .groupingSets(
          Seq(Seq(col("event_type"), col("h")), Seq(col("event_type")), Seq()),
          col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))),
      oracle = EventSql.groupingSetsEvents),

    // Exact interpolated percentiles (sort-based partial aggregation;
    // for sketch-grade scale use percentile_approx — spec-checked).
    GateRow("percentiles_by_type", ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.25D)").as("p25"),
          expr("percentile(value, 0.5D)").as("p50"),
          expr("percentile(value, 0.75D)").as("p75"))),
      oracle = EventSql.percentilesByType),

    // Second-moment statistics from exact decimal sums: one partial-agg
    // pass, derived in a fixed IEEE op order (oracle-exact, unlike
    // stddev/var built-ins whose accumulation order is partition-timing
    // dependent).
    GateRow("stats_moments_by_type", { (s, dir) =>
      val dec = DecimalType(18, 6)
      val nD = col("n").cast("double")
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"),
          sum(col("value").cast(dec) * col("value").cast(dec))
            .cast("double").as("sum_v2"))
        .select(col("event_type"), col("n"),
          (col("sum_v") / nD).as("mean"),
          ((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("var_v"),
          sqrt((col("sum_v2") - ((col("sum_v") * col("sum_v")) / nD)) /
            (nD - lit(1.0))).as("std_v"))
    }, oracle = EventSql.statsMomentsByType),

    GateRow("user_digest_typed", ((s, dir) =>
      AnalyticOps.userDigestTyped(t(s, dir, "events"))),
      oracle = EventSql.userDigestTyped),

    GateRow("user_event_sequences", ((s, dir) =>
      // Ordered per-user behavior sequence (sequence-mining primitive):
      // collect_list is partition-order dependent, so order inside the
      // aggregate via array_sort over (ts, event_id, type) structs.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), "->").as("sequence"),
          count(lit(1)).as("n_events"))),
      oracle = EventSql.userEventSequences),

    // Skew diagnostic: heaviest keys and their row share — the input to
    // choosing salt counts (SkewOps.keyHistogram).
    GateRow("skew_key_histogram", ((s, dir) =>
      SkewOps.keyHistogram(t(s, dir, "events"), col("user_id"), 10)),
      oracle = """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c)
        |SELECT key, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 10""".stripMargin),

    // Activity heatmap: events by (day-of-week, hour) — the classic
    // usage-pattern matrix, one hash-agg.
    GateRow("activity_heatmap", ((s, dir) =>
      t(s, dir, "events")
        .groupBy(dayofweek(col("ts").cast("timestamp")).as("dow"),
          hour(col("ts").cast("timestamp")).as("hr"))
        .agg(count(lit(1)).as("n_events"))),
      oracle = """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Conversion latency: exact percentiles of first-view -> first-
    // purchase delay (seconds). Interpolated percentile is bit-exact vs
    // quantile_cont; the delay itself is integer epoch-second math.
    GateRow("funnel_latency", { (s, dir) =>
      val firsts = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view",
            (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
              .cast("long"))).as("first_view"),
          min(when(col("event_type") === "purchase",
            (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
              .cast("long"))).as("first_purchase"))
        .filter(col("first_view").isNotNull &&
          col("first_purchase") > col("first_view"))
        .select((col("first_purchase") - col("first_view")).as("delay_s"))
      firsts.agg(count(lit(1)).as("n_converted"),
        percentile(col("delay_s"), lit(0.5)).as("p50_s"),
        percentile(col("delay_s"), lit(0.9)).as("p90_s"))
    }, oracle = """WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view'
        |    THEN epoch_us(ts) // 1000000 END) AS first_view,
        |  min(CASE WHEN event_type = 'purchase'
        |    THEN epoch_us(ts) // 1000000 END) AS first_purchase
        |  FROM events GROUP BY user_id),
        |d AS (SELECT first_purchase - first_view AS delay_s FROM f
        |  WHERE first_view IS NOT NULL AND first_purchase > first_view)
        |SELECT count(*) AS n_converted,
        |  quantile_cont(delay_s, 0.5) AS p50_s,
        |  quantile_cont(delay_s, 0.9) AS p90_s
        |FROM d""".stripMargin),

    // Trailing 7-day distinct actives per day: explode each event into
    // the 7 day-buckets it contributes to, then one distinct-agg per
    // day — the bounded-window form of distinct counting (no
    // ever-growing state, shuffle keyed by day).
    GateRow("trailing_7d_active_users", { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).as("event_day"))
        .select(col("user_id"), explode(sequence(col("event_day"),
          col("event_day") + expr("INTERVAL 6 DAYS"),
          expr("INTERVAL 1 DAY"))).as("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
    }, oracle = """WITH d AS (SELECT user_id,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day FROM events),
        |x AS (SELECT user_id,
        |  unnest(range(event_day, event_day + INTERVAL 7 DAY,
        |    INTERVAL 1 DAY)) AS day
        |  FROM d)
        |SELECT day, count(DISTINCT user_id) AS active_7d
        |FROM x GROUP BY day""".stripMargin),

    GateRow("funnel_view_click_purchase", ((s, dir) =>
      // Ordered conversion funnel: users whose first view precedes their
      // first click precedes their first purchase. One conditional-agg
      // pass (min ts per stage), then a pure ordering predicate.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .withColumn("converted",
          col("first_view") < col("first_click") &&
            col("first_click") < col("first_purchase"))),
      oracle = EventSql.funnelViewClickPurchase),

    GateRow("retention_cohorts", ((s, dir) =>
      // Cohort retention: users grouped by first-activity week, counted
      // per subsequent activity week. Two aggregations, both key-local.
      {
        val ev = t(s, dir, "events")
        val cohort = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
          .distinct()
          .join(cohort, "user_id")
          .groupBy(col("cohort_week"), col("active_week"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      }),
      oracle = EventSql.retentionCohorts),

    // Audience overlap between event types: exact Jaccard over sorted
    // distinct-user arrays (the codegen'd merge walk again — collected
    // sets are bounded by the user population).
    GateRow("type_user_jaccard", { (s, dir) =>
      val sets = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sort_array(collect_set(col("user_id"))).as("users"))
        .select(col("event_type"), col("users"),
          size(col("users")).cast("long").as("n"))
      sets.as("a").join(broadcast(sets.as("b")),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          graft.expressions.GraftFunctions.sortedIntersectCount(
            col("a.users"), col("b.users")).as("common"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .withColumn("jaccard", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
        .select(col("type_a"), col("type_b"), col("common"), col("jaccard"))
    }, oracle = EventSql.typeUserJaccard),

    // DAU / trailing-7-day WAU per active day: user-day pairs exploded
    // to the 7 days they contribute to, then exact distinct counts —
    // distinct is non-additive, so the explode happens BEFORE the count.
    GateRow("dau_wau", { (s, dir) =>
      val userDays = t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
      val dau = userDays.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = userDays
        .select(col("user_id"), col("day"), explode(sequence(lit(0), lit(6))).as("k"))
        .select(col("user_id"), expr("timestampadd(DAY, k, day)").as("day"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day").select(col("day"), col("dau"), col("wau"))
    }, oracle = EventSql.dauWau),

    GateRow("minmax_by_events", ((s, dir) =>
      // Ordered-argument aggregates; the ordering key (event_id) is
      // unique, so results are deterministic across partitionings.
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(max_by(col("user_id"), col("event_id")).as("last_user"),
          min_by(col("user_id"), col("event_id")).as("first_user"),
          max(col("event_id")).as("max_event_id"))),
      oracle = EventSql.minmaxByEvents),

    GateRow("regexp_extract_props", ((s, dir) =>
      // Regex field extraction + rlike filtering over the JSON props
      // payload (pattern valid in both Java regex and RE2).
      t(s, dir, "events")
        .filter(col("props").rlike("\"k\": [0-9]+"))
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
            .cast("long").as("k_val"))),
      oracle = EventSql.regexpExtractProps),

    GateRow("string_functions", ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        lpad(col("event_type"), 10, ".").as("padded_l"),
        rpad(col("event_type"), 10, ".").as("padded_r"),
        regexp_replace(col("event_type"), "e", "3").as("leeted"),
        reverse(col("event_type")).as("rev"),
        substring(col("event_type"), 2, 3).as("mid"),
        repeat(col("event_type"), 2).as("doubled"),
        instr(col("event_type"), "c").as("c_pos"),
        concat_ws("|", col("event_type"), col("user_id").cast("string")).as("joined"),
        ltrim(rtrim(col("event_type"))).as("trimmed"),
        element_at(split(col("props"), "\\{"), -1).as("after_brace"))),
      oracle = EventSql.stringFunctions),

    GateRow("bitwise_functions", ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        col("event_id").bitwiseAND(255L).as("lo_byte"),
        col("event_id").bitwiseOR(lit(4096L)).as("with_flag"),
        col("event_id").bitwiseXOR(col("user_id")).as("xored"),
        shiftleft(col("event_id"), 3).as("shl3"),
        shiftright(col("event_id"), 2).as("shr2"),
        bit_count(col("event_id")).as("popcount"))),
      oracle = EventSql.bitwiseFunctions),

    // ---- skew handling (salted forms; results identical to the
    // unsalted plans, which the oracles verify) ----
    GateRow("salted_agg_events", ((s, dir) =>
      SkewOps.saltedSumCount(t(s, dir, "events"),
        col("event_type"), "event_type",
        pmod(col("event_id"), lit(16)), col("value"))),
      oracle = EventSql.saltedAggEvents),

    // Map-typed column family: build a per-user event_type->count map
    // (map_from_entries over a sorted entry array so key order is
    // deterministic), then read it back via map_keys / element_at /
    // transform_values / a fold over map_values. Output stays scalar
    // (driver compare cannot hash map cells).
    GateRow("map_functions_events", { (s, dir) =>
      val perType = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      perType.groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          array_join(map_keys(col("m")), ",").as("types"),
          element_at(col("m"), "click").as("click_cnt"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
            .as("total_events"),
          element_at(transform_values(col("m"), (_, v) => v * 2), "view")
            .as("view_x2"))
    }, oracle = """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  count(*) AS n_types,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types,
        |  CAST(max(CASE WHEN event_type = 'click' THEN cnt END) AS BIGINT)
        |    AS click_cnt,
        |  CAST(SUM(cnt) AS BIGINT) AS total_events,
        |  CAST(max(CASE WHEN event_type = 'view' THEN cnt * 2 END) AS BIGINT)
        |    AS view_x2
        |FROM c GROUP BY user_id""".stripMargin),

    // Window navigation with null skipping: first/last/nth non-null value
    // per user (nulls planted at value<10). Unique (ts, event_id) order
    // key keeps frames deterministic.
    GateRow("window_ignore_nulls", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("value") >= 10.0, col("value")).as("v"))
        .select(col("event_id"), col("user_id"),
          first(col("v"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_v"),
          last(col("v"), ignoreNulls = true).over(wAll).as("last_v"),
          nth_value(col("v"), 2, ignoreNulls = true).over(wAll).as("second_v"))
    }, oracle = """SELECT event_id, user_id,
        |  first_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        |  last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
        |  nth_value(v, 2 IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
        |FROM (SELECT event_id, user_id, ts,
        |  CASE WHEN value >= 10.0 THEN value END AS v FROM events)""".stripMargin),

    // Time-weighted average per user: each value holds until the next
    // event; TWA = Σ(value·dt) / Σdt. All arithmetic is integer fixed
    // point (2^24 scale; epoch-second deltas via integer µs division)
    // until ONE final double division, so both engines fold identically.
    GateRow("time_weighted_value", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val secs = (unix_micros(col("ts").cast("timestamp")) / lit(1000000L))
        .cast("long")
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * lit(16777216L)).cast("long").as("v_fp"),
          secs.as("t_s"))
        .withColumn("next_s", lead(col("t_s"), 1).over(w))
        .filter(col("next_s").isNotNull)
        .withColumn("dt", col("next_s") - col("t_s"))
        .groupBy(col("user_id"))
        .agg((sum(col("v_fp") * col("dt")).cast("double") /
          (sum(col("dt")) * lit(16777216L)).cast("double")).as("twa"),
          sum(col("dt")).as("span_s"))
    }, oracle = """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(value * 16777216) AS BIGINT) AS v_fp,
        |  epoch_us(ts) // 1000000 AS t_s,
        |  lead(epoch_us(ts) // 1000000) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_s
        |  FROM events),
        |d AS (SELECT user_id, v_fp, next_s - t_s AS dt
        |  FROM e WHERE next_s IS NOT NULL)
        |SELECT user_id,
        |  CAST(CAST(SUM(v_fp * dt) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(SUM(dt) AS BIGINT) * 16777216 AS DOUBLE) AS twa,
        |  CAST(SUM(dt) AS BIGINT) AS span_s
        |FROM d GROUP BY user_id""".stripMargin),

    // Semi-structured column via Spark 4 VariantType: parse the JSON
    // props payload once, then typed-path extraction (the open-schema
    // path for event properties — no fixed StructType required).
    GateRow("variant_props", { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          parse_json(col("props")).as("v"))
        .select(col("event_id"),
          try_variant_get(col("v"), "$.k", "int").as("k_int"),
          try_variant_get(col("v"), "$.missing", "string").as("missing_str"),
          is_variant_null(col("v")).as("v_isnull"))
    }, oracle = """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_str,
        |  false AS v_isnull
        |FROM events""".stripMargin),

    // Mergeable-sketch rollup — THE re-aggregation pattern at 100 TB:
    // build one bottom-k sketch per (type, day) partial, then merge the
    // partials up to per-type totals WITHOUT touching raw rows again
    // (daily partials are what a warehouse persists; re-scanning
    // history to count distincts is the anti-pattern). KMV merge is
    // exactly lossless (bottom-k of the partial union == bottom-k of
    // the full data), so unlike the HLL twin (SketchOps.hllRollup,
    // tolerance-spec'd) this form is oracle-hashable.
    GateRow("kmv_sketch_rollup", ((s, dir) =>
      SketchOps.kmvRollup(t(s, dir, "events"), col("event_type"),
        date_trunc("day", col("ts")), col("user_id"), KmvK)),
      oracle = EventSql.kmvSketchRollup(KmvK)),

    // Balanced subsampling: a fixed-size deterministic sample per group
    // (reservoir-equivalent at scale — rank over a uniform md5 hash key,
    // partial WindowGroupLimit keeps the shuffle at k rows per partition
    // per group). The LLM-pipeline "cap examples per source" op.
    GateRow("sample_k_per_group", { (s, dir) =>
      val hashed = t(s, dir, "events").select(col("event_type"), col("event_id"),
        graft.expressions.GraftFunctions.md5PrefixLong(
            col("event_id").cast("string"), 15).as("hkey"))
      AnalyticOps.topKPerGroup(hashed, Seq(col("event_type")),
          Seq(col("hkey"), col("event_id")), 5)
        .select(col("event_type"), col("event_id"))
    }, oracle = """WITH h AS (SELECT event_type, event_id,
        |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS hkey
        |  FROM events)
        |SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |    rank() OVER (PARTITION BY event_type ORDER BY hkey, event_id)
        |      AS rnk
        |  FROM h)
        |WHERE rnk <= 5""".stripMargin),

    // Outlier capping (winsorization): clamp each value into its group's
    // [p5, p95] band. Exact interpolated percentiles (bit-identical to
    // DuckDB quantile_cont), broadcast back — no second shuffle of the
    // fact side.
    GateRow("winsorized_values", { (s, dir) =>
      val ev = t(s, dir, "events")
      val qs = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("lo"),
          percentile(col("value"), lit(0.95)).as("hi"))
      ev.join(broadcast(qs), "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("v_capped"))
    }, oracle = """WITH q AS (SELECT event_type,
        |  quantile_cont(value, 0.05) AS lo,
        |  quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type AS event_type,
        |  least(greatest(value, lo), hi) AS v_capped
        |FROM events e JOIN q ON e.event_type = q.event_type""".stripMargin),

    // Z-order (Morton) interleaved key over (user, day) — the clustering
    // key LayoutOps.zorder lays files out by so min/max stats prune on
    // BOTH dimensions at 100 TB. The oracle SQL is generated from the
    // same bit-interleave loop (LayoutOps.zValue2Sql), so the arithmetic
    // cannot drift between engines.
    GateRow("zorder_key_events", { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"))
        .select(col("event_id"),
          LayoutOps.zValue2(col("x"), col("y")).as("zval"))
    }, oracle = s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y
         |  FROM events)
         |SELECT event_id,
         |  ${LayoutOps.zValue2Sql("x", "y")} AS zval
         |FROM d""".stripMargin),

    // Hilbert-curve layout key (space-filling alternative to the Morton
    // code: consecutive indexes are always adjacent cells, so
    // range-partitioned files get tighter bounding boxes).
    GateRow("hilbert_key_events", { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"))
        .select(col("event_id"),
          LayoutOps.hilbert2(col("x"), col("y")).as("hval"))
    }, oracle = {
      val (ctes, last) = LayoutOps.hilbert2SqlCtes(
        "d", "x", "y", Seq("event_id"))
      s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y
         |  FROM events),
         |$ctes
         |SELECT event_id, hd AS hval FROM $last""".stripMargin
    }),

    // Exact least-squares trend per event type: slope of value vs
    // epoch-day from integer moment sums (x exact int days, y in 2^24
    // fixed point; BIGINT partials, DECIMAL(38,0) combination, ONE
    // double division at the end — the regr_slope the engines can't be
    // trusted to fold identically, done exactly).
    GateRow("value_trend_by_type", { (s, dir) =>
      val d38 = DecimalType(38, 0)
      t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("value") * lit(16777216L)).cast("long").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"),
          ((col("n").cast(d38) * col("sxy").cast(d38) -
            col("sx").cast(d38) * col("sy").cast(d38)).cast("double") /
          ((col("n").cast(d38) * col("sxx").cast(d38) -
            col("sx").cast(d38) * col("sx").cast(d38)).cast("double") *
            lit(16777216.0))).as("slope_per_day"),
          col("n"))
    }, oracle = """WITH m AS (SELECT event_type,
        |  CAST(count(*) AS DECIMAL(38,0)) AS n,
        |  CAST(CAST(SUM(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |    AS BIGINT) AS DECIMAL(38,0)) AS sx,
        |  CAST(CAST(SUM(CAST(floor(value * 16777216) AS BIGINT)) AS BIGINT)
        |    AS DECIMAL(38,0)) AS sy,
        |  CAST(CAST(SUM(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) *
        |    CAST(floor(value * 16777216) AS BIGINT)) AS BIGINT)
        |    AS DECIMAL(38,0)) AS sxy,
        |  CAST(CAST(SUM(CAST(datediff('day', DATE '1970-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) *
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |    AS BIGINT) AS DECIMAL(38,0)) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (CAST(n * sxx - sx * sx AS DOUBLE) * 16777216.0)
        |    AS slope_per_day,
        |  CAST(n AS BIGINT) AS n
        |FROM m""".stripMargin),

    // Engagement distribution: how many users fall in each activity
    // band (events-per-user, bucketed by 10s) — two cheap aggregations.
    GateRow("user_activity_histogram", { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .groupBy(expr("n_events div 10").as("bucket"))
        .agg(count(lit(1)).as("n_users"))
    }, oracle = """WITH c AS (SELECT user_id, count(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT n_events // 10 AS bucket, count(*) AS n_users
        |FROM c GROUP BY bucket""".stripMargin),

    // 3-D Morton key (user, day, hour-of-day) — the k>2 generalization;
    // oracle generated from the same interleave loop.
    GateRow("zorder3_key_events", { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id").as("x"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .as("y"),
          hour(col("ts").cast("timestamp")).as("z"))
        .select(col("event_id"),
          LayoutOps.zValueN(Seq(col("x"), col("y"), col("z")), 16)
            .as("zval"))
    }, oracle = s"""WITH d AS (SELECT event_id, user_id AS x,
         |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS y,
         |  hour(ts) AS z
         |  FROM events)
         |SELECT event_id,
         |  ${LayoutOps.zValueNSql(Seq("x", "y", "z"), 16)} AS zval
         |FROM d""".stripMargin),

    // Deterministic hash-sampled exact percentiles — the oracle-able
    // counterpart of approx_percentile (SketchOps.approxPercentiles is
    // the tolerance-spec'd KLL twin): a 1-in-SampleMod md5 sample of
    // rows (same set in both engines), exact interpolated percentiles
    // on the sample. The 100 TB shape — replace the impossible
    // full-data sort with a sample small enough to aggregate exactly.
    GateRow("sampled_percentiles_value", ((s, dir) =>
      SketchOps.sampledPercentiles(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value"), SampleMod,
        Seq(0.5 -> "p50_sampled", 0.95 -> "p95_sampled"))),
      oracle = EventSql.sampledPercentilesValue(SampleMod)),
  )

  // Per-session partner budget for the bounded concurrency query.
  val SessionTopK = 3

  // KMV bottom-k sketch size: small enough that the estimator path (not
  // the exact-count fallback) is exercised at sf0.01, large enough that
  // the estimate lands within the spec tolerance of exact.
  val KmvK = 64

  // Deterministic 1-in-10 hash sample for the sampled-percentile query.
  val SampleMod = 10
}

/** DuckDB oracle builders that only the event rows use. */
object EventSql {
  import graft.Oracles._

  // ---- KMV / sampled sketches (SketchOps) -------------------------------
  /** KMV bottom-k distinct estimate (SketchOps.kmvDistinct): same 60-bit
    * md5 hashes, same DISTINCT + rank ≤ k sketch, same truncating-integer
    * estimator `(k-1) * (2^60 // kth)` — nothing floating-point enters
    * the hashed output. */
  def kmvDistinctUsers(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |  ${hash60("CAST(user_id AS VARCHAR)")} AS hkey FROM events
       |  WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, hkey,
       |  rank() OVER (PARTITION BY event_type ORDER BY hkey) AS rk FROM h),
       |b AS (SELECT event_type, count(*) AS n_kept, max(hkey) AS kth
       |  FROM r WHERE rk <= $k GROUP BY event_type)
       |SELECT event_type,
       |  CASE WHEN n_kept < $k THEN n_kept
       |       ELSE ${k - 1} * (1152921504606846976 // kth) END AS users_est
       |FROM b""".stripMargin

  /** KMV rollup (SketchOps.kmvRollup): per-(type, day) bottom-k partials,
    * merged per type by distinct-union + re-rank IN THE SAME HASH SPACE —
    * the lossless KMV merge. */
  def kmvSketchRollup(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS day,
       |  ${hash60("CAST(user_id AS VARCHAR)")} AS hkey FROM events
       |  WHERE user_id IS NOT NULL),
       |d AS (SELECT event_type, day, hkey, rank() OVER (
       |  PARTITION BY event_type, day ORDER BY hkey) AS rk FROM h),
       |daily AS (SELECT event_type, day, hkey FROM d WHERE rk <= $k),
       |u AS (SELECT DISTINCT event_type, hkey FROM daily),
       |r AS (SELECT event_type, hkey,
       |  rank() OVER (PARTITION BY event_type ORDER BY hkey) AS rk FROM u),
       |b AS (SELECT event_type, count(*) AS n_kept, max(hkey) AS kth
       |  FROM r WHERE rk <= $k GROUP BY event_type),
       |nd AS (SELECT event_type, count(DISTINCT day) AS n_days
       |  FROM daily GROUP BY event_type)
       |SELECT b.event_type,
       |  CASE WHEN n_kept < $k THEN n_kept
       |       ELSE ${k - 1} * (1152921504606846976 // kth) END AS users_est,
       |  nd.n_days
       |FROM b JOIN nd ON b.event_type = nd.event_type""".stripMargin

  /** Hash-sampled exact percentiles (SketchOps.sampledPercentiles): the
    * 1-in-mod md5 row sample, then DuckDB quantile_cont ≡ Spark
    * percentile (bit-identical interpolation — winsorized_values
    * precedent). */
  def sampledPercentilesValue(mod: Int): String =
    s"""WITH s AS (SELECT event_type, value FROM events
       |  WHERE ${hash60("CAST(event_id AS VARCHAR)")} % $mod = 0)
       |SELECT event_type,
       |  quantile_cont(value, 0.5) AS p50_sampled,
       |  quantile_cont(value, 0.95) AS p95_sampled
       |FROM s GROUP BY event_type""".stripMargin

  /** Robust median/MAD anomaly stats (gate row `anomaly_mad_stats`):
    * exact interpolated medians, same 3·1.4826 threshold literal. */
  val anomalyMadStats: String =
    s"""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY event_type),
       |j AS (SELECT e.event_type, e.value, m.med
       |  FROM events e JOIN m USING (event_type)),
       |d AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
       |  FROM j GROUP BY event_type)
       |SELECT j.event_type, count(*) AS n,
       |  count(CASE WHEN abs(j.value - j.med) > ${3.0 * 1.4826} * d.mad
       |    THEN 1 END) AS n_anomalies,
       |  min(j.med) AS med, min(d.mad) AS mad
       |FROM j JOIN d ON j.event_type = d.event_type
       |GROUP BY j.event_type""".stripMargin

  val tumbling1h: String =
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       |  count(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  def sessionize(gapMinutes: Int): String =
    s"""WITH g AS (SELECT user_id, ts, event_id,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM f)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(ts) AS session_start, max(ts) AS session_end
       |FROM s GROUP BY user_id, session_seq""".stripMargin

  /** Session-scoped conversion over per-event session labels. */
  def sessionConversion(gapMinutes: Int): String =
    s"""WITH g AS (SELECT user_id, ts, event_id, event_type,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id, event_type,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts, event_type,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM f)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
       |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
       |  (min(CASE WHEN event_type = 'click' THEN ts END)
       |     < min(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
       |FROM s GROUP BY user_id, session_seq""".stripMargin

  /** Union + last_value as-of join (AnalyticOps.asofJoin): purchases pick
    * the most recent click at ts ≤ theirs, clicks sorting first on ties. */
  val asofClickPurchase: String =
    s"""WITH u AS (
       |  SELECT user_id, ts, 1 AS side, event_id AS lid, NULL::BIGINT AS rid
       |    FROM events WHERE event_type = 'purchase'
       |  UNION ALL
       |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS lid, event_id AS rid
       |    FROM events WHERE event_type = 'click'),
       |w AS (SELECT user_id, ts, side, lid,
       |  last_value(rid IGNORE NULLS) OVER (PARTITION BY user_id
       |    ORDER BY ts, side, rid ROWS UNBOUNDED PRECEDING) AS asof_rid
       |  FROM u)
       |SELECT lid AS event_id, user_id, ts, asof_rid AS asof_event_id
       |FROM w WHERE side = 1""".stripMargin

  /** Shared gap-sessionization CTE chain → `sess(user_id, st, en)`. */
  private def sessCtes(gapMinutes: Int): String =
    s"""g AS (SELECT user_id, ts, event_id,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS seq
       |  FROM f),
       |sess AS (SELECT user_id, min(ts) AS st, max(ts) AS en
       |  FROM s GROUP BY user_id, seq)""".stripMargin

  /** Session-overlap pairs (range × range) — the oracle verifies the
    * raw overlap predicate the bucketed join candidates are checked
    * against. */
  def sessionOverlapPairs(gapMinutes: Int): String =
    s"""WITH ${sessCtes(gapMinutes)}
       |SELECT a.user_id AS user_a, a.st AS start_a,
       |  b.user_id AS user_b, b.st AS start_b
       |FROM sess a JOIN sess b
       |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en""".stripMargin

  /** The bounded top-k overlap chain (AnalyticOps.topKOverlapsPerSession
    * replayed verbatim): per-bucket candidates pruned to the `candM`
    * longest sessions (longest-first, (user, start) tie-break — part of
    * the operator's deterministic semantics, so replayable at any
    * scale), pairs deduped across buckets, exact-verified, scored by
    * floored-second intersection, ranked per session. Second-floor
    * arithmetic is epoch_us // 1000000 on both sides (Spark
    * unix_timestamp floors to seconds; date_diff('second') would match
    * too but the // form keeps every intermediate an exact BIGINT). */
  private def topkOverlapCtes(p: String, bucketSec: Long,
      candM: String): String = {
    def floorSec(c: String) = s"(epoch_us($c) // 1000000)"
    def bucket(c: String) = s"(${floorSec(c)} // $bucketSec)"
    s"""${p}bl AS (SELECT user_id AS user_a, st AS start_a, en AS end_a,
       |  unnest(generate_series(${bucket("st")}, ${bucket("en")})) AS b
       |  FROM sess),
       |${p}br0 AS (SELECT user_id AS user_b, st AS start_b, en AS end_b,
       |  ${floorSec("en")} - ${floorSec("st")} AS len,
       |  unnest(generate_series(${bucket("st")}, ${bucket("en")})) AS b
       |  FROM sess),
       |${p}br AS (SELECT user_b, start_b, end_b, b FROM (
       |  SELECT *, row_number() OVER (PARTITION BY b
       |    ORDER BY len DESC, user_b, start_b) AS r
       |  FROM ${p}br0) WHERE r <= $candM),
       |${p}cand AS (SELECT DISTINCT user_a, start_a, end_a, user_b, start_b, end_b
       |  FROM ${p}bl JOIN ${p}br ON ${p}bl.b = ${p}br.b AND user_a <> user_b),
       |${p}ov AS (SELECT user_a, start_a, user_b, start_b,
       |    ${floorSec("least(end_a, end_b)")} -
       |      ${floorSec("greatest(start_a, start_b)")} AS overlap_sec
       |  FROM ${p}cand WHERE start_a <= end_b AND start_b <= end_a),
       |${p}tk AS (SELECT user_a AS user_id, start_a AS session_start,
       |    user_b AS partner_user, start_b AS partner_start, overlap_sec,
       |    row_number() OVER (PARTITION BY user_a, start_a
       |      ORDER BY overlap_sec DESC, user_b, start_b) AS rank
       |  FROM ${p}ov)""".stripMargin
  }

  def sessionTopkOverlaps(gapMinutes: Int, k: Int, bucketSec: Long,
      candM: Int): String =
    s"""WITH ${sessCtes(gapMinutes)},
       |${topkOverlapCtes("", bucketSec, candM.toString)}
       |SELECT * FROM tk WHERE rank <= $k""".stripMargin

  /** Recall contract of the bounded form vs the exact all-candidates
    * form (same chain, candidate filter disabled): one row of counts. */
  def sessionTopkRecall(gapMinutes: Int, k: Int, bucketSec: Long,
      candM: Int): String =
    s"""WITH ${sessCtes(gapMinutes)},
       |${topkOverlapCtes("b", bucketSec, candM.toString)},
       |${topkOverlapCtes("e", bucketSec, "2147483647")}
       |SELECT
       |  (SELECT count(*) FROM etk WHERE rank <= $k) AS n_exact,
       |  (SELECT count(*) FROM btk WHERE rank <= $k) AS n_bounded,
       |  (SELECT count(*) FROM (
       |    SELECT * FROM etk WHERE rank <= $k
       |    INTERSECT
       |    SELECT * FROM btk WHERE rank <= $k)) AS n_hit""".stripMargin

  /** Forward as-of: first click at ts ≥ the purchase's, per user
    * (AnalyticOps.asofJoinForward — left rows sort first on ties). */
  val asofForwardNextClick: String =
    """WITH u AS (
      |  SELECT user_id, ts, 0 AS side, event_id AS lid, NULL::BIGINT AS rid
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS lid, event_id AS rid
      |    FROM events WHERE event_type = 'click'),
      |w AS (SELECT user_id, ts, side, lid,
      |  first_value(rid IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, side, rid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_rid
      |  FROM u)
      |SELECT lid AS event_id, user_id, ts, asof_rid AS asof_event_id
      |FROM w WHERE side = 0""".stripMargin

  /** Tolerance-bounded backward as-of: the matched click must be within
    * 3600 floored seconds before the purchase, else NULL. */
  val asofToleranceClick: String =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS side, event_id AS lid, NULL::BIGINT AS rid
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS lid, event_id AS rid
      |    FROM events WHERE event_type = 'click'),
      |w AS (SELECT user_id, ts, side, lid,
      |  last_value(rid IGNORE NULLS) OVER wp AS asof_rid,
      |  last_value(CASE WHEN rid IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS asof_ts
      |  FROM u
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, side, rid
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT lid AS event_id, user_id, ts,
      |  CASE WHEN date_diff('second', asof_ts, ts) <= 3600 THEN asof_rid END AS asof_event_id
      |FROM w WHERE side = 1""".stripMargin

  /** Sliding 1h windows every 30min: each event is in exactly 2 buckets.
    * Integer µs arithmetic (make_timestamp keeps it a naive TIMESTAMP,
    * matching Spark's epoch-aligned window origin). */
  val sliding1h30m: String =
    """SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000) AS window_start,
      |  event_type, count(*) AS n_events
      |FROM events, (SELECT unnest([0, 1]) AS k)
      |GROUP BY 1, 2""".stripMargin

  /** Gap-merge session windows, end = last event + gap. The new-session
    * test is µs-exact (epoch_us difference — date_diff('second') would
    * count boundary crossings, not the true gap). */
  val sessionWindow30m: String =
    """WITH g AS (SELECT user_id, ts, event_id,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT user_id, ts, event_id,
      |  CASE WHEN prev_ts IS NULL
      |    OR (epoch_us(ts) - epoch_us(prev_ts)) >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g),
      |s AS (SELECT user_id, ts,
      |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS seq
      |  FROM f)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, seq""".stripMargin

  /** Bounded interval join: purchase within [click_ts, click_ts + 10min].
    * The 600s bound compares floored epoch seconds on both sides (Spark
    * unix_timestamp ≡ DuckDB date_diff('second')). */
  val intervalJoinClickPurchase: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      |WHERE p.ts >= c.ts AND date_diff('second', c.ts, p.ts) <= 600""".stripMargin

  val scalarFunctions: String =
    """SELECT event_id,
      |  upper(event_type) AS type_upper,
      |  substr(event_type, 1, 3) AS type_prefix,
      |  event_type || ':' || CAST(user_id AS VARCHAR) AS type_user,
      |  year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
      |  abs(value - 50.0) AS dist50,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
      |  levenshtein(event_type, 'click') AS lev_click,
      |  CAST(user_id AS VARCHAR) || '-' || CAST(event_id AS VARCHAR) AS id_pair_str,
      |  greatest(user_id, event_id) AS id_max,
      |  length(props) AS props_len
      |FROM events""".stripMargin

  /** Pivot as conditional aggregation (identical result to Spark's pivot
    * with fixed values; count() over no rows → 0 via the fill). */
  val pivotUserEvents: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin

  val top1LatestError: String =
    """SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
      |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin

  val cubeEvents: String =
    """SELECT event_type, hour(ts) AS h, count(*) AS n
      |FROM events GROUP BY CUBE (event_type, hour(ts))""".stripMargin

  /** lag/lead + running/moving aggregates. Moving average is written as
    * decimal-sum / count (one double division) on both sides so the
    * summation order can't produce differing floats. */
  val windowRunningUser: String =
    """SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_event_id,
      |  lead(event_id) OVER w AS next_event_id,
      |  row_number() OVER w AS seq,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS cum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE)
      |    / CAST(COUNT(*) OVER w3 AS DOUBLE) AS avg3
      |FROM events
      |WINDOW
      |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
      |  wc AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
      |  w3 AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  val errorRateByHour: String =
    """SELECT hour(ts) AS h, count(*) AS n,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS error_rate
      |FROM events GROUP BY hour(ts)""".stripMargin

  /** Pearson r from exact sums, fixed op order (sx2 VARCHAR-routed: the
    * scale-12 sum exceeds 2^53 scaled units). Spark sum(value*k) where
    * k is BIGINT widens the decimal the same way DuckDB's does. */
  val corrValueK: String =
    """WITH e AS (SELECT value,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
      |a AS (SELECT count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6)) * k) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx2,
      |  CAST(CAST(SUM(k * k) AS BIGINT) AS DOUBLE) AS sy2
      |FROM e)
      |SELECT n,
      |  (sxy - ((sx * sy) / CAST(n AS DOUBLE)))
      |    / (sqrt(sx2 - ((sx * sx) / CAST(n AS DOUBLE)))
      |       * sqrt(sy2 - ((sy * sy) / CAST(n AS DOUBLE)))) AS corr_vk
      |FROM a""".stripMargin

  val percentRankValues: String =
    """SELECT event_id, event_type,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM events WHERE event_id % 20 = 0
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin

  val groupingSetsEvents: String =
    """SELECT event_type, hour(ts) AS h, count(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), ())""".stripMargin

  val percentilesByType: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.25) AS p25,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.75) AS p75
      |FROM events GROUP BY event_type""".stripMargin

  /** Mean/variance/stddev from exact decimal sums, derived in the same
    * fixed IEEE op order as the Spark query. The scale-12 sum exceeds
    * 2^53 in scaled units, and DuckDB's decimal→double double-rounds
    * (hugeint→double, then /10^scale); casting through VARCHAR forces
    * the single correct rounding Spark's cast performs. */
  val statsMomentsByType: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_v2
      |FROM events GROUP BY event_type)
      |SELECT event_type, n, sum_v / CAST(n AS DOUBLE) AS mean,
      |  (sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0) AS var_v,
      |  sqrt((sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0)) AS std_v
      |FROM a""".stripMargin

  val funnelViewClickPurchase: String =
    """SELECT user_id,
      |  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
      |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
      |  (min(CASE WHEN event_type = 'view' THEN ts END)
      |     < min(CASE WHEN event_type = 'click' THEN ts END))
      |  AND (min(CASE WHEN event_type = 'click' THEN ts END)
      |     < min(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
      |FROM events GROUP BY user_id""".stripMargin

  val retentionCohorts: String =
    """WITH cohort AS (SELECT user_id,
      |  CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events)
      |SELECT cohort_week, active_week, count(DISTINCT active.user_id) AS n_users
      |FROM active JOIN cohort ON active.user_id = cohort.user_id
      |GROUP BY cohort_week, active_week""".stripMargin

  val userEventSequences: String =
    """SELECT user_id,
      |  string_agg(event_type, '->' ORDER BY ts, event_id) AS sequence,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** SQL twin of the typed mapGroups digest. */
  val userDigestTyped: String =
    """SELECT user_id, count(*) AS n_events,
      |  min(ts) AS first_ts, max(ts) AS last_ts,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen
      |FROM events GROUP BY user_id""".stripMargin

  val typeUserJaccard: String =
    """WITH s AS (SELECT event_type, count(DISTINCT user_id) AS n FROM events GROUP BY 1),
      |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.n AS n_a, b.n AS n_b
      |  FROM s a JOIN s b ON a.event_type < b.event_type),
      |common AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    count(*) AS common
      |  FROM (SELECT DISTINCT event_type, user_id FROM events) x
      |  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b,
      |  CAST(coalesce(c.common, 0) AS BIGINT) AS common,
      |  CAST(coalesce(c.common, 0) AS DOUBLE)
      |    / CAST((p.n_a + p.n_b) - coalesce(c.common, 0) AS DOUBLE) AS jaccard
      |FROM pairs p LEFT JOIN common c
      |  ON p.type_a = c.type_a AND p.type_b = c.type_b""".stripMargin

  /** DAU + trailing-7d WAU per active day (join form of the same
    * distinct counts). */
  val dauWau: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
      |wau AS (SELECT d2.day, count(DISTINCT d1.user_id) AS wau
      |  FROM ud d1 JOIN (SELECT DISTINCT day FROM ud) d2
      |    ON d2.day >= d1.day AND d2.day <= d1.day + INTERVAL 6 DAY
      |  GROUP BY d2.day)
      |SELECT dau.day AS day, dau, wau FROM dau JOIN wau ON dau.day = wau.day""".stripMargin

  val minmaxByEvents: String =
    """SELECT event_type,
      |  arg_max(user_id, event_id) AS last_user,
      |  arg_min(user_id, event_id) AS first_user,
      |  max(event_id) AS max_event_id
      |FROM events GROUP BY event_type""".stripMargin

  val regexpExtractProps: String =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
      |FROM events WHERE regexp_matches(props, '"k": [0-9]+')""".stripMargin

  val stringFunctions: String =
    """SELECT event_id,
      |  lpad(event_type, 10, '.') AS padded_l,
      |  rpad(event_type, 10, '.') AS padded_r,
      |  replace(event_type, 'e', '3') AS leeted,
      |  reverse(event_type) AS rev,
      |  substr(event_type, 2, 3) AS mid,
      |  repeat(event_type, 2) AS doubled,
      |  instr(event_type, 'c') AS c_pos,
      |  concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS joined,
      |  ltrim(rtrim(event_type)) AS trimmed,
      |  split_part(props, '{', -1) AS after_brace
      |FROM events""".stripMargin

  val bitwiseFunctions: String =
    """SELECT event_id,
      |  event_id & 255 AS lo_byte,
      |  event_id | 4096 AS with_flag,
      |  xor(event_id, user_id) AS xored,
      |  event_id << 3 AS shl3,
      |  event_id >> 2 AS shr2,
      |  bit_count(event_id) AS popcount
      |FROM events""".stripMargin

  /** Per-type z-scores from the exact-decimal moments (same derivation
    * as statsMomentsByType; VARCHAR-routed double cast for the scale-12
    * sum). */
  val standardizedValues: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_v2
      |FROM events GROUP BY event_type),
      |m AS (SELECT event_type, sum_v / CAST(n AS DOUBLE) AS mean,
      |  sqrt((sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE)))
      |    / (CAST(n AS DOUBLE) - 1.0)) AS std
      |FROM a)
      |SELECT event_id, events.event_type AS event_type,
      |  (value - mean) / std AS z
      |FROM events JOIN m ON events.event_type = m.event_type
      |WHERE event_id % 50 = 0""".stripMargin

  /** Salted aggregation result ≡ plain aggregation (decimal addition is
    * associative, so re-merging per-salt partials is exact). */
  val saltedAggEvents: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin
}
