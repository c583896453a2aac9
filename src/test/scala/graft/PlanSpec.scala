package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gate.TextGate

/** Physical-plan assertions: lock in the scale properties the operators
  * were designed around (SURVEY.md §7.4 "100 TB design discipline"). A
  * regression that silently turns a broadcast into a shuffle or drops a
  * partial top-k should fail HERE, not in a cluster. */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** Every ShuffleExchange in an executed plan, adaptive stages included. */
  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (p match {
      case s: ShuffleExchangeExec => Seq(s.nodeName)
      case _ => Nil
    }) ++ kids.flatMap(shuffles)
  }

  test("bigram LM broadcasts the model side, never the exploded corpus") {
    // Regression pin for the round-13 wrong-side broadcast: Catalyst's
    // size estimates built the broadcast from the exploded corpus
    // bigram rows (linear growth — the whole 7.7x scaled-ledger ratio)
    // and streamed the ~vocab-sized probability table. The explicit
    // broadcast(probs) must keep the build on the probability join's
    // RIGHT (model) side.
    val df = SparkEntry.queries("bigram_lm_scores")(spark, sfDir)
    val joins = df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("bg#"))
      .toSeq
    assert(joins.nonEmpty, "probability join missing from the plan")
    assert(joins.forall(_.contains("BuildRight")),
      s"exploded-corpus side is being broadcast:\n${joins.mkString("\n")}")
  }

  test("upsert merge anti-joins via broadcast (target never shuffled)") {
    val p = plan("load_upsert_merge")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "big-side shuffle crept into the merge")
  }

  test("top-k per group plans a partial WindowGroupLimit before the exchange") {
    val p = plan("topk_orders_by_priority")
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("per-group sampler keeps the shuffle partial (WindowGroupLimit)") {
    val p = plan("sample_k_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("dense jaccard (_exact): intersection stays out of the join condition") {
    // The Opaque barrier must keep graft_sorted_intersect_count in the
    // post-join projection — pushed into the BNLJ condition it runs
    // (twice) per CANDIDATE pair instead of once per joined row.
    val p = plan("dedup_ngram_jaccard_exact")
    val joinLine = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
    assert(joinLine.isDefined, p.take(600))
    assert(!joinLine.get.contains("graft_sorted_intersect_count"),
      s"intersection pushed into the join condition: ${joinLine.get.take(300)}")
    assert(p.contains("graft_sorted_intersect_count"), p.take(600))
  }

  test("prefix jaccard (the gate path): shuffled candidate join, verify out of the join") {
    // The PPJoin-family form the gate name now carries: the prefix-index
    // self-join must SHUFFLE (sort-merge on the shingle hash — a
    // broadcast of the inverted index caps parallelism and is impossible
    // at corpus scale), and the exact verification intersection stays a
    // post-join projection, once per surviving candidate.
    val p = plan("dedup_ngram_jaccard")
    val candJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("sh#")).toSeq
    assert(candJoins.nonEmpty, p.take(800))
    assert(candJoins.forall(_.contains("SortMergeJoin")),
      s"prefix candidate join must not broadcast:\n${candJoins.mkString("\n")}")
    assert(p.contains("graft_sorted_intersect_count"), p.take(600))
    val verifyJoinLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("graft_sorted_intersect_count")).toSeq
    assert(verifyJoinLines.isEmpty,
      s"intersection pushed into a join condition:\n${verifyJoinLines.mkString("\n")}")
  }

  test("LSH bucket self-join shuffles (no index broadcast)") {
    val p = plan("dedup_minhash_lsh")
    val bucketJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("bkey")).toSeq
    assert(bucketJoins.nonEmpty, p.take(600))
    assert(bucketJoins.forall(_.contains("SortMergeJoin")),
      s"bucket join must not broadcast the index:\n${bucketJoins.mkString("\n")}")
  }

  test("dedup_exact plans a partial (map-side) min_by aggregation") {
    // The arg-min agg form: partial_min_by BEFORE the exchange, so the
    // shuffle carries one row per (partition, key) — not every row, as
    // the window row_number form would.
    val p = plan("dedup_exact_docs")
    assert(p.contains("partial_min_by"), p.take(600))
    assert(p.indexOf("partial_min_by") > p.indexOf("Exchange"), // printed top-down
      "partial agg must sit below the exchange:\n" + p.take(600))
  }

  test("kNN broadcasts the probe side (corpus scanned once, no corpus shuffle)") {
    val p = plan("knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("IVF kNN keeps the centroid side broadcast (bounded C, no corpus shuffle for assignment)") {
    // Centroid assignment must be corpus-side-streaming against a
    // BROADCAST centroid table (C is a fixed target, not ∝ N — round-4
    // verdict), and the bucket join broadcasts the probe buckets.
    val p = plan("knn_ivf")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // The corpus parquet scan must appear exactly twice (corpus +
    // centroid sample derive from it); no third full-scan sneaks in via
    // the scalar count subquery reusing an unpruned read.
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("IVF-PQ search: no shuffle carries float vectors — codes travel, not vectors") {
    // Train the quantizers and code the index first and cut their
    // lineage (each is a separate, persisted model-store artifact in a
    // real pipeline); then assert the SEARCH plan never shuffles a
    // vector column — candidates move as (cent_id, id, codes), the
    // whole memory/IO point of PQ.
    val emb = Tables(spark, sfDir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val initial = operators.SimilarityOps.ivfCentroids(corpus, 8)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    val coarse = operators.ClusterOps.kmeans(corpus, initial, 1).localCheckpoint()
    val books = operators.SimilarityOps.pqResidualCodebooks(corpus, coarse,
      4, 16, 4, 1).localCheckpoint()
    val index = operators.SimilarityOps.ivfPqResidualIndex(corpus, coarse,
      books, 16).localCheckpoint()
    val df = operators.SimilarityOps.ivfPqResidualSearch(probes, corpus,
      index, 5, coarse, books, 16)
    df.collect() // materialize so AQE finalizes every stage
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[Seq[String]] = {
      import org.apache.spark.sql.execution.adaptive._
      import org.apache.spark.sql.execution.exchange._
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      val self = p match {
        case s: ShuffleExchangeExec => Seq(s.output.map(_.name))
        case _ => Nil
      }
      self ++ kids.flatMap(shuffles)
    }
    val found = shuffles(df.queryExecution.executedPlan)
    assert(found.nonEmpty, "expected at least the rank-window shuffles")
    val vectorCols = Set("vec", "probe_vec", "cent_vec")
    val bad = found.filter(_.exists(vectorCols))
    assert(bad.isEmpty, s"vector column crossed a shuffle: $bad")
  }

  test("hybrid_search_rrf: no global sort of the corpus (TakeOrdered pools + counting ranks)") {
    val p = plan("hybrid_search_rrf")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    // The full-rank form range-partitioned the whole corpus twice; the
    // bounded form must not range-partition at all.
    assert(!p.contains("rangepartitioning"),
      "global sort crept back into hybrid_search_rrf:\n" + p.take(800))
  }

  test("hybrid_search_rrf bounded pools ≡ full-rank reference form") {
    // The exactness claim behind P=128 (any P ≥ 101): the bounded-pool
    // query must reproduce the full double-ranking byte-for-byte. The
    // reference form below is the pre-bounding implementation (two
    // distributed global row-numberings over the whole corpus).
    import graft.operators.{AnalyticOps, SimilarityOps, TextOps}
    val dir = sfDir
    val bm = TextOps.bm25Scores(Tables(spark, dir, "documents"),
        "doc_id", "text", TextGate.Bm25Terms)
      .select(col("doc_id"), col("bm25"))
    val lex = AnalyticOps.globalRowNumber(bm,
      Seq(col("bm25").desc, col("doc_id")), "lex_rank")
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probe = broadcast(emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("__pvec")))
    val sim = emb
      .join(lex.select(col("doc_id")), col("vec_id") === col("doc_id"))
      .crossJoin(probe)
      .select(col("vec_id"),
        (SimilarityOps.dot(col("embedding"), col("__pvec")) /
          (SimilarityOps.norm(col("embedding")) *
            SimilarityOps.norm(col("__pvec")))).as("sim"))
    val sem = AnalyticOps.globalRowNumber(sim,
      Seq(col("sim").desc, col("vec_id")), "sem_rank")
    val ref = lex.join(sem.select(col("vec_id").as("doc_id"), col("sem_rank")),
        "doc_id")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")) +
          lit(1.0) / (lit(60.0) + col("sem_rank").cast("double"))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val bounded = SparkEntry.queries("hybrid_search_rrf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(bounded == ref)
  }

  test("globalRunningSum equals the single-partition window cumsum exactly") {
    val ev = Tables(spark, sfDir, "events").select(
      col("event_id"), col("user_id"))
    val got = operators.AnalyticOps.globalRunningSum(
        ev, Seq(col("user_id").desc, col("event_id")), col("user_id"), "cum",
        numPartitions = Some(7))
      .select(col("event_id"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = ev.withColumn("cum",
        sum(col("user_id")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("user_id").desc, col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expect)
    // …and the distributed form keeps multiple partitions in play (the
    // whole point: no single-partition global window).
    val parts = operators.AnalyticOps.globalRunningSum(
      ev, Seq(col("user_id").desc, col("event_id")), col("user_id"), "cum",
      numPartitions = Some(7)).rdd.getNumPartitions
    assert(parts > 1, s"expected a multi-partition plan, got $parts")
  }

  test("scans are column-pruned: q1_agg reads only the needed lineitem columns") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    // sparkPlan, not executedPlan: AQE wraps the tree and hides children
    // from collect().
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.requiredSchema
    }
    assert(scans.nonEmpty)
    val cols = scans.head.fieldNames.toSet
    assert(cols == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount"), s"read too much: $cols")
  }

  test("filter pushdown reaches the parquet scan (orders filter)") {
    val df = Tables(spark, sfDir, "orders").filter(col("o_orderkey") === 42L)
      .select("o_orderkey", "o_totalprice")
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(o_orderkey,42)"),
      scan.metadata("PushedFilters"))
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    val conf = spark.conf
    val prev = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      // One key owns ~97% of the fact rows; the dim is made non-broadcastable.
      val fact = spark.range(0, 60000)
        .select(when(col("id") % 30 === 0, col("id")).otherwise(lit(7L)).as("k"),
          concat(lit("payload_padding_payload_padding_"), col("id")).as("v"))
      val dim = spark.range(0, 2000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("dv"))
      val joined = fact.join(dim, "k")
      joined.collect() // materialize the SAME DataFrame so AQE finalizes
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(1200)}")
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("aggregate pushdown: min/max/count answered from parquet footers") {
    // The 100 TB shape for table profiling: with the v2 parquet path and
    // aggregatePushdown on, MIN/MAX/COUNT over an unfiltered scan read
    // footer statistics, not data pages.
    val conf = spark.conf
    val prevAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = conf.getOption("spark.sql.sources.useV1SourceList")
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"),
          count(lit(1)).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]"),
        p.take(800))
      // Pushed-down answers must equal the data-page scan's.
      val r = df.head()
      val full = Tables(spark, sfDir, "orders")
        .agg(min(col("o_orderkey")), max(col("o_orderkey")), count(lit(1))).head()
      assert(r.getLong(0) == full.getLong(0) && r.getLong(1) == full.getLong(1)
        && r.getLong(2) == full.getLong(2))
    } finally {
      prevAgg.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
        conf.set("spark.sql.parquet.aggregatePushdown", _))
      prevV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
        conf.set("spark.sql.sources.useV1SourceList", _))
    }
  }

  test("whole-stage codegen covers the scalar-function projection") {
    val df = SparkEntry.queries("scalar_functions")(spark, sfDir)
    // "*(n)" node prefixes mark whole-stage-codegen membership.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(400))
  }

  test("partitioned warehouse table: filter prunes partitions at the scan") {
    import graft.core._
    import graft.io.ParquetWarehouse
    val root = java.nio.file.Files.createTempDirectory("graft_part").toString
    val wh = new ParquetWarehouse(spark, root)
    val tbl = TableRef("", "events_p")
    wh.create(tbl, Tables(spark, sfDir, "events"), partitionBy = Seq("event_type"))

    val df = wh.table(tbl).filter(col("event_type") === "click")
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      scan.metadata.toString)
    // The executed scan reads only the click partition (inputRDD is built
    // from the pruned partition list).
    assert(df.count() > 0)
    val readFiles = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(readFiles.nonEmpty && readFiles.forall(_.contains("event_type=click")),
      readFiles.mkString("\n"))

    // Appends keep the layout (partition spec is persisted).
    val n0 = df.count()
    wh.load(LoadMode.Insert, tbl,
      Tables(spark, sfDir, "events").filter(col("event_type") === "click").limit(5),
      "event_id")
    assert(wh.table(tbl).filter(col("event_type") === "click").count() == n0 + 5)
  }

  test("mergeKeys: composite-key upsert replaces exactly the staged keys") {
    import spark.implicits._
    val target = Seq((1, "a", "x"), (1, "b", "y"), (2, "a", "z"))
      .toDF("k1", "k2", "v")
    val staged = Seq((1, "a", "X2")).toDF("k1", "k2", "v")
    val out = graft.operators.LoadOps.mergeKeys(target, staged, Seq("k1", "k2"))
      .orderBy("k1", "k2").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1, "a", "X2"), (1, "b", "y"), (2, "a", "z")))
  }

  test("bucketed warehouse tables join without an exchange (co-located merge)") {
    val wdir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    // Bucketing needs the session catalog; explicit per-table paths keep it
    // out of the (static) warehouse dir.
    val orders = Tables(spark, sfDir, "orders")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wdir/orders_b").mode("overwrite").saveAsTable("orders_b")
    orders.filter(col("o_orderkey") % 7 === 0)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wdir/staged_b").mode("overwrite").saveAsTable("staged_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = spark.table("orders_b").join(
        spark.table("staged_b").select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      val p = merged.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffled:\n${p.take(800)}")
      assert(merged.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS staged_b")
    }
  }

  test("as-of exec over bucketed+sorted tables: no exchange on either side") {
    // The payoff of AsOfJoinExec declaring standard distribution/ordering
    // requirements: a warehouse that bucket+sorts its event tables by
    // (key, time) feeds the as-of join with ZERO shuffles — at 100 TB the
    // join cost collapses to the merge walk itself.
    val wdir = java.nio.file.Files.createTempDirectory("graft_asof_bkt").toString
    val ev = Tables(spark, sfDir, "events")
    ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id")
      .write.bucketBy(8, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wdir/purch_b").mode("overwrite").saveAsTable("purch_b")
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
      .write.bucketBy(8, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wdir/click_b").mode("overwrite").saveAsTable("click_b")
    try {
      val df = graft.plans.AsOfMergeJoin.asofJoin(
        spark.table("purch_b"), spark.table("click_b"),
        "user_id", "ts", "ts", "event_id", "event_id")
      assert(df.count() > 0)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin "), p.take(800))
      assert(!p.contains("Exchange"),
        s"bucketed as-of still shuffled:\n${p.take(1200)}")
      // Parity against the window form on the same bucketed inputs.
      val expect = graft.operators.AnalyticOps.asofJoin(
          spark.table("purch_b"), spark.table("click_b"),
          "user_id", "ts", "ts", "event_id", "event_id")
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(df.orderBy("event_id").collect().map(_.toSeq).toSeq == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS purch_b")
      spark.sql("DROP TABLE IF EXISTS click_b")
    }
  }

  test("incrementalComponents: the corpus-sized remap pass never shuffles") {
    // The continuous-ingest contract (DedupOps scaladoc): per batch the
    // corpus streams twice — a broadcast-semi filter (executed eagerly
    // at build time) and this RESULT frame (full label table ∪ fresh
    // self-labels, left-joined against the broadcast remap). Neither
    // may shuffle the label table; a ShuffleExchange here means a size
    // estimate picked the wrong side and at 100 TB the batch fold
    // would pay a corpus shuffle per micro-batch.
    val prev = spark.range(0, 2000)
      .select(col("id").as("doc_id"), (col("id") - col("id") % 4).as("component"))
      .localCheckpoint(true)
    val newV = spark.range(2000, 2100).select(col("id").as("doc_id"))
    val newE = spark.range(2000, 2100)
      .select(col("id").as("id_a"), (col("id") % 1999).as("id_b"))
    val out = graft.operators.DedupOps.incrementalComponents(
      prev, newV, newE, "doc_id")
    assert(out.count() == 2100)
    val found = shuffles(out.queryExecution.executedPlan)
    assert(found.isEmpty,
      s"incremental remap pass shuffled the label table: $found")
  }

  test("ivfAppend: existing index rows pass through uncoded; only the batch reaches the coder") {
    // The per-batch work bound of incremental ANN maintenance, as plan
    // structure instead of a timing ratio: the appended index is the
    // existing rows, untouched, unioned with the coding of the arrivals
    // the index lacks. The existing index enters the coding branch only
    // as the id column of the replay anti-join, so the coder's work is
    // batch-sized whatever the index size.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      LogicalPlan, Union, Window}
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.operators.SimilarityOps
    def vecs(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
      col("id").as("vec_id"), array((0 until 8).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(200L)) - 100L)
          .cast("float") / 100.0f): _*).as("vec"))
    val corpus = vecs(0, 400).localCheckpoint(true)
    val cents = SimilarityOps.ivfCentroids(corpus, 0)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      .localCheckpoint(true)
    val books = SimilarityOps.pqResidualCodebooks(corpus, cents, 2, 4, 4, 1)
      .localCheckpoint(true)
    val index = SimilarityOps.ivfPqResidualIndex(corpus, cents, books, 4)
      .localCheckpoint(true)
    val indexRdd = index.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.id
      case other => fail(s"index is not materialized: $other")
    }
    def indexReads(p: LogicalPlan): Int = p.collectLeaves().count {
      case r: LogicalRDD => r.rdd.id == indexRdd
      case _ => false
    }
    val out = SimilarityOps.ivfAppend(index, vecs(400, 440), cents, books, 4)
    assert(out.count() == 440)
    out.queryExecution.optimizedPlan match {
      case Union(Seq(kept, coded), _, _) =>
        assert(indexReads(kept) == 1 && kept.collect {
          case n @ (_: Join | _: Aggregate | _: Window) => n
        }.isEmpty, s"existing rows must pass through untouched:\n$kept")
        val antiReads = coded.collect {
          case j: Join if j.joinType == LeftAnti && indexReads(j.right) > 0 =>
            assert(j.right.output.map(_.name) == Seq("vec_id"),
              s"the replay anti-join reads more than ids: ${j.right.output}")
            assert(indexReads(j.left) == 0)
            indexReads(j.right)
        }.sum
        assert(antiReads >= 1 && antiReads == indexReads(coded),
          s"the coding branch reads the index beyond the anti-join:\n$coded")
      case other => fail(s"expected existing ∪ coded arrivals, got:\n$other")
    }
  }

  test("verifyPairsExact with broadcastPairs: the corpus text lookup streams, never shuffles") {
    // The exact-verify pass of the curation stream must cost
    // pair-count-sized work per batch: the pair side is the broadcast
    // build side and the corpus streams through one scan. With the
    // size-based broadcast switched off, plain planning would
    // sort-merge — shuffling the whole corpus every batch.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val corpus = spark.range(0, 2000).select(col("id").as("doc_id"),
        concat_ws(" ", lit("the"), (col("id") % 50).cast("string"),
          lit("quick brown fox")).as("text"))
      val batch = spark.range(5000, 5020).select(col("id").as("doc_id"),
        concat_ws(" ", lit("the"), (col("id") % 50).cast("string"),
          lit("quick brown fox")).as("text"))
      val pairs = spark.range(5000, 5020).select(
        (col("id") % 2000).as("corpus_id"), col("id").as("new_id"))
      val out = graft.operators.DedupOps.verifyPairsExact(pairs, "corpus_id",
        corpus, "new_id", batch, "doc_id", "text", 0.5, broadcastPairs = true)
      assert(out.count() == 20L)
      val found = shuffles(out.queryExecution.executedPlan)
      assert(found.isEmpty, s"the verify pass shuffled the corpus: $found")
    } finally spark.conf.set(key, saved)
  }

  test("PQ ADC LUT builds in ONE aggregation: no shuffle carries the intermediate map") {
    // r22: the LUT build used to aggregate twice — groupBy(probe, sub)
    // into per-sub maps, then groupBy(probe) to collect them — so the
    // second groupBy's exchange re-shuffled rows carrying the built
    // MapType column. The fused form collects raw (sub, code, d2c)
    // triples in one aggregation and assembles the map array as a
    // projection; no exchange may ship a MapType column.
    val df = SparkEntry.queries("knn_ivf_pq_residual")(spark, sfDir)
    df.collect() // finalize AQE stages
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffledTypes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[String] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => p.children
      }
      (p match {
        case s: ShuffleExchangeExec => s.output
          .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          .map(a => s"${a.name}: ${a.dataType.simpleString}")
        case _ => Nil
      }) ++ kids.flatMap(shuffledTypes)
    }
    val bad = shuffledTypes(df.queryExecution.executedPlan)
    assert(bad.isEmpty, s"LUT map column crossed a shuffle: $bad")
  }

  test("CC loop schedules one job per round (convergence check rides the round's own aggregation)") {
    // r22: the eager per-round localCheckpoint ran a dedicated
    // materialization job PLUS the checksum job. With lazy checkpoints
    // the checksum aggregation is the materializing action, so the
    // whole loop costs init-checksum + one job per round. A chain graph
    // forces escalation past HookDelay, covering both round shapes.
    val n = 512
    val verts = spark.range(0, n).select(col("id").as("doc_id"))
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    // Count driver ACTIONS THAT SCHEDULE WORK — distinct SQL execution
    // ids observed on job-start events (raw job count measures AQE plan
    // width: each query stage is its own job). The r22 lazy-checkpoint
    // fusion removes the eager checkpoint's dedicated materialization
    // job per round (measured 123 → 105 jobs / 8.1 → 7.0 s on a
    // 13-round chain); TWO job-scheduling executions per round remain
    // inherent under AQE — the checkpoint's toRdd materializes the
    // round's query stages under its own execution id, and the checksum
    // runs the final stage — so the canary bound is 2/round, guarding
    // against a THIRD per-round action creeping in (e.g. an eager count
    // or a stats job).
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val id = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        execIds.add(id.getOrElse(s"raw-job-${js.jobId}")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (labels, rounds) = graft.operators.DedupOps
        .connectedComponentsWithRounds(verts, pairs, "doc_id")
      // Let the async listener bus drain before reading the counter.
      var waited = 0
      while (waited < 5000 && execIds.size() < 1 + rounds) {
        Thread.sleep(50); waited += 50
      }
      val seen = execIds.size()
      // ≤2 per round (stage materialization + checksum) + init labels
      // checksum + edges + slack.
      assert(seen <= 2 * rounds + 4,
        s"CC loop ran $seen job-scheduling actions for $rounds rounds " +
          "— a third per-round action crept in")
      assert(labels.select(col("component")).distinct().count() == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dormant simhash guards leave no variant or group-window leg in the plan") {
    // r22 leg pruning: at the production caps the gate corpus has no
    // over-cap level-1 bucket (simhash_bucket_ledger n_over_cap = 0)
    // and no over-cap identical-signature group, so the escalated
    // pipeline's one metadata action proves the variant legs and the
    // per-signature group windows structurally empty — the assembled
    // plan must contain ONLY the two banding population windows (one
    // per self-join side) and no vkey node at all. If a dead leg creeps
    // back, the Window count or the vkey probe fails here, not on a
    // cluster. Output equivalence is pinned separately (the
    // unguarded≡guarded parity spec and the oracle rows).
    val exec = SparkEntry.queries("simhash_near_dup")(spark, sfDir)
      .queryExecution.executedPlan
    assert(!exec.toString.contains("vkey"),
      "variant-stage nodes present despite a provably empty vkn")
    // Count Window operators on the plan tree (through the adaptive
    // wrapper and its query stages), not on the rendered plan text.
    val windowCount =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(exec) {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.size
    assert(windowCount == 2,
      s"expected exactly the 2 banding population windows, found $windowCount")
  }
}
