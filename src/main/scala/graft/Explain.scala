package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Dev tool: dump the formatted physical plan of each SparkEntry query and
  * flag scale anti-patterns (missing pushdown, unexpected cartesian,
  * non-codegen stages, corpus-side broadcasts).
  * Usage: graft.Explain [sfDir] [queryName...]. */
object Explain {

  /** Tables whose row count grows with the corpus — a broadcast whose
    * build subtree scans one of these WITHOUT any aggregation/limit in
    * between is a linear-growth broadcast: fine at gate scale, fatal at
    * 100 TB. This is exactly the `bigram_lm_scores` bug class (Catalyst
    * built the broadcast from 5 M exploded corpus rows at sf1 because
    * gate-scale size estimates said it was the small side) — the scaled
    * ledger caught it once; this audit catches the class statically.
    * region/nation (25/5 rows by construction) and the derived-dim
    * tables are excluded: broadcasting them is the designed plan. */
  private val CorpusTables =
    Seq("documents", "embeddings", "events", "lineitem", "orders")

  /** DIAGNOSTIC, not a gate: the full-suite sweep flags ~43 queries,
    * nearly all in three benign-by-construction classes — (1) ANN/search
    * probe batches modeled as `corpus % k` by the gate fixture (real
    * workloads supply an external bounded query batch); (2) estimate-
    * driven build sides on FILTERED fact tables in the TPC-H family,
    * which AQE re-plans from real stage sizes on a cluster (and whose
    * measured ledger ratios are 1.2-1.7x); (3) model-sized-by-contract
    * sides. A hard expect-empty check would need an allowlist as long
    * as the finding list and rot immediately. The enforcement
    * instrument for this class stays the scaled LEDGER (measured
    * ratios); this audit is the searchlight that turns a super-linear
    * ledger row into a one-line diagnosis — it found the
    * `bigram_lm_scores` exploded-corpus broadcast (7.7x -> 1.3x at 10x
    * after flipping the build side) in minutes.
    *
    * Triage discriminator (measured, round 13): what separates a
    * dangerous flag from a benign one is whether the broadcast side's
    * SIZE ESTIMATE scales with the corpus. A PURE-PROJECTION frame
    * (e.g. the minhash signature table — per-row transform of the
    * documents scan) inherits the scan's file-size estimate, so
    * Catalyst flips it to SMJ naturally as the corpus grows: forcing
    * merge hints on those joins measured +0.5-0.8 s per CC-family
    * query at gate scale for zero scale benefit (ledger already 1.2-
    * 2.2x at 10x) and was reverted. A POST-EXPLODE frame's estimate
    * does NOT track the real row count (the bigram bug: still chosen
    * as the build side at sf1 with 5 M actual rows), so there the fix
    * is real. When a flag fires, check the ledger row first, then
    * whether an explode sits between the scan and the broadcast. */

  /** Broadcast nodes whose build subtree scans a corpus table with no
    * aggregate/limit/group-limit between — returns one finding line per
    * offending (broadcast, table) pair. */
  def corpusBroadcasts(plan: SparkPlan): Seq[String] = {
    def isBounding(p: SparkPlan): Boolean = {
      val n = p.nodeName
      n.contains("Aggregate") || n.contains("Limit") ||
        n.contains("WindowGroupLimit") || n.contains("TakeOrdered")
    }
    def scansUnbounded(p: SparkPlan): Seq[String] =
      if (isBounding(p)) Nil
      else p match {
        case s: FileSourceScanExec =>
          // Match on the scan root's TERMINAL name component (modulo a
          // .parquet suffix), not substring containment: a warehouse
          // dir like `preorders_x` must not false-positive on `orders`.
          // ParquetWarehouse tables scan their data files
          // `…/<table>/[k=v/…]<commit>/<commit>-<i>.parquet` — there the
          // table name is the first component above the commit dir that
          // is not a partition (otherwise a corpus-sized warehouse-table
          // broadcast, e.g. the curation pipeline's documents table,
          // would be invisible to this audit — the exact
          // bigram_lm_scores bug class).
          s.relation.location.rootPaths
            .map { p =>
              val n = p.getName.stripSuffix(".parquet")
              if (p.getParent == null || !n.startsWith(p.getParent.getName + "-")) n
              else Iterator.iterate(p.getParent.getParent)(_.getParent)
                .find(d => d == null || !d.getName.contains('='))
                .flatMap(Option(_)).fold(n)(_.getName)
            }
            .filter(CorpusTables.contains).distinct
        case other => other.children.flatMap(scansUnbounded)
      }
    plan.collect { case b: BroadcastExchangeExec =>
      scansUnbounded(b.child).distinct
        .map(t => s"corpus-table '$t' broadcast without aggregation")
    }.flatten
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession.local("4")
    // AQE off for the audit: with it on, executedPlan is an
    // AdaptiveSparkPlanExec that exposes NO children to TreeNode.collect
    // until the query runs, and sparkPlan has no exchanges yet (they are
    // inserted by the preparation rules). The non-adaptive executedPlan
    // shows exactly the estimate-driven join/build-side choices this
    // audit is hunting — which is the point: AQE's runtime re-plan is
    // what saves a wrong static choice on a real cluster, and the audit
    // flags plans that NEED saving.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { name =>
      println(s"\n================ $name ================")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        corpusBroadcasts(df.queryExecution.executedPlan)
          .foreach(f => println(s"CORPUS-BROADCAST: $f"))
        // Compounded-estimate searchlight (CONTRACTS §8b): an iterative
        // loop that feeds its own checkpoint into a join without
        // re-anchoring stats squares the sizeInBytes estimate per round
        // — legitimate nested-join products stay well under ~10^300
        // (10 joins × 30-bit inputs ≈ 10^90); thousands of digits means
        // a compounding loop escaped GraftStats.withRowCount.
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est.bitLength > 1000)
          println(s"STATS-BLOWUP: sizeInBytes has ${est.toString.length} " +
            "digits — a loop is compounding checkpoint estimates " +
            "(CONTRACTS §8b; re-anchor with GraftStats.withRowCount)")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
