package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main. Writes the full per-query map to
  * `SPARK_GRAFT_BENCH_OUT` (default `BENCH_LOCAL.json`; subset runs
  * default to `BENCH_SUBSET.json`) and prints ONE stdout line, last and
  * with nothing after it: a bare JSON summary of at most ~1.5 KB —
  * `{"metric":"total","value":N,"unit":"sec",...,"n_queries":N,
  * "pipeline_value":..,"contract_value":..,"n_failed":N,"failed":[..],
  * "slowest":{10 rows}}`. A reader that keeps only the last 2,000 bytes
  * of the output still holds the whole line (`scripts/run_bench.sh`
  * fails when it does not parse).
  *
  * Methodology: each query runs `SPARK_GRAFT_BENCH_REPEATS` times
  * (default 3, matching the min-of-3 the round-close BENCH_DELTA
  * comparisons quote — the committed artifact and the quoted
  * methodology must agree) and reports the MIN — the first execution of a query
  * shape pays whole-stage-codegen compilation + JIT (measured 2-3x on
  * sub-second queries; round 4's "scd2_asof_lookup 2.1x regression" was
  * exactly this, on byte-identical code), so one-shot timings compare
  * noise, not plans. The file also carries a `"compiles"` map: per
  * row, the codegen compiles (Janino) of the repeat it reports. A row
  * that still compiles on its fastest repeat misses the codegen cache.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // Dev-only subset filter (comma-separated names); the driver never
    // sets it, so round benches always cover the full suite. Set-but-
    // EMPTY counts as unset (matching run_bench.sh's `-z` check) — an
    // empty set would silently run zero queries while the shell treats
    // the run as full-suite and archives/diffs the stale reference.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val spark = ToolSession.local(cpus, logLevel = "WARN")
    // Warmup: absorb JVM/codegen/classloading startup so the first measured
    // query isn't charged for it.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val compilations = CodegenMetrics.METRIC_COMPILATION_TIME
    // Per row: (min seconds, compiles of that repeat).
    val measured: Seq[(String, (Double, Long))] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val times = (1 to repeats).flatMap { _ =>
          val c0 = compilations.getCount
          val t0 = System.nanoTime()
          val res =
            try {
              fn(spark, sfDir).count()
              Some((System.nanoTime() - t0) / 1e9 -> (compilations.getCount - c0))
            }
            catch { case e: Throwable =>
              if (!failures.contains(name)) {
                failures += name
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              }
              None
            }
          // Storage hygiene after EVERY repeat, outside the timed region
          // (see ToolSession.clearStorage — measured: repetition_scores
          // 1.38 s in-suite vs 0.32 s with a clean store, min-of-3
          // both). Per-repeat, not per-query: min-of-N usually selects
          // repeat 2+, and clearing only between queries would leave
          // those repeats running under the storage blocks repeat 1
          // leaked — the same suite-state bias this removes.
          ToolSession.clearStorage(spark)
          res
        }
        name -> (if (times.nonEmpty) times.minBy(_._1) else (0.0, 0L))
      }
    val results = measured.map { case (name, (secs, _)) => name -> secs }
    def fmt(v: Double) = f"$v%.4f"
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Pipeline vs contract split (r16 verdict ask #5): the recall/
    // evidence contract rows deliberately run truth pipelines (exact +
    // approximate + intersect), so as contracts accumulate the headline
    // increasingly measures the measurement. Both aggregates are
    // emitted so round-over-round comparisons can track shippable
    // operators separately from the measurement harness; the per-query
    // map stays unified (the regression gate diffs every row either way).
    val (contractRows, pipelineRows) =
      results.partition(r => SparkEntry.ContractQueries.contains(r._1))
    val pipelineTotal = pipelineRows.map(_._2).sum
    val contractTotal = contractRows.map(_._2).sum
    val splitFields =
      s""""pipeline_value":${fmt(pipelineTotal)},"n_pipeline":${pipelineRows.size},""" +
        s""""contract_value":${fmt(contractTotal)},"n_contracts":${contractRows.size}"""
    val qsAll = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // The FILE carries the full per-query map (the regression gate's
    // reference); stdout carries only the bounded summary below — with
    // 200+ queries the full map (~7 KB) outgrows a 2,000-byte tail.
    // n_queries lets the regression gate distinguish a genuine full map
    // from a truncated archive deterministically (len(queries) <
    // n_queries ⇒ refuse) even when BOTH inputs are truncated.
    val contractNames = contractRows.map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val compilesAll = measured.map { case (k, (_, c)) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","repeats":$repeats,"n_queries":${results.size},$splitFields,"contract_queries":$contractNames,"queries":$qsAll,"compiles":$compilesAll,"failed":$fails,"sf":"$sfDir"}"""
    // Subset runs must not overwrite the full-suite map the regression
    // gate diffs against.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      fileLine.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
    // The summary line, printed after the session is down so nothing
    // follows it: bounded size (10 slowest rows, at most 10 failure
    // names plus their count), so it always fits a 2,000-byte tail.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val someFails = failures.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","repeats":$repeats,"n_queries":${results.size},$splitFields,"n_failed":${failures.size},"failed":$someFails,"slowest":$slowest}""")
    System.out.flush()
  }
}
