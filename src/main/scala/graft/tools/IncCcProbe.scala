package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Continuous-ingest probe for [[DedupOps.incrementalComponents]] — the
  * last incremental path without 1 M-scale evidence ([[IvfAppendProbe]]
  * covers ANN append, [[LshCapProbe]]/[[SimhashCapProbe]] the candidate
  * stages). Checked at 1 M existing vertices + 100 k arrivals:
  *
  *   1. EXACT parity: incremental labels equal a full
  *      [[DedupOps.connectedComponents]] rebuild over the merged graph,
  *      row for row. This is exact (not just partition-equal) because
  *      both sides produce min-vertex-id labels: prev labels are
  *      component minima, a merged component's incremental label is the
  *      min over its old labels = the true min vertex id, and arrival
  *      ids sort above every existing id by construction;
  *   2. per-batch WORK scales with the batch: the incremental pass (one
  *      streamed broadcast-semi filter down to the batch-touched corpus
  *      rows, batch-sized lift joins, a CC over the TOUCHED LABEL
  *      graph, one broadcast remap — the corpus streams twice and never
  *      shuffles) must run well under the full rebuild — asserted at
  *      <= 0.6x for a 10% batch (measured 0.29-0.49 across runs; the
  *      margin absorbs same-process timing variance, see the round-12
  *      ±30-60% ledger note);
  *   3. replay idempotence: re-running with the same batch changes no
  *      label (the fresh-only anti-join + a remap that maps nothing).
  *
  * Topology: existing graph = n/16 chains of 16 (deep enough that the
  * full rebuild pays ~7 label rounds — the cost incremental exists to
  * avoid re-paying; with shallow two-cliques the rebuild converges
  * inside the hook delay and the comparison measures only fixed corpus
  * passes, ratio ~0.51 measured). Arrivals: half attach to one
  * existing vertex (cluster growth), half BRIDGE two distinct existing
  * components (the remap-exercising case — two old labels collapse to
  * one through an arrival), plus every arrival also exercises the
  * fresh-vertex seeding.
  *
  * Usage: graft.tools.IncCcProbe [jsonOut] [n] [batch]
  * Emits a markdown table + JSON twin; FAILS (nonzero exit) on any
  * bound violation — a check, not just a measurement. */
object IncCcProbe {

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("INC_CC_PROBE.json")
    val n = if (args.length > 1) args(1).toLong else 1000000L
    val batch = if (args.length > 2) args(2).toLong else 100000L
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    // Existing: vertices [0, n), chains of 16 — edge (v, v+1) unless v
    // closes a chain. n/16 components, diameter 15.
    val chainLen = 16L
    val vertices = spark.range(0, n).select(col("id").as("doc_id"))
    val edges = spark.range(0, n)
      .filter(col("id") % chainLen =!= (chainLen - 1))
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val t0 = System.nanoTime()
    val prev = DedupOps.connectedComponents(vertices, edges, "doc_id")
      .localCheckpoint(true)
    val basePairs = prev.filter(col("doc_id") =!= col("component")).count()
    val baseSecs = (System.nanoTime() - t0) / 1e9

    // Arrivals [n, n+batch): even j attaches to one existing vertex,
    // odd j bridges two DISTINCT existing chains (hash-spread so
    // bridge targets rarely coincide; coinciding ones just degrade to
    // an attach — parity stays exact either way).
    val newVertices = spark.range(n, n + batch).select(col("id").as("doc_id"))
    val attach = spark.range(n, n + batch).filter(col("id") % 2 === 0)
      .select(col("id").as("id_a"), pmod(xxhash64(col("id")), lit(n)).as("id_b"))
    val bridgeA = spark.range(n, n + batch).filter(col("id") % 2 === 1)
      .select(col("id").as("id_a"), pmod(xxhash64(col("id"), lit(1)), lit(n)).as("id_b"))
    val bridgeB = spark.range(n, n + batch).filter(col("id") % 2 === 1)
      .select(col("id").as("id_a"), pmod(xxhash64(col("id"), lit(2)), lit(n)).as("id_b"))
    val newEdges = attach.unionByName(bridgeA).unionByName(bridgeB)
      .localCheckpoint(true)

    val t1 = System.nanoTime()
    val inc = DedupOps.incrementalComponents(prev, newVertices, newEdges,
      "doc_id").localCheckpoint(true)
    val nInc = inc.count()
    val incSecs = (System.nanoTime() - t1) / 1e9

    // Full rebuild over the merged graph — the parity oracle AND the
    // work-bound reference (timed on the same warm session).
    val t2 = System.nanoTime()
    val full = DedupOps.connectedComponents(
      vertices.unionByName(newVertices), edges.unionByName(newEdges),
      "doc_id").localCheckpoint(true)
    val fullSecs = (System.nanoTime() - t2) / 1e9
    val nDiff = inc.join(full, Seq("doc_id", "component"), "full_outer")
      .filter(inc("doc_id").isNull || full("doc_id").isNull).count()

    // Replay: same batch again — labels must be byte-identical.
    val t3 = System.nanoTime()
    val replay = DedupOps.incrementalComponents(inc, newVertices, newEdges,
      "doc_id")
    val nReplayDiff = replay.join(inc, Seq("doc_id", "component"), "full_outer")
      .filter(replay("doc_id").isNull || inc("doc_id").isNull).count()
    val replaySecs = (System.nanoTime() - t3) / 1e9
    val mergedComps = full.agg(countDistinct(col("component"))).head().getLong(0)
    spark.stop()

    val nChains = n / chainLen
    val expectNonRoot = n - nChains
    println(s"\n## Incremental CC probe (n=$n existing in $nChains " +
      s"chains of $chainLen + $batch arrivals, half attach / half " +
      s"bridge, local[$cpus])\n")
    println("| check | measured | bound/expected | secs |")
    println("|---|---|---|---|")
    println(f"| base CC build ($nChains chains) | $basePairs non-root labels | = $expectNonRoot | $baseSecs%.2f |")
    println(f"| incremental labels | $nInc rows | = ${n + batch} (every vertex labeled once) | $incSecs%.2f |")
    println(f"| parity vs full rebuild ($mergedComps comps) | $nDiff differing rows | = 0 (EXACT label equality) | $fullSecs%.2f |")
    println(f"| replay same batch | $nReplayDiff differing rows | = 0 (idempotent) | $replaySecs%.2f |")
    println(f"| incremental/rebuild time ratio | ${incSecs / fullSecs}%.3f | <= 0.6 (10%% batch => work ~ batch; 0.29-0.49 measured) | |")

    require(basePairs == expectNonRoot,
      s"base CC wrong: $basePairs non-root labels != $expectNonRoot")
    require(nInc == n + batch, s"incremental produced $nInc labels != ${n + batch}")
    require(nDiff == 0, s"$nDiff rows differ from the full rebuild")
    require(nReplayDiff == 0, s"replay changed $nReplayDiff labels")
    // Work-bound check only at probe scale (same rationale as
    // IvfAppendProbe: below ~500k vertices fixed per-job overhead
    // dominates both timings and the ratio measures overhead).
    if (n >= 500000L)
      require(incSecs <= 0.6 * fullSecs,
        f"incremental $incSecs%.1fs > 0.6x rebuild $fullSecs%.1fs: " +
          "per-batch work is not batch-scaled")
    else
      System.err.println(
        f"[probe] smoke scale n=$n: inc/rebuild ratio ${incSecs / fullSecs}%.3f reported, not asserted")

    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(
      f"""{"n":$n,"batch":$batch,"base_secs":$baseSecs%.3f,"inc_secs":$incSecs%.3f,"rebuild_secs":$fullSecs%.3f,"inc_rebuild_ratio":${incSecs / fullSecs}%.4f,"parity_diff":$nDiff,"replay_diff":$nReplayDiff,"merged_components":$mergedComps}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
  }
}
