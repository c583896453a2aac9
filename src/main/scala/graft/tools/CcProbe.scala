package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Adversarial-topology probe for [[DedupOps.connectedComponents]]: runs
  * the production CC loop on PLANTED worst-case graphs far beyond the
  * spec-sized fixtures and reports measured round counts against the
  * documented bound (rounds ≤ HookDelay + ⌈log₂ n⌉ + 1 detection round
  * under class hooking + shortcut — a bound in the VERTEX COUNT, valid
  * for every topology, which is the point of the hook formulation: the
  * previous pointer-jump loop was O(log diameter) on chains but
  * measured O(diameter)-like on near-critical random graphs, 95 rounds
  * at 157 k vertices).
  *
  * Shapes (all deterministic `spark.range` constructions, no RNG):
  *   - chain n    — path graph, diameter n-1: the neighbor-only killer
  *     (rounds = n there) and the shape the capped-LSH over-cap path
  *     emits for a degenerate mega-bucket.
  *   - star n     — one hub, n leaves, diameter 2: converges inside the
  *     hook delay, AND stresses the `repartition(src)` hot key (half the
  *     symmetrized edges share src = hub) — the mega-cluster skew shape
  *     from CONTRACTS §4.
  *   - random n m — m hash-edges over n vertices (xxhash64 endpoints):
  *     many components of assorted shapes, the near-critical mixed case
  *     that broke the pointer-jump loop. CHECKED against the same
  *     bound — no measurement-only rows anymore.
  *
  * Usage: graft.tools.CcProbe [jsonOut] [maxChain]
  * Emits a paste-ready markdown table (stdout) + a JSON twin, and FAILS
  * (nonzero exit) if any measured round count exceeds the documented
  * bound or any component count is wrong — so the probe is a check, not
  * just a measurement. */
object CcProbe {

  private case class Probe(shape: String, n: Long, edges: Long,
      diameter: Long, rounds: Int, bound: Int, secs: Double,
      comps: Long)

  /** Documented worst-case rounds for n vertices: HookDelay
    * neighbor-only rounds, then each hook round at least halves the
    * number of distinct label classes (Borůvka argument) while the
    * shortcut collapses hook chains two levels per round, so ⌈log₂ n⌉
    * hook rounds always suffice; +1 round of equal-checksum
    * convergence detection. Unlike the retired pointer-jump bound
    * (diameter-based, chain-calibrated), this holds for every
    * topology and is asserted on every probed shape. */
  private def roundBound(n: Long): Int = {
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1))
    DedupOps.HookDelay + log2n + 1
  }

  private def run(spark: SparkSession, shape: String, n: Long,
      vertices: DataFrame, pairs: DataFrame, diameter: Long,
      expectComps: Option[Long]): Probe = {
    val m = pairs.count()
    val t0 = System.nanoTime()
    val (labels, rounds) =
      DedupOps.connectedComponentsWithRounds(vertices, pairs, "doc_id")
    val comps = labels.agg(countDistinct(col("component"))).head().getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    graft.ToolSession.clearStorage(spark)
    val bound = roundBound(n)
    val ok = rounds <= bound && expectComps.forall(_ == comps)
    System.err.println(f"$shape%-7s n=$n%9d rounds=$rounds%2d " +
      f"bound=$bound comps=$comps secs=$secs%7.2f " +
      (if (ok) "ok" else "VIOLATION"))
    require(rounds <= bound,
      s"$shape n=$n took $rounds rounds > documented bound $bound")
    expectComps.foreach(e => require(comps == e,
      s"$shape n=$n produced $comps components, expected $e"))
    Probe(shape, n, m, diameter, rounds, bound, secs, comps)
  }

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("CC_PROBE.json")
    val maxChain = if (args.length > 1) args(1).toLong else 1000000L
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    def chain(n: Long): Probe = run(spark, "chain", n,
      spark.range(1, n + 1).select(col("id").as("doc_id")),
      spark.range(1, n)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b")),
      diameter = n - 1, expectComps = Some(1L))

    def star(n: Long): Probe = run(spark, "star", n,
      spark.range(0, n + 1).select(col("id").as("doc_id")),
      spark.range(1, n + 1)
        .select(lit(0L).as("id_a"), col("id").as("id_b")),
      diameter = 2, expectComps = Some(1L))

    // Hash-random m edges over n vertices. Component count has no
    // closed form (reported as measured); the ROUND BOUND is checked —
    // that is the new capability of the vertex-count law. Label
    // EQUIVALENCE vs the neighbor-only reference on random graphs is a
    // spec (OperatorsSpec), which is where that contract lives.
    def random(n: Long, m: Long): Probe = {
      val vertices = spark.range(0, n).select(col("id").as("doc_id"))
      val pairs = spark.range(0, m).select(
          pmod(xxhash64(col("id"), lit(1)), lit(n)).as("id_a"),
          pmod(xxhash64(col("id"), lit(2)), lit(n)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      run(spark, "random", n, vertices, pairs,
        diameter = n - 1, expectComps = None)
    }

    val chains =
      (Seq(2000L, 20000L, 200000L).filter(_ < maxChain) :+ maxChain).sorted
    val probes = chains.map(chain) :+ star(maxChain) :+
      random(maxChain / 2, maxChain / 2)
    spark.stop()

    println(s"\n## CC adversarial probe (production loop, HookDelay=" +
      s"${DedupOps.HookDelay}, maxIter default, local[$cpus])\n")
    println("| shape | n | edges | diameter | rounds | bound | secs |")
    println("|---|---|---|---|---|---|---|")
    probes.foreach { p =>
      val dia = if (p.shape == "random") "<= n-1" else p.diameter.toString
      println(f"| ${p.shape} | ${p.n} | ${p.edges} | $dia | ${p.rounds} | ${p.bound} | ${p.secs}%.2f |")
    }
    val json = probes.map { p =>
      f"""{"shape":"${p.shape}","n":${p.n},"edges":${p.edges},"diameter":${p.diameter},"rounds":${p.rounds},"bound":${p.bound},"secs":${p.secs}%.3f,"components":${p.comps}}"""
    }.mkString(",")
    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(s"""{"hook_delay":${DedupOps.HookDelay},"cpus":$cpus,"probes":[$json]}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
  }
}
