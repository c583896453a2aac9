package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.QualityModelOps

/** Sample-rate / agreement curve for the bounded-sample quality-training
  * path: cold-train the Q16 logistic gate on deterministic pair-stable
  * 1-in-mod samples of the spam-planted corpus (mod = 1 is the
  * full-batch baseline), then score the FULL corpus under each weight
  * set and report keep-decision agreement vs the full model — so the
  * default QmSampleMod is a knee read off a measured table, not a
  * guess. No ModelStore involvement: every train is timed cold inside
  * this run (the store would make later mods free and the costs
  * unreproducible — the GRAFT_LEDGER_COLD_MODELS lesson).
  *
  * Usage: graft.tools.QualitySampleCurve [dir] [jsonOut] [mods...]
  *   dir default /root/testdata/sf0.1; mods default 1 4 16 64.
  * Run on the 100x corpus (/tmp/graft_testdata/sf10, 1M planted docs)
  * for the numbers SCALING.md quotes: that is the scale where the
  * full-batch train (measured 208 s one-time) begins to dominate. */
object QualitySampleCurve {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val jsonOut = if (args.length > 1) args(1) else "QUALITY_SAMPLE_CURVE.json"
    val mods = if (args.length > 2) args.drop(2).map(_.toInt).toSeq
      else Seq(1, 4, 16, 64)
    require(mods.headOption.contains(1),
      "first mod must be 1 (the full-batch agreement baseline)")
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)
    try {
      val docs = SparkEntry.spamPlantedDocs(spark, dir)
      val labels = SparkEntry.spamLabels(spark, dir)
      val nDocs = docs.count()

      def sampled(mod: Int): DataFrame =
        if (mod == 1) docs
        else docs.filter(graft.functions.TextFunctions.hash60(
          (col("doc_id") % 20000000L).cast("string")) % mod === 0)

      case class Pt(mod: Int, nTrain: Long, trainSecs: Double,
        weights: DataFrame)
      val pts = mods.map { mod =>
        val smp = sampled(mod)
        val nTrain = smp.count()
        val t0 = System.nanoTime()
        val w = QualityModelOps.train(spark,
            QualityModelOps.hashedFeatures(smp, "doc_id", "text"),
            labels.join(smp.select("doc_id"), "doc_id"),
            "doc_id", SparkEntry.QmSteps)
          .localCheckpoint(true) // materialize: the train IS the timed work
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"mod=$mod%-3d n_train=$nTrain%9d train=$secs%7.1f s")
        Pt(mod, nTrain, secs, w)
      }

      // One full-corpus scoring pass per weight set; agreement is
      // keep-decision (score >= 0) equality vs the mod=1 weights.
      val feats = QualityModelOps.hashedFeatures(docs, "doc_id", "text")
        .localCheckpoint(true) // featurize once, score |mods| times
      val fullScores = QualityModelOps.scores(feats, pts.head.weights,
        "doc_id").withColumnRenamed("score", "s_full").localCheckpoint(true)
      val rows = pts.map { p =>
        val agree =
          if (p.mod == 1) nDocs
          else QualityModelOps.scores(feats, p.weights, "doc_id")
            .join(fullScores, "doc_id")
            .filter((col("score") >= 0) === (col("s_full") >= 0))
            .count()
        (p.mod, p.nTrain, p.trainSecs, agree,
          agree.toDouble / nDocs * 100.0)
      }

      println(s"\n## Quality-gate sample curve ($dir, $nDocs planted docs, local[$cpus])\n")
      println("| sample | train docs | train s | keep-agreement vs full |")
      println("|---|---|---|---|")
      rows.foreach { case (mod, nt, s, agree, pct) =>
        val label = if (mod == 1) "full" else s"1-in-$mod"
        println(f"| $label | $nt | $s%.1f | $agree / $nDocs ($pct%.4f%%) |")
      }

      val pw = new PrintWriter(new File(jsonOut))
      try pw.println(s"""{"dir":"$dir","n_docs":$nDocs,"points":[""" +
        rows.map { case (mod, nt, s, agree, pct) =>
          f"""{"mod":$mod,"n_train":$nt,"train_secs":$s%.2f,"n_agree":$agree,"agree_pct":$pct%.4f}"""
        }.mkString(",") + "]}")
      finally pw.close()
      System.err.println(s"wrote $jsonOut")
    } finally spark.stop()
  }
}
