package graft.tools

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse
import graft.operators.DedupOps
import graft.streaming.StreamingLoad

/** The COMPOSED continuous-curation pipeline probed at 1 M-corpus scale
  * through the production [[StreamingLoad.curationIngestStream]]: a
  * 1 M-document curated state (corpus + canonical-URL keys + MinHash
  * signatures over clean text), then arrival batches whose documents are
  * PLANTED one-fifth each into the five fates the pipeline decides —
  * URL-duplicate of a stored page, content copy of a stored page under a
  * fresh URL, spam that dies at the quality gate, a verbatim benchmark
  * reproduction that dies at decontamination (1,000-doc frozen eval
  * set, 8-gram overlap on CLEAN text), and honest survivors — so every
  * store's growth is an exact integer the probe can check, not a
  * statistical expectation.
  *
  * Checks (nonzero exit on violation — a check, not a measurement):
  *   1. per-batch store growth is EXACT: corpus and signatures grow by
  *      the planted survivor count, the key store by the four
  *      new-URL categories (the judged-once contract: a page rejected
  *      at quality, decontamination, or near-dup still claims its
  *      key);
  *   2. per-batch wall stays flat as the store grows (batch 4 ≤ 3× the
  *      max of batch 1 and a 5 s floor): the candidate join is banded
  *      and capped, the key join is an equi-join — per-batch work is
  *      O(batch), never O(corpus);
  *   3. the boilerplate scrub is active at scale (a survivor's
  *      clean_text drops the planted footer);
  *   4. a FULL replay of every batch against the populated stores (fresh
  *      checkpoint, same files) appends ZERO rows to all three stores —
  *      the per-table guards at 1 M, not just in the unit spec.
  *
  * Exactness domain (measured, SCALING.md "exactness has a measured
  * domain"): each 25k batch carries 5k honest docs, so one batch
  * implicitly runs N x 5k MinHash pair tests against an N-doc store
  * and the default 4-batch run N x 20k; at N = 1M (2e10 tests
  * run-wide) the K = 32 / t = 0.5 estimator produced zero false
  * positives across repeated runs, at N = 4M (8e10) exactly one — an
  * honest doc
  * rejected at est 17/32 = 0.53 whose TRUE shingle Jaccard is
  * 2/28 = 0.07 (the affine hash family is pairwise- but not min-wise-
  * independent, so agreement events are correlated and the tail is
  * heavier than the i.i.d. binomial). The pipeline is contract-correct
  * there; the probe's integer accounting is not. Keep n = 1M for the
  * exact check; larger n measures the estimator, not the pipeline.
  *
  * Usage: graft.tools.CurationStreamProbe [jsonOut] [n] [batchSize] [batches] [verifyExact]
  *
  * `verifyExact true` turns on the stream's exact-verify pass — the
  * 4M run that found the estimator false positive reads exact growth
  * again under it (the closure measurement for the domain note above).
  */
object CurationStreamProbe {

  private val Footer = "rights reserved contact example" // one aligned tile
  private val TileW = 4

  /** 16-token body, 8 stopwords interleaved with 8 content words drawn
    * from a 10 M-word hashed vocabulary (stopRatio 0.5, diversity ~1.0 ⇒
    * qualityScore ~0.52, comfortably past the 0.25 gate; spam below
    * scores ~0.07). `salt` decorrelates arrival bodies from seed bodies. */
  private def body(idCol: org.apache.spark.sql.Column, salt: Int) = {
    val stops = Seq("the", "a", "of", "to", "in", "is", "for", "on")
    concat_ws(" ", stops.zipWithIndex.flatMap { case (s, j) =>
      Seq(lit(s), concat(lit("w"),
        pmod(xxhash64(idCol, lit(salt), lit(j)), lit(10000000L))))
    }: _*)
  }

  private def url(idCol: org.apache.spark.sql.Column) =
    concat(lit("https://src"), (idCol % 1000).cast("string"),
      lit(".example.com/p/"), idCol.cast("string"))

  def main(args: Array[String]): Unit = {
    val jsonOut = args.headOption.getOrElse("CURATION_STREAM_PROBE.json")
    val n = if (args.length > 1) args(1).toLong else 1000000L
    val batchSize = if (args.length > 2) args(2).toLong else 25000L
    val batches = if (args.length > 3) args(3).toInt else 4
    val verifyExact = args.length > 4 && args(4).toBoolean
    require(batchSize % 5 == 0, "batchSize must be divisible by 5")
    val q = batchSize / 5
    val EvalN = 1000L
    val cpus = graft.ToolSession.cpus()
    val spark = graft.ToolSession.local(cpus)

    /** One full probe series (fresh temp state): seed → planted batches
      * with exact-growth/flat-wall/leak checks → scrub check → replay
      * check. Returns (seedSecs, batchWalls, replaySecs). Run twice
      * (verify off, then on) to price the exact-verify pass as a
      * same-data margin. */
    def series(verifyExact: Boolean): (Double, Seq[Double], Double) = {
    val root = Files.createTempDirectory("graft_curation_probe").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys, sigs) = (TableRef("", "curated"),
      TableRef("", "page_keys"), TableRef("", "curated_sigs"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))

    // ---- seed the 1 M curated state through the BATCH path (this is
    // "existing state"; the stream path is what's under probe). Bodies
    // are the clean text; stored raw text carries the footer; URLs are
    // canonicalizer fixed points (lowercase, no www/port/params).
    val t0 = System.nanoTime()
    val seed = spark.range(0, n).select(col("id").as("doc_id"),
      url(col("id")).as("url"), body(col("id"), 0).as("clean_text"))
    wh.load(LoadMode.Insert, tbl, seed
      .withColumn("canonical_url", col("url"))
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("clean_text")), "doc_id")
    wh.load(LoadMode.Insert, keys,
      seed.select(col("url").as("canonical_url"), col("doc_id")), "doc_id")
    wh.load(LoadMode.Insert, sigs, DedupOps.minhashSignatureArr(
      seed.select(col("doc_id"), col("clean_text")), "doc_id", "clean_text"),
      "doc_id")
    // Frozen boiler dict: footer tile df = sample size, body tiles df=1.
    // Materialized driver-side (1 row) and recreated as a literal frame:
    // the probe's first failure mode was handing the stream a
    // localCheckpoint frame while running clearStorage between batches
    // (storage hygiene ate a live input — CONTRACTS §8b's cousin). The
    // sink now scopes its own per-batch storage and external hygiene is
    // gone, but a frozen input should still never depend on cached
    // blocks it doesn't own.
    val dictComputed = graft.operators.TextOps.boilerplateDict(
      seed.filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          concat(col("clean_text"), lit(" " + Footer)).as("text")),
      "doc_id", "text", TileW, 20)
    val dictRows = dictComputed.collect()
    require(dictRows.length == 1, "dict must hold exactly the footer tile")
    val dict = spark.createDataFrame(
      spark.sparkContext.parallelize(dictRows.toIndexedSeq, 1),
      dictComputed.schema)
    val seedSecs = (System.nanoTime() - t0) / 1e9
    val baseBlocks = spark.sparkContext.getPersistentRDDs.keySet

    // Frozen held-out benchmark (decontamination eval set): a LAZY
    // deterministic frame — no cached blocks for per-batch storage
    // hygiene to eat (the dict above needs driver rows only because
    // boilerplateDict checkpoints internally).
    val evalSet = spark.range(0, EvalN).select(col("id").as("doc_id"),
      body(col("id"), 2).as("text"))

    // ---- arrival batches: category = id % 5.
    //   0: URL of stored page id%n, fresh text     -> URL-rejected
    //   1: fresh URL, copy of stored page's text   -> signature-rejected
    //   2: fresh URL, 16x"buy" spam                -> quality-rejected
    //   3: fresh URL, verbatim eval doc id%EvalN   -> decontam-rejected
    //   4: fresh URL, fresh honest text            -> survives
    def arrivals(b: Int): DataFrame = {
      val lo = n + b.toLong * batchSize
      spark.range(lo, lo + batchSize).select(col("id").as("doc_id"),
        when(col("id") % 5 === 0, url(col("id") % n))
          .otherwise(concat(lit("https://new"), col("id").cast("string"),
            lit(".example.com/p/"), col("id").cast("string"))).as("url"),
        when(col("id") % 5 === 1,
            concat(body(col("id") % n, 0), lit(" " + Footer)))
          .when(col("id") % 5 === 2,
            lit(Seq.fill(16)("buy").mkString(" ")))
          .when(col("id") % 5 === 3,
            concat(body(col("id") % EvalN, 2), lit(" " + Footer)))
          .otherwise(concat(body(col("id"), 1), lit(" " + Footer)))
          .as("text"))
    }
    def shipJson(df: DataFrame, name: String): Unit = {
      val tmp = s"$root/json_$name"
      df.select(to_json(struct(col("doc_id"), col("url"), col("text"))))
        .coalesce(4).write.text(tmp)
      val dir = new File(tmp)
      dir.listFiles().filter(_.getName.startsWith("part-")).zipWithIndex
        .foreach { case (f, i) => Files.move(f.toPath,
          Paths.get(src, s"${name}_$i.json"), StandardCopyOption.ATOMIC_MOVE) }
    }
    def counts() = (wh.table(tbl).count(), wh.table(keys).count(),
      wh.table(sigs).count())
    def run(ckpt: String): Double = {
      val t = System.nanoTime()
      StreamingLoad.curationIngestStream(spark, src, schema, wh, tbl, keys,
        sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
        minEst = 0.5, ckpt, tileWidth = TileW, minDf = 20,
        evalSet = Some(evalSet), contamN = 8, maxContamFrac = 0.05,
        verifyExact = verifyExact)
        .awaitTermination()
      (System.nanoTime() - t) / 1e9
    }

    val walls = (1 to batches).map { b =>
      shipJson(arrivals(b - 1), s"b$b")
      val before = counts()
      val w = run(s"$root/ckpt")
      val after = counts()
      val grew = (after._1 - before._1, after._2 - before._2,
        after._3 - before._3)
      System.err.println(f"batch $b: wall $w%.1fs growth corpus=${grew._1} " +
        s"keys=${grew._2} sigs=${grew._3} (expect $q, ${4 * q}, $q)")
      require(grew == ((q, 4 * q, q)),
        s"batch $b growth $grew != ($q, ${4 * q}, $q)")
      // No external storage hygiene here — the sink's own per-batch
      // storage scope must keep blocks from accumulating (checked
      // directly, and the flat-wall bound below would catch the
      // thrashing it prevents).
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseBlocks
      require(leaked.isEmpty,
        s"batch $b leaked ${leaked.size} cached blocks past the sink's " +
          "storage scope")
      w
    }

    // Scrub active at scale: an honest survivor's clean text has no
    // footer tokens.
    val aSurvivor = wh.table(tbl).filter(col("doc_id") >= n)
      .select(col("clean_text")).head().getString(0)
    require(!aSurvivor.contains("rights"),
      s"footer not scrubbed from survivor: '$aSurvivor'")

    // Full replay, fresh checkpoint: all files re-read, zero appends.
    val before = counts()
    val replaySecs = run(s"$root/ckpt_replay")
    val after = counts()
    require(after == before, s"replay grew stores: $before -> $after")

    val flatBound = 3.0 * math.max(walls.head, 5.0)
    println(s"\n## Composed curation-stream probe (corpus n=$n, " +
      s"$batches x $batchSize arrivals, verifyExact=$verifyExact, local[$cpus])\n")
    println("| check | measured | bound/expected |")
    println("|---|---|---|")
    println(f"| seed (batch path) | $seedSecs%.1f s | one-time |")
    walls.zipWithIndex.foreach { case (w, i) =>
      println(f"| batch ${i + 1} wall | $w%.1f s | batch-sized work |") }
    println(f"| batch $batches vs batch 1 | ${walls.last}%.1f s | <= $flatBound%.1f s |")
    println(s"| per-batch growth (corpus/keys/sigs) | $q / ${4 * q} / $q | exact, all $batches batches |")
    println(f"| full replay appends | 0 | 0 ($replaySecs%.1f s) |")
    require(walls.last <= flatBound,
      f"batch ${batches} wall ${walls.last}%.1f s > $flatBound%.1f s: " +
        "per-batch work is growing with the corpus")
    (seedSecs, walls, replaySecs)
    } // series

    // Plain series first (the standing exactness/flat-wall/replay probe),
    // then — when asked — the SAME planted workload under the stream's
    // exact-verify pass: identical stores, batches, and checks, so the
    // wall difference IS the verify stage's marginal cost per batch
    // (pair-count-sized lookup + one exact Jaccard per est-passing
    // candidate — the 4M false-positive closure path, priced).
    val (seedSecs, walls, replaySecs) = series(verifyExact = false)
    val verified =
      if (verifyExact) Some(series(verifyExact = true)) else None

    val verifyJson = verified.fold("") { case (vSeed, vWalls, vReplay) =>
      // Margin over WARM batches only (drop batch 1 of each series):
      // the verify series runs second and would otherwise pocket the
      // plain series' JIT warm-up as a flattering negative margin.
      def warmMean(ws: Seq[Double]) =
        { val t = if (ws.size > 1) ws.tail else ws; t.sum / t.size }
      val margin = warmMean(vWalls) - warmMean(walls)
      // The verify pass must stay a small fraction of a batch wall —
      // flag if it ever costs more than one plain batch.
      val bound = warmMean(walls)
      println(f"\nverify-exact margin: $margin%.2f s/batch " +
        f"(plain warm mean ${warmMean(walls)}%.2f s, verify warm mean " +
        f"${warmMean(vWalls)}%.2f s; bound <= $bound%.2f s)")
      require(margin <= bound,
        f"verify margin $margin%.2f s/batch exceeds one plain batch " +
          f"($bound%.2f s) — the pair lookup is reading the corpus, not " +
          "the candidates")
      f""","verify_seed_secs":$vSeed%.2f,""" +
        s""""verify_batch_walls":[${vWalls.map(w => f"$w%.2f").mkString(",")}],""" +
        f""""verify_replay_secs":$vReplay%.2f,""" +
        f""""verify_margin_secs_per_batch":$margin%.2f,""" +
        f""""verify_margin_bound_secs":$bound%.2f"""
    }

    spark.stop()

    val pw = new PrintWriter(new File(jsonOut))
    try pw.println(
      s"""{"n":$n,"batch_size":$batchSize,"batches":$batches,""" +
      s""""verify_exact":$verifyExact,""" +
      f""""seed_secs":$seedSecs%.2f,""" +
      s""""batch_walls":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
      s""""growth_per_batch":{"corpus":$q,"keys":${4 * q},"sigs":$q},""" +
      f""""replay_secs":$replaySecs%.2f,"replay_growth":0$verifyJson}""")
    finally pw.close()
    System.err.println(s"wrote $jsonOut")
  }
}
