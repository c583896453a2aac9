package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse
import graft.streaming.StreamingLoad
import graft.gate.CurationGate

/** Structured Streaming parity specs (SURVEY.md §7.2 M5): incremental file
  * arrival → AvailableNow → per-batch upsert, and the trigger-boundary
  * restatement of the reference's late-file semantics. */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def writeFile(dir: String, name: String, lines: String): Unit =
    Files.write(Paths.get(dir, name), lines.getBytes("UTF-8"))

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graftshim.GraftScheduler.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("fileStreamUpsert: AvailableNow drains all present files, upserting per batch") {
    val root = Files.createTempDirectory("graft_stream").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val tbl = TableRef("", "people")

    writeFile(src, "a.json", "{\"id\":1,\"name\":\"a\"}\n{\"id\":2,\"name\":\"b\"}")
    val q1 = StreamingLoad.fileStreamUpsert(
      spark, src, schema, wh, tbl, "id", s"$root/ckpt")
    q1.awaitTermination()
    assert(wh.table(tbl).count() == 2)

    // Late file: arrives after the trigger drained — reference semantics
    // would warn-and-drop (X5); here the NEXT AvailableNow run picks it up.
    writeFile(src, "b.json", "{\"id\":2,\"name\":\"B2\"}\n{\"id\":3,\"name\":\"c\"}")
    val q2 = StreamingLoad.fileStreamUpsert(
      spark, src, schema, wh, tbl, "id", s"$root/ckpt")
    q2.awaitTermination()

    val out = wh.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("nearDupRejectStream: within-batch and vs-store rejection across runs") {
    val root = Files.createTempDirectory("graft_neardup").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, sig) = (TableRef("", "corpus"), TableRef("", "corpus_sigs"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = "spark filter merge join window batch stream hash sort " +
      "group order value column row table part key data line agg"

    // Run 1: two distinct docs + a near-copy of doc 1 (higher id) —
    // the copy must be rejected WITHIN the batch.
    writeFile(src, "a.json",
      s"""{"doc_id":1,"text":"$base one"}
         |{"doc_id":2,"text":"totally different tiny document about nothing else at all"}
         |{"doc_id":3,"text":"$base two"}""".stripMargin)
    StreamingLoad.nearDupRejectStream(spark, src, docSchema, wh, tbl, sig,
      "doc_id", "text", minEst = 0.5, s"$root/ckpt").awaitTermination()
    val afterRun1 = wh.table(tbl).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterRun1 == Set(1L, 2L), s"got $afterRun1")
    assert(wh.table(sig).count() == 2)

    // Run 2: a near-copy of the STORED doc 1 (rejected via the persisted
    // signatures — the corpus is not re-shingled) and one new doc (kept).
    writeFile(src, "b.json",
      s"""{"doc_id":10,"text":"$base three"}
         |{"doc_id":11,"text":"fresh unrelated content words appear nowhere in the corpus yet"}""".stripMargin)
    StreamingLoad.nearDupRejectStream(spark, src, docSchema, wh, tbl, sig,
      "doc_id", "text", minEst = 0.5, s"$root/ckpt").awaitTermination()
    val afterRun2 = wh.table(tbl).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterRun2 == Set(1L, 2L, 11L), s"got $afterRun2")
    // Survivors' signatures were persisted alongside.
    assert(wh.table(sig).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 11L))
  }

  test("curationIngestStream: composed url/scrub/quality/near-dup stages, " +
      "rejected pages stay judged, full replay appends zero") {
    import graft.operators.TextOps
    val root = Files.createTempDirectory("graft_curation").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys, sigs) =
      (TableRef("", "curated"), TableRef("", "page_keys"),
        TableRef("", "curated_sigs"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))
    // 4-token footer on a tileWidth=4 pipeline: bodies below are
    // 16 tokens (a multiple of 4), so the appended footer always lands
    // tile-aligned and the frozen dict (trained on 3 footered docs,
    // minDf=2) scrubs exactly it.
    val footer = "rights reserved contact example"
    val bodyA = "the quick brown fox jumps over a lazy dog while the " +
      "calm river flows north slowly" // 16 tokens, stopword-rich, diverse
    val bodyB = "a small green bird sings near the old stone bridge " +
      "under bright morning light each day"
    val bodyC = "fresh snow covers the tall pine trees along this " +
      "quiet mountain trail today here right now"
    val bodyD = "seven ships sail past the rocky harbor wall before " +
      "the evening tide turns around at dusk"
    val bodyE = "the young fox runs across a wide open field while the " +
      "wind blows from the west"
    val bodyF = "an old man reads his paper by the window of a small " +
      "cafe in the square"
    val spam = "buy buy buy buy buy buy buy buy" // diversity 1/8, no stops
    import spark.implicits._
    val dict = TextOps.boilerplateDict(
      Seq((100L, s"$bodyA $footer"), (101L, s"$bodyB $footer"),
        (102L, s"$bodyC $footer")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).localCheckpoint(true)
    def run(): Unit =
      StreamingLoad.curationIngestStream(spark, src, docSchema, wh, tbl,
        keys, sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
        minEst = 0.5, s"$root/ckpt", tileWidth = 4, minDf = 2)
        .awaitTermination()

    // Run 1: 1 survives; 2 is a surface variant of 1's URL (url-reject
    // within batch); 3 is spam (dies at quality, but its URL key is
    // still claimed); 4 is a copy of 1's text under a new URL (dup
    // reject within the batch — J=1 so every band collides
    // deterministically; the graded-similarity S-curve is
    // nearDupRejectStream's spec's concern); 5 survives.
    writeFile(src, "a.json", Seq(
      s"""{"doc_id":1,"url":"https://www.a.com/x?utm_source=f","text":"$bodyA $footer"}""",
      s"""{"doc_id":2,"url":"HTTPS://A.COM:443/x/","text":"$bodyB $footer"}""",
      s"""{"doc_id":3,"url":"https://a.com/spam","text":"$spam"}""",
      s"""{"doc_id":4,"url":"https://a.com/copy","text":"$bodyA $footer"}""",
      s"""{"doc_id":5,"url":"https://a.com/b","text":"$bodyB $footer"}""")
      .mkString("\n"))
    run()
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 5L))
    // THE composed-store semantics: rejected pages' URLs stay judged.
    assert(wh.table(keys).select("canonical_url").collect()
      .map(_.getString(0)).toSet ==
      Set("https://a.com/x", "https://a.com/spam", "https://a.com/copy",
        "https://a.com/b"))
    // Survivors' clean_text is scrubbed (footer gone, body intact).
    val clean1 = wh.table(tbl).filter(col("doc_id") === 1L)
      .select("clean_text").head().getString(0)
    assert(clean1 == bodyA, s"scrub mismatch: '$clean1'")

    // Run 2: 10 re-claims the SPAM page's URL — rejected at the URL
    // stage even though the spam doc never reached the corpus; 11 copies
    // STORED doc 1's text (vs-store signature reject); 12 survives with a
    // new page; 13 is keyless (null url) and survives.
    writeFile(src, "b.json", Seq(
      s"""{"doc_id":10,"url":"https://a.com/spam#frag","text":"$bodyC $footer"}""",
      s"""{"doc_id":11,"url":"https://a.com/c","text":"$bodyA $footer"}""",
      s"""{"doc_id":12,"url":"https://a.com/d","text":"$bodyC $footer"}""",
      s"""{"doc_id":13,"url":null,"text":"$bodyD $footer"}""")
      .mkString("\n"))
    val jobs2 = jobsDuring(run())
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 5L, 12L, 13L))
    assert(wh.table(sigs).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 5L, 12L, 13L))
    assert(wh.table(keys).select("canonical_url").collect()
      .map(_.getString(0)).toSet ==
      Set("https://a.com/x", "https://a.com/spam", "https://a.com/copy",
        "https://a.com/b", "https://a.com/c", "https://a.com/d"))

    // Run 3 plants run 2's four fates again against the grown stores:
    // 20 re-claims stored key d, 21 copies stored doc 12's text under a
    // new URL, 22 survives with a new page, 23 is keyless and survives.
    // Per-batch work must not grow with the stores: the batch runs the
    // same number of Spark jobs as run 2 (no store-sized loop or
    // per-row driver action).
    writeFile(src, "c.json", Seq(
      s"""{"doc_id":20,"url":"https://a.com/d?utm_medium=x","text":"$bodyE $footer"}""",
      s"""{"doc_id":21,"url":"https://a.com/e","text":"$bodyC $footer"}""",
      s"""{"doc_id":22,"url":"https://a.com/f","text":"$bodyE $footer"}""",
      s"""{"doc_id":23,"url":null,"text":"$bodyF $footer"}""")
      .mkString("\n"))
    // Run 3 is also a NEW query with the same plans as run 2: its body
    // runs in the caller's session, so every generated class is already
    // in the codegen cache and the batch compiles nothing.
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiledBefore = compiled.getCount
    val jobs3 = jobsDuring(run())
    val compiles3 = compiled.getCount - compiledBefore
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 5L, 12L, 13L, 22L, 23L))
    assert(wh.table(keys).count() == 8L)
    assert(jobs3 == jobs2,
      s"per-batch Spark jobs grew with the stores: $jobs2 -> $jobs3")
    assert(compiles3 == 0,
      s"a repeated stream batch recompiled $compiles3 generated classes")

    // Full replay with a FRESH checkpoint: every doc re-arrives against
    // the populated stores — keyed survivors re-reject at the URL
    // stage, the keyless survivor re-rejects on its own signature, and
    // every store appends ZERO rows (per-table guards).
    val (nT, nK, nS) =
      (wh.table(tbl).count(), wh.table(keys).count(), wh.table(sigs).count())
    StreamingLoad.curationIngestStream(spark, src, docSchema, wh, tbl,
      keys, sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
      minEst = 0.5, s"$root/ckpt_replay", tileWidth = 4, minDf = 2)
      .awaitTermination()
    assert((wh.table(tbl).count(), wh.table(keys).count(),
      wh.table(sigs).count()) == ((nT, nK, nS)))
  }

  test("curationIngestStream: decontamination stage rejects benchmark " +
      "overlap on CLEAN text; rejected docs still claim keys") {
    import graft.operators.TextOps
    val root = Files.createTempDirectory("graft_curation_decon").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys, sigs) =
      (TableRef("", "curated"), TableRef("", "page_keys"),
        TableRef("", "curated_sigs"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))
    val footer = "rights reserved contact example"
    val bodyA = "the quick brown fox jumps over a lazy dog while the " +
      "calm river flows north slowly"
    val bodyB = "a small green bird sings near the old stone bridge " +
      "under bright morning light each day" // the held-out benchmark doc
    val bodyC = "fresh snow covers the tall pine trees along this " +
      "quiet mountain trail today here right now"
    import spark.implicits._
    // THREE DISTINCT training bodies: with minDf=2 a repeated body's
    // tiles would join the dict and the "honest" doc would scrub to
    // nothing (a fixture bug a review pass caught) — only the footer
    // tile reaches df >= 2.
    val dict = TextOps.boilerplateDict(
      Seq((100L, s"$bodyA $footer"), (101L, s"$bodyB $footer"),
        (102L, s"$bodyC $footer")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).localCheckpoint(true)
    assert(dict.count() == 1, "dict must hold exactly the footer tile")
    val eval = Seq((900L, bodyB)).toDF("doc_id", "text").localCheckpoint(true)
    // Set-diff, not a count: ContextCleaner may GC-unpersist blocks
    // belonging to EARLIER tests in the shared session at any moment.
    val baseBlocks = spark.sparkContext.getPersistentRDDs.keySet
    // 1 is honest; 2 reproduces the benchmark doc VERBATIM under crawl
    // chrome — the scrub strips the footer first, so the contamination
    // check sees pure benchmark text (frac 1.0) even though the RAW
    // text's grams are diluted by the footer; 3 is ALL chrome (scrubs
    // to empty — must never become a zero-content corpus row even
    // though qualityScore rates the empty token list 0.30). All three
    // claim keys.
    writeFile(src, "a.json", Seq(
      s"""{"doc_id":1,"url":"https://a.com/x","text":"$bodyA $footer"}""",
      s"""{"doc_id":2,"url":"https://a.com/leak","text":"$bodyB $footer"}""",
      s"""{"doc_id":3,"url":"https://a.com/chrome","text":"$footer"}""")
      .mkString("\n"))
    StreamingLoad.curationIngestStream(spark, src, docSchema, wh, tbl,
      keys, sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
      minEst = 0.5, s"$root/ckpt", tileWidth = 4, minDf = 2,
      evalSet = Some(eval), contamN = 8, maxContamFrac = 0.05)
      .awaitTermination()
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L))
    assert(wh.table(sigs).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L))
    // The survivor's stored text is the SCRUBBED body — the premise the
    // contamination check rests on, asserted, not assumed.
    assert(wh.table(tbl).filter(col("doc_id") === 1L)
      .select("clean_text").head().getString(0) == bodyA)
    // The leaked and all-chrome pages are judged: keys claimed, so
    // surface variants re-reject at stage 1 without re-running the
    // gram join or the scrub.
    assert(wh.table(keys).select("canonical_url").collect()
      .map(_.getString(0)).toSet ==
      Set("https://a.com/x", "https://a.com/leak", "https://a.com/chrome"))
    // Replay against populated stores: zero appends with the stage on.
    val before = (wh.table(tbl).count(), wh.table(keys).count(),
      wh.table(sigs).count())
    StreamingLoad.curationIngestStream(spark, src, docSchema, wh, tbl,
      keys, sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
      minEst = 0.5, s"$root/ckpt_replay", tileWidth = 4, minDf = 2,
      evalSet = Some(eval), contamN = 8, maxContamFrac = 0.05)
      .awaitTermination()
    assert((wh.table(tbl).count(), wh.table(keys).count(),
      wh.table(sigs).count()) == before)
    // Per-batch storage is scoped to the batch: two full stream runs
    // must leave NO new cached blocks behind (the frozen dict/eval
    // frames were materialized before the baseline and survive).
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseBlocks
    assert(leaked.isEmpty,
      s"stream leaked ${leaked.size} cached blocks past its batches")
  }

  test("curationIngestStream: verifyExact overrides a false-positive " +
      "signature match but keeps true duplicates rejected") {
    import graft.operators.{DedupOps, TextOps}
    val footer = "rights reserved contact example"
    val bodyA = "the quick brown fox jumps over a lazy dog while the " +
      "calm river flows north slowly"
    val bodyB = "a small green bird sings near the old stone bridge " +
      "under bright morning light each day"
    val bodyC = "fresh snow covers the tall pine trees along this " +
      "quiet mountain trail today here right now"
    import spark.implicits._
    val dict = TextOps.boilerplateDict(
      Seq((100L, s"$bodyA $footer"), (101L, s"$bodyB $footer"),
        (102L, s"$bodyC $footer")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).localCheckpoint(true)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))

    // One store setup per flag value. Store doc 998 is honest (its sig
    // matches its corpus text, bodyB); store doc 999 is the SIMULATED
    // estimator false positive: its signature is FORGED to be the
    // arriving doc's (bodyA) while its corpus text is unrelated
    // (bodyC) — the deterministic stand-in for the natural est-0.53 /
    // true-J-0.07 collision the 4M probe run measured.
    def setup(): (ParquetWarehouse, String, TableRef, TableRef, TableRef) = {
      val root = Files.createTempDirectory("graft_curation_vx").toString
      val src = s"$root/src"; Files.createDirectories(Paths.get(src))
      val wh = new ParquetWarehouse(spark, s"$root/wh")
      val (tbl, keys, sigs) =
        (TableRef("", "curated"), TableRef("", "page_keys"),
          TableRef("", "curated_sigs"))
      wh.load(LoadMode.Insert, tbl,
        Seq((998L, "https://s.com/998", "https://s.com/998", bodyB),
          (999L, "https://s.com/999", "https://s.com/999", bodyC))
          .toDF("doc_id", "url", "canonical_url", "clean_text"), "doc_id")
      wh.load(LoadMode.Insert, keys,
        Seq(("https://s.com/998", 998L), ("https://s.com/999", 999L))
          .toDF("canonical_url", "doc_id"), "doc_id")
      wh.load(LoadMode.Insert, sigs, DedupOps.minhashSignatureArr(
        Seq((998L, bodyB), (999L, bodyA)).toDF("doc_id", "clean_text"),
        "doc_id", "clean_text"), "doc_id")
      writeFile(src, "a.json", Seq(
        s"""{"doc_id":1,"url":"https://s.com/fp","text":"$bodyA $footer"}""",
        s"""{"doc_id":2,"url":"https://s.com/dup","text":"$bodyB $footer"}""")
        .mkString("\n"))
      (wh, root, tbl, keys, sigs)
    }
    def corpus(wh: ParquetWarehouse, t: TableRef) =
      wh.table(t).select("doc_id").collect().map(_.getLong(0)).toSet

    // Without verification the forged match rejects the honest arrival.
    val (wh0, root0, t0, k0, s0) = setup()
    StreamingLoad.curationIngestStream(spark, s"$root0/src", docSchema,
      wh0, t0, k0, s0, dict, "doc_id", "url", "text", qualityMin = 0.25,
      minEst = 0.5, s"$root0/ckpt", tileWidth = 4, minDf = 2)
      .awaitTermination()
    assert(corpus(wh0, t0) == Set(998L, 999L))

    // With verifyExact the est-1.0 pair (1, 999) fails its TRUE-Jaccard
    // check (bodyA vs bodyC ~ 0) and doc 1 survives; the genuine copy
    // (2, 998) verifies at J = 1 and stays rejected.
    val (wh1, root1, t1, k1, s1) = setup()
    StreamingLoad.curationIngestStream(spark, s"$root1/src", docSchema,
      wh1, t1, k1, s1, dict, "doc_id", "url", "text", qualityMin = 0.25,
      minEst = 0.5, s"$root1/ckpt", tileWidth = 4, minDf = 2,
      verifyExact = true)
      .awaitTermination()
    assert(corpus(wh1, t1) == Set(998L, 999L, 1L))
    assert(wh1.table(s1).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(998L, 999L, 1L))
  }

  test("curationIngestStream: commit order heals every crash-reachable " +
      "partial state (corpus -> sigs -> keys)") {
    import graft.operators.TextOps
    val root = Files.createTempDirectory("graft_curation_crash").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys, sigs) =
      (TableRef("", "curated"), TableRef("", "page_keys"),
        TableRef("", "curated_sigs"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))
    val footer = "rights reserved contact example"
    val bodyA = "the quick brown fox jumps over a lazy dog while the " +
      "calm river flows north slowly"
    val bodyB = "a small green bird sings near the old stone bridge " +
      "under bright morning light each day"
    val bodyC = "fresh snow covers the tall pine trees along this " +
      "quiet mountain trail today here right now"
    val spam = "buy buy buy buy buy buy buy buy"
    import spark.implicits._
    // Three distinct bodies so only the footer tile reaches minDf=2
    // (see the decontamination test's fixture note).
    val dict = TextOps.boilerplateDict(
      Seq((100L, s"$bodyA $footer"), (101L, s"$bodyB $footer"),
        (102L, s"$bodyC $footer")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).localCheckpoint(true)
    assert(dict.count() == 1, "dict must hold exactly the footer tile")
    var ckpt = 0
    def replay(): Unit = {
      ckpt += 1
      StreamingLoad.curationIngestStream(spark, src, docSchema, wh, tbl,
        keys, sigs, dict, "doc_id", "url", "text", qualityMin = 0.25,
        minEst = 0.5, s"$root/ckpt$ckpt", tileWidth = 4, minDf = 2)
        .awaitTermination()
    }
    def state() = (
      wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet,
      wh.table(sigs).select("doc_id").collect().map(_.getLong(0)).toSet,
      wh.table(keys).select("canonical_url").collect()
        .map(_.getString(0)).toSet)
    // 1 survives; 2 dies at quality, 3 is 1's dup — both still claim
    // keys; 4 is keyless and always survives (keeps the corpus
    // non-empty in the final lossy scenario below).
    writeFile(src, "a.json", Seq(
      s"""{"doc_id":1,"url":"https://a.com/x","text":"$bodyA $footer"}""",
      s"""{"doc_id":2,"url":"https://a.com/spam","text":"$spam"}""",
      s"""{"doc_id":3,"url":"https://a.com/copy","text":"$bodyA $footer"}""",
      s"""{"doc_id":4,"url":null,"text":"$bodyB $footer"}""")
      .mkString("\n"))
    replay()
    val full = state()
    assert(full == ((Set(1L, 4L), Set(1L, 4L),
      Set("https://a.com/x", "https://a.com/spam", "https://a.com/copy"))))

    // Crash state A — after corpus+sigs, before the key insert: the
    // replayed survivor is vs-store-rejected by its OWN committed
    // signature, and the guarded key insert restores the claims.
    wh.drop(keys)
    replay()
    assert(state() == full, "keys-missing state did not heal")

    // Crash state B — after the corpus insert only: the replayed
    // survivor re-passes stages 1-4 (no key claim, no stored sig) and
    // the corpus append is the guarded no-op.
    wh.drop(sigs); wh.drop(keys)
    replay()
    assert(state() == full, "sigs+keys-missing state did not heal")

    // WHY the order is load-bearing: the inverse partial state — keys
    // claimed, corpus/sigs missing — does NOT heal (the replay
    // URL-rejects the survivor via its own claim and its rows are gone
    // for good). The commit order exists precisely so no crash can
    // reach this state; this assert is the measured justification, not
    // a behavior any run can hit.
    wh.drop(tbl); wh.drop(sigs)
    replay()
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
        == Set(4L), // the keyless doc heals; the keyed survivor is LOST
      "keys-first partial state unexpectedly healed — if stage 1 " +
        "learned pair-exclusion, this doc comment and the commit-order " +
        "rationale need updating")
  }

  test("urlKeyRejectStream: canonical-key dedup within batch and vs store") {
    val root = Files.createTempDirectory("graft_urlkey").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys) = (TableRef("", "pages"), TableRef("", "page_keys"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))

    // Run 1: ids 1/2 are surface variants of the SAME canonical URL
    // (keep-lowest within batch); id 3 is distinct.
    writeFile(src, "a.json",
      """{"doc_id":1,"url":"https://www.a.com/x?utm_source=f"}
        |{"doc_id":2,"url":"HTTPS://A.COM:443/x/"}
        |{"doc_id":3,"url":"https://a.com/y?q=1"}""".stripMargin)
    StreamingLoad.urlKeyRejectStream(spark, src, docSchema, wh, tbl, keys,
      "doc_id", "url", s"$root/ckpt").awaitTermination()
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L))

    // Run 2: id 10 re-claims the stored /x key (rejected via the
    // persisted store), id 11 is genuinely new, and ids 12-15 have no
    // URL (null, empty, and whitespace-only forms) — keyless docs are NOT
    // URL-deduped (all survive, no key stored, no shared "" key).
    writeFile(src, "b.json",
      """{"doc_id":10,"url":"https://a.com/x#frag"}
        |{"doc_id":11,"url":"https://b.org/z"}
        |{"doc_id":12,"url":null}
        |{"doc_id":13,"url":null}
        |{"doc_id":14,"url":""}
        |{"doc_id":15,"url":"\t"}""".stripMargin)
    StreamingLoad.urlKeyRejectStream(spark, src, docSchema, wh, tbl, keys,
      "doc_id", "url", s"$root/ckpt").awaitTermination()
    assert(wh.table(tbl).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 11L, 12L, 13L, 14L, 15L))
    // The key store tracks exactly the survivors' canonical keys.
    assert(wh.table(keys).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("https://a.com/x", 1L), ("https://a.com/y?q=1", 3L),
        ("https://b.org/z", 11L)))
  }

  test("ingest streams keep one row per id when a batch spans duplicate files") {
    // Producer retry: the same doc lands in two files drained by ONE
    // AvailableNow trigger. Same-id rows form no id_a < id_b candidate
    // pair and the stores don't contain the id yet, so without the
    // deterministic per-id pick both rows would insert. Every
    // content-keyed ingest sink drains the same two files into its own
    // warehouse. Doc 44 has no URL: the URL stage's keep-lowest window
    // never sees it, so only the per-id pick keeps its retry out.
    import spark.implicits._
    val root = Files.createTempDirectory("graft_dupid").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val (tbl, sig, keys, lbl) = (TableRef("", "corpus"), TableRef("", "sigs"),
      TableRef("", "keys"), TableRef("", "labels"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))
    writeFile(src, "a.json",
      """{"doc_id":42,"url":"https://a.com/42","text":"alpha beta gamma delta words here"}
        |{"doc_id":44,"url":null,"text":"zeta eta theta iota kappa lambda"}""".stripMargin)
    writeFile(src, "a_retry.json",
      """{"doc_id":42,"url":"https://a.com/42","text":"alpha beta gamma delta words here"}
        |{"doc_id":44,"url":null,"text":"zeta eta theta iota kappa lambda"}
        |{"doc_id":43,"url":"https://a.com/43","text":"совершенно другой текст без общих слов"}""".stripMargin)
    def drain(name: String)(
        start: (ParquetWarehouse, String) => StreamingQuery): ParquetWarehouse = {
      val wh = new ParquetWarehouse(spark, s"$root/wh_$name")
      start(wh, s"$root/ckpt_$name").awaitTermination()
      wh
    }
    def ids(wh: ParquetWarehouse, t: TableRef) =
      wh.table(t).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    def assertOnePerId(name: String, wh: ParquetWarehouse, ts: TableRef*) =
      ts.foreach { t =>
        // The key stores hold keyed docs only.
        val want = if (t == keys) Seq(42L, 43L) else Seq(42L, 43L, 44L)
        assert(ids(wh, t) == want, s"$name: ${t.qualified} got ${ids(wh, t)}")
      }

    val nd = drain("neardup")((wh, ck) => StreamingLoad.nearDupRejectStream(
      spark, src, docSchema, wh, tbl, sig, "doc_id", "text", minEst = 0.5, ck))
    assertOnePerId("nearDupRejectStream", nd, tbl, sig)
    val uk = drain("urlkey")((wh, ck) => StreamingLoad.urlKeyRejectStream(
      spark, src, docSchema, wh, tbl, keys, "doc_id", "url", ck))
    assertOnePerId("urlKeyRejectStream", uk, tbl, keys)
    val cc = drain("cclabel")((wh, ck) => StreamingLoad.ccLabelStream(
      spark, src, docSchema, wh, tbl, sig, lbl, "doc_id", "text",
      minEst = 0.5, ck))
    assertOnePerId("ccLabelStream", cc, tbl, sig, lbl)
    // An empty frozen dict (minDf 2 over one doc) and a zero quality bar:
    // both docs reach every store, so each store shows the per-id pick.
    val dict = graft.operators.TextOps.boilerplateDict(
      Seq((0L, "unrelated text")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).localCheckpoint(true)
    val cur = drain("curation")((wh, ck) => StreamingLoad.curationIngestStream(
      spark, src, docSchema, wh, tbl, keys, sig, dict, "doc_id", "url", "text",
      qualityMin = 0.0, minEst = 0.5, ck, tileWidth = 4, minDf = 2))
    assertOnePerId("curationIngestStream", cur, tbl, sig, keys)
  }

  test("nearDupRejectStream heals a partial commit: corpus row without stored signature") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ndheal").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, sig) = (TableRef("", "corpus"), TableRef("", "sigs"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = "spark filter merge join window batch stream hash sort " +
      "group order value column row table part key data line agg"
    def run(): Unit = StreamingLoad.nearDupRejectStream(spark, src, docSchema,
      wh, tbl, sig, "doc_id", "text", minEst = 0.5, s"$root/ckpt")
      .awaitTermination()
    def ids(t: TableRef) =
      wh.table(t).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // Crash simulation: doc 1 made it into the corpus (committed first)
    // but its signature row was never stored.
    wh.create(tbl, Seq((1L, s"$base one")).toDF("doc_id", "text"))
    writeFile(src, "a.json", s"""{"doc_id":1,"text":"$base one"}""")
    run()
    assert(ids(tbl) == Seq(1L), "corpus must not duplicate")
    assert(ids(sig) == Seq(1L), "signature must be healed on replay")
    // With the signature healed, a later near-copy is rejected via the
    // store, and a full replay of doc 1 appends nothing.
    writeFile(src, "b.json",
      s"""{"doc_id":7,"text":"$base two"}
         |{"doc_id":1,"text":"$base one"}""".stripMargin)
    run()
    assert(ids(tbl) == Seq(1L), s"near-copy must be rejected: ${ids(tbl)}")
    assert(ids(sig) == Seq(1L))
  }

  test("urlKeyRejectStream heals a partial commit: corpus row without stored key") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_urlheal").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, keys) = (TableRef("", "pages"), TableRef("", "page_keys"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))
    // Simulate a crash BETWEEN the two inserts of a previous run: doc 1
    // made it into the corpus, but its canonical key was never stored.
    wh.create(tbl, Seq((1L, "https://a.com/x")).toDF("doc_id", "url"))
    // The replayed batch redelivers doc 1.
    writeFile(src, "a.json", """{"doc_id":1,"url":"https://a.com/x"}""")
    StreamingLoad.urlKeyRejectStream(spark, src, docSchema, wh, tbl, keys,
      "doc_id", "url", s"$root/ckpt").awaitTermination()
    // Healed: no duplicate corpus row, and the key is now stored.
    assert(wh.table(tbl).count() == 1)
    assert(wh.table(keys).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("https://a.com/x", 1L)))
    // A later arrival of the same URL is now rejected via the store.
    writeFile(src, "b.json", """{"doc_id":9,"url":"https://a.com/x/"}""")
    StreamingLoad.urlKeyRejectStream(spark, src, docSchema, wh, tbl, keys,
      "doc_id", "url", s"$root/ckpt").awaitTermination()
    assert(wh.table(tbl).count() == 1)
  }

  test("ccLabelStream heals a partial commit: corpus row without stored signature") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ccheal").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, sig, lbl) = (TableRef("", "corpus"), TableRef("", "sigs"),
      TableRef("", "labels"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = "spark filter merge join window batch stream hash sort " +
      "group order value column row table part key data line agg"
    // Crash simulation: doc 1 is in the corpus but has NO signature row
    // (the pre-fix shared guard would leave it blind forever).
    wh.create(tbl, Seq((1L, s"$base one")).toDF("doc_id", "text"))
    writeFile(src, "a.json", s"""{"doc_id":1,"text":"$base one"}""")
    StreamingLoad.ccLabelStream(spark, src, docSchema, wh, tbl, sig, lbl,
      "doc_id", "text", minEst = 0.5, s"$root/ckpt").awaitTermination()
    assert(wh.table(tbl).count() == 1, "corpus must not duplicate")
    assert(wh.table(sig).select("doc_id").collect().map(_.getLong(0)).toSeq
      == Seq(1L), "signature must be healed on replay")
    // With the signature healed, a later near-copy is detected: it joins
    // doc 1's component.
    writeFile(src, "b.json", s"""{"doc_id":7,"text":"$base two"}""")
    StreamingLoad.ccLabelStream(spark, src, docSchema, wh, tbl, sig, lbl,
      "doc_id", "text", minEst = 0.5, s"$root/ckpt").awaitTermination()
    val labels = wh.table(lbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(7L) == labels(1L),
      s"healed signature must let the near-copy cluster: $labels")
  }

  test("boilerDictStream: incremental df == batch dict, threshold crossing, replay-safe") {
    import graft.operators.TextOps
    val root = Files.createTempDirectory("graft_boilerdict").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val st = TableRef("", "boiler_state")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // width=2 tiles; "footer alpha" is tile-aligned in every doc.
    writeFile(src, "a.json",
      """{"doc_id":1,"text":"unique one footer alpha"}
        |{"doc_id":2,"text":"other words footer alpha"}""".stripMargin)
    StreamingLoad.boilerDictStream(spark, src, docSchema, wh, st,
      "doc_id", "text", width = 2, s"$root/ckpt").awaitTermination()
    def dfMap() = wh.table(st).filter(col("kind") === "tile").collect()
      .map(r => r.getString(1).toLong -> r.getLong(2)).toMap
    val after1 = dfMap()
    // Footer tile df=2, each doc's one unique tile df=1; nothing >= 3 yet.
    assert(after1.values.toSeq.sorted == Seq(1L, 1L, 2L), s"$after1")

    // Run 2: doc 3 pushes the footer over minDf=3; doc 1 is a REPLAY
    // and must not double-count its tiles.
    writeFile(src, "b.json",
      """{"doc_id":3,"text":"third thing footer alpha"}
        |{"doc_id":1,"text":"unique one footer alpha"}""".stripMargin)
    StreamingLoad.boilerDictStream(spark, src, docSchema, wh, st,
      "doc_id", "text", width = 2, s"$root/ckpt").awaitTermination()

    // Incremental counts == one-shot batch counts over the unique docs…
    import spark.implicits._
    val allDocs = Seq((1L, "unique one footer alpha"),
      (2L, "other words footer alpha"),
      (3L, "third thing footer alpha")).toDF("doc_id", "text")
    val batchCounts = TextOps.boilerplateDict(allDocs, "doc_id", "text", 2, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dfMap() == batchCounts)
    // …and the >= minDf view is exactly the batch dictionary.
    val streamedDict = wh.table(st)
      .filter(col("kind") === "tile" && col("df") >= 3)
      .collect().map(_.getString(1).toLong).toSet
    val batchDict = TextOps.boilerplateDict(allDocs, "doc_id", "text", 2, 3)
      .collect().map(_.getLong(0)).toSet
    assert(streamedDict == batchDict && streamedDict.size == 1)
  }

  test("boilerDictStream: string id column keeps tile hashes long-valued") {
    import graft.operators.TextOps
    val root = Files.createTempDirectory("graft_boilerdict_sid").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val st = TableRef("", "boiler_state_sid")
    val docSchema = StructType(Seq(
      StructField("url", StringType), StructField("text", StringType)))

    writeFile(src, "a.json",
      """{"url":"u1","text":"unique one footer alpha"}
        |{"url":"u2","text":"other words footer alpha"}""".stripMargin)
    StreamingLoad.boilerDictStream(spark, src, docSchema, wh, st,
      "url", "text", width = 2, s"$root/ckpt").awaitTermination()
    writeFile(src, "b.json",
      """{"url":"u3","text":"third thing footer alpha"}
        |{"url":"u1","text":"unique one footer alpha"}""".stripMargin)
    StreamingLoad.boilerDictStream(spark, src, docSchema, wh, st,
      "url", "text", width = 2, s"$root/ckpt").awaitTermination()

    // Tile keys must round-trip to the SAME long hashes boilerplateDict
    // computes — a union-coerced k column breaks exactly this.
    import spark.implicits._
    val allDocs = Seq(("u1", "unique one footer alpha"),
      ("u2", "other words footer alpha"),
      ("u3", "third thing footer alpha")).toDF("url", "text")
    val streamed = wh.table(st).filter(col("kind") === "tile").collect()
      .map(r => r.getString(1).toLong -> r.getLong(2)).toMap
    val batchCounts = TextOps.boilerplateDict(allDocs, "url", "text", 2, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batchCounts)
    // The >= minDf view feeds boilerplateScrubText's dict path typed.
    val dict = wh.table(st).filter(col("kind") === "tile" && col("df") >= 3)
      .select(col("k").cast("long").as("tile_hash"))
    val scrubbed = TextOps.boilerplateScrubText(
        allDocs, "url", "text", 2, 3, Some(dict))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(scrubbed("u1") == "unique one" && scrubbed("u3") == "third thing")
  }

  test("pqIndexStreamDrifted: serve-stale inside a size decade, retrain across it; recall >= frozen twin") {
    import graft.operators.{ClusterOps, SimilarityOps}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pqdrift").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val ms = graft.io.ModelStore(spark, s"$root/models")
    val (corpusT, idx) = (TableRef("", "vec_corpus"), TableRef("", "pq_index"))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("vec", ArrayType(FloatType))))
    val dim = 8; val subDim = 4; val m = 2
    // Region A (the 1x training corpus): dyadic rationals in [-1, 1).
    def vecA(id: Long): Seq[Float] =
      (0 until dim).map(d => (((id * 7 + d * 3) % 33) - 16) / 16.0f)
    // Region B (the simulated decade of appends): 8 tight clusters FAR
    // off A's manifold (centers in {-16,-8,0,8,16}, jitter 1/4) — the
    // regime where 1x-trained quantizers collapse (every B component
    // saturates to the same A-trained sub-code, so ADC cannot rank).
    def vecB(id: Long): Seq[Float] = {
      val c = id % 8
      (0 until dim).map { d =>
        val center = (((c * 13 + d * 5) % 5) - 2) * 8.0f
        center + (((id * 11 + d * 7) % 9) - 4) / 16.0f
      }
    }
    def line(id: Long, v: Seq[Float]): String =
      s"""{"vec_id":$id,"vec":[${v.mkString(",")}]}"""
    def run(): Unit = StreamingLoad.pqIndexStreamDrifted(spark, src,
      vecSchema, wh, corpusT, idx, ms, "pqdrift", m, subDim, ks = 4,
      kmeansIters = 2, "vec_id", s"$root/ckpt").awaitTermination()

    // Batch 1: region A only (200 vectors) — first train.
    writeFile(src, "a.json",
      (0L until 200L).map(i => line(i, vecA(i))).mkString("\n"))
    run()
    val fp1 = ms.servedFingerprint("pqdrift_coarse").get
    assert(wh.table(idx).count() == 200)

    // Batch 2: 10 B arrivals — bytes stay inside the drift budget, so
    // the quantizers are SERVED STALE and only the fresh rows are coded
    // (the batch-scale contract; no corpus-scale work).
    writeFile(src, "b.json",
      (1000L until 1010L).map(i => line(i, vecB(i))).mkString("\n"))
    run()
    assert(ms.servedFingerprint("pqdrift_coarse").contains(fp1),
      "a 5% append must not retrain")
    assert(wh.table(idx).count() == 210)
    assert(wh.table(idx).select("qfp").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("res1:" + fp1),
      "no-retrain batch must append under the served generation " +
        "(coder-tagged: the r20 qfp carries the coder identity)")

    // Batch 3: 1,000 more B vectors — the corpus crosses the 2x drift
    // threshold: retrain + one atomic full recode under the new
    // generation (auto-C/auto-R re-derive with it).
    writeFile(src, "c.json",
      (1010L until 2010L).map(i => line(i, vecB(i))).mkString("\n"))
    run()
    val fp2 = ms.servedFingerprint("pqdrift_coarse").get
    assert(fp2 != fp1, "crossing the drift decade must retrain")
    assert(wh.table(idx).count() == 1210)
    assert(wh.table(idx).select("qfp").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("res1:" + fp2),
      "a decade crossing must recode the WHOLE index — mixed-generation " +
        "codes are structurally invalid")

    // Recall re-measured: probes from region B (where staleness hurts)
    // against the brute-force truth, drifted-served artifacts vs the
    // FROZEN twin (the same recipe trained on region A only — what an
    // index coded against 1x artifacts would still serve).
    val corpus = wh.table(corpusT).select(col("vec_id"), col("vec"))
      .localCheckpoint(true)
    val probes = (0 until 16).map { j =>
      val id = 1000L + j * 61L
      (900000L + j, vecB(id))
    }.toDF("probe_id", "probe_vec")
    val truth = SimilarityOps.bruteForceKnn(probes, corpus, 5)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: org.apache.spark.sql.DataFrame,
        books: org.apache.spark.sql.DataFrame,
        coded: org.apache.spark.sql.DataFrame): Double = {
      // r19 default flip: the drifted stream codes RESIDUALS, so both
      // sides of the contrast search through the residual coder.
      val got = SimilarityOps.ivfPqResidualSearch(probes, corpus, coded, 5,
          cents, books, subDim, nprobe = 3)
        .select(col("probe_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    // Served (post-retrain) artifacts: resolving them again must NOT
    // retrain — the train thunk is a tripwire.
    val statNow = graft.io.ModelStore.corpusStat(spark,
      wh.currentDataPath(corpusT).toSeq)
    val servedCents = ms.getOrTrainDrifted("pqdrift_coarse", statNow)(
      sys.error("serve-time resolution must not retrain"))
    val servedBooks = ms.getOrTrainDrifted("pqdrift_books_res", statNow)(
      sys.error("serve-time resolution must not retrain"))
    val rDrifted = recallOf(servedCents, servedBooks,
      wh.table(idx).drop("qfp"))
    val corpusA = (0L until 200L).map(i => (i, vecA(i))).toDF("vec_id", "vec")
    val frozenInit = SimilarityOps.ivfCentroids(corpusA, 0)
      .select(col("cent_id"),
        transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
    val frozenCents = ClusterOps.kmeans(corpusA, frozenInit, 2)
      .localCheckpoint(true)
    val frozenBooks = SimilarityOps.pqResidualCodebooks(corpusA,
        frozenCents, m, subDim, 4, 2)
      .localCheckpoint(true)
    val rFrozen = recallOf(frozenCents, frozenBooks,
      SimilarityOps.ivfPqResidualIndex(corpus, frozenCents, frozenBooks,
        subDim))
    // Margin floor, not just parity (r17 verdict ask #8), regime-aware:
    // at this toy scale the exact-rerank stage covers ~10% of the
    // corpus and can rescue even collapsed frozen quantizers (measured
    // 0.963 here), so an unconditional 1.5x relative floor is
    // unsatisfiable by construction — require the full 1.5x margin
    // whenever the frozen twin actually collapses, and >= 0.95
    // absolute when rerank keeps it healthy. The cadence-curve spec
    // below shrinks the rerank to ~1% of its corpus, where the frozen
    // twin does collapse, and asserts the unconditional 2x margin there.
    assert(rDrifted >= math.min(0.95, 1.5 * rFrozen),
      f"retrained recall $rDrifted%.3f < min(0.95, 1.5x frozen $rFrozen%.3f)")
    assert(rDrifted >= 0.6,
      f"retrained recall $rDrifted%.3f below floor 0.6 (frozen: $rFrozen%.3f)")
  }

  test("drift cadence curve: the committed factor keeps its recall against the " +
      "half-decade cadence, the every-batch ceiling and the frozen twin") {
    import graft.io.ModelStore
    import graft.operators.{ClusterOps, SimilarityOps}
    import spark.implicits._
    // A drifting corpus: each 250-row region's 25 planted clusters sit
    // +2.0·region per component, so later arrivals land progressively
    // off the base-trained manifold. Base 100 rows, then four 150-row
    // batches: the corpus holds `growth` rows after each batch.
    val (dim, subDim, m, ks, k) = (8, 4, 2, 4, 5)
    val growth = Seq(100L, 250L, 400L, 550L, 700L)
    val total = growth.last
    /** Vectors for `ids` in generation `gen`: `clusters` planted
      * clusters per generation, shifted +2.0·gen per component, ±0.1
      * noise. */
    def shifted(ids: org.apache.spark.sql.DataFrame,
        gen: org.apache.spark.sql.Column,
        clusters: Long): org.apache.spark.sql.DataFrame = {
      val c = gen * clusters + pmod(xxhash64(col("id")), lit(clusters))
      ids.select(col("id").as("vec_id"),
        array((0 until dim).map { i =>
          (gen.cast("double") * 2.0 +
            (pmod(xxhash64(c, lit(i)), lit(2001L)) - 1000L).cast("double") / 1000.0 +
            (pmod(xxhash64(col("id"), lit(i + dim)), lit(201L)) - 100L)
              .cast("double") / 1000.0).cast("float")
        }: _*).as("vec"))
    }
    // Growth: generation = the 250-row region an id falls in.
    def vecs(lo: Long, hi: Long) =
      shifted(spark.range(lo, hi).toDF(), expr("id div 250"), 25L)

    // The retrain schedule each drift factor yields, decided by the
    // production policy (getOrTrainDrifted) on the stat the batch body
    // passes it: corpus bytes plus one fresh file per batch, bytes ∝
    // rows. Returns the corpus size at every retrain.
    def retrains(factor: Double, stats: Seq[ModelStore.CorpusStat]): Seq[Int] = {
      val ms = ModelStore(spark,
        Files.createTempDirectory("graft_cadence").toString)
      stats.indices.filter { b =>
        var trained = false
        ms.getOrTrainDrifted("coarse", stats(b), factor) {
          trained = true; Seq((1, b)).toDF("k", "n")
        }
        trained
      }
    }
    val lows = 0L +: growth.init
    val growthStats = growth.indices.map(b => ModelStore.CorpusStat(
      f"$b%016x", growth(b) * 48L, b + 1,
      (0 to b).map(i => (i.toLong, (growth(i) - lows(i)) * 48L))))
    def schedule(factor: Double): Seq[Long] =
      retrains(factor, growthStats).map(growth)
    val committed = schedule(ModelStore.DriftRetrainFactor)
    val mid = schedule(1.5)
    val ceiling = schedule(1.0)
    // log2 cadence: bytes cross 2x the trained point at 250 and 550
    // rows; every other batch is append-coded under the served
    // generation. The half-decade cadence recodes more, the ceiling
    // on every growth batch.
    assert(committed == Seq(100L, 250L, 550L), s"committed schedule $committed")
    assert(mid.size > committed.size, s"mid schedule $mid")
    assert(ceiling == growth, s"ceiling schedule $ceiling")

    // Final state of a cadence: quantizers trained (the batch body's
    // recipe) on the corpus at its LAST retrain, every row coded under
    // them — coding is a per-row projection, so an index grown by
    // appends equals a one-shot coding (the ivfAppend spec pins that).
    val corpus = vecs(0, total).localCheckpoint(true)
    val probes = corpus.filter(col("vec_id") % 20 === 7L)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"))
      .localCheckpoint(true)
    val truth = SimilarityOps.bruteForceKnn(probes, corpus, k)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Rerank 2k covers ~1.4% of the corpus, the regime of a large index
    // (the auto rerank would cover ~17% here and rescue even collapsed
    // quantizers), so recall reads the quantizers' staleness.
    /** (recall@k, coarse cells) of quantizers trained on `train`,
      * serving `served` coded under them, for `probes` against `truth`. */
    def recallOf(train: org.apache.spark.sql.DataFrame,
        served: org.apache.spark.sql.DataFrame,
        probes: org.apache.spark.sql.DataFrame,
        truth: Set[(Long, Long)], rerank: Int = 2 * k): (Double, Long) = {
      val cents = ClusterOps.kmeans(train, SimilarityOps.ivfCentroids(train, 0)
          .select(col("cent_id"),
            transform(col("cent_vec"), x => x.cast("double")).as("cent_vec")), 1)
        .localCheckpoint(true)
      val books = SimilarityOps.pqResidualCodebooks(train, cents, m, subDim, ks, 1)
        .localCheckpoint(true)
      val coded = SimilarityOps.ivfPqResidualIndex(served, cents, books, subDim)
      val got = SimilarityOps.ivfPqResidualSearch(probes, served, coded, k,
          cents, books, subDim, nprobe = 3, rerank = rerank)
        .select(col("probe_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got.intersect(truth).size.toDouble / truth.size, cents.count())
    }
    val recallAt = (Seq(committed, mid, ceiling).map(_.last) :+ growth.head)
      .distinct.map(r => r -> recallOf(vecs(0, r), corpus, probes, truth)).toMap
    val ((r2, c2), (rMid, _), (rCeil, _), (rFrozen, cFrozen)) =
      (recallAt(committed.last), recallAt(mid.last), recallAt(ceiling.last),
        recallAt(growth.head))
    info(f"recall committed $r2%.3f mid $rMid%.3f ceiling $rCeil%.3f " +
      f"frozen $rFrozen%.3f; coarse cells committed $c2 frozen $cFrozen")
    // Search cost: the served coarse quantizer tracks √N, so its cells
    // are thinner than the frozen twin's and nprobe = 3 scans less.
    assert(c2 > cFrozen, s"served C $c2 does not exceed the frozen twin's $cFrozen")
    assert(r2 >= 0.5, f"committed recall $r2%.3f below 0.5")
    assert(r2 >= 2.0 * rFrozen,
      f"committed recall $r2%.3f < 2x frozen $rFrozen%.3f")
    assert(r2 >= 0.7 * rCeil,
      f"committed recall $r2%.3f < 0.7x ceiling $rCeil%.3f")
    assert(r2 >= 0.95 * rMid,
      f"committed recall $r2%.3f < 0.95x mid cadence $rMid%.3f: " +
        "the knee moved, re-decide the committed factor")

    // Churn: a constant-size corpus whose halves are rewritten by
    // Upserts in turn with progressively off-manifold generations. Each
    // Upsert rewrites every file, so bytes never grow and only the churn
    // axis can retrain; the retrained quantizers must recover the recall
    // a generation-0 model loses. The shape is the large-index regime
    // at box size: ~10 members per planted cluster (every true
    // neighbour shares its probe's cluster), a rerank several clusters
    // wide (30) yet only 3% of the corpus.
    val churnN = 1000L
    def churned(b: Int) = shifted(spark.range(0, churnN).toDF(),
      when(col("id") < churnN / 2, lit(if (b >= 1) b - (b + 1) % 2 else 0))
        .otherwise(lit(if (b >= 2) b - b % 2 else 0)), 50L)
    val churnStats = (0 to 3).map(b => ModelStore.CorpusStat(
      f"c$b%015x", churnN * 48L, 1, Seq((b.toLong, churnN * 48L))))
    val churnRetrains = retrains(ModelStore.DriftRetrainFactor, churnStats)
    assert(churnRetrains == Seq(0, 3),
      s"three full rewrites must exceed the 2x churn budget once: $churnRetrains")
    val churnCorpus = churned(3).localCheckpoint(true)
    val churnProbes = churnCorpus.filter(col("vec_id") % 20 === 3L)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"))
      .localCheckpoint(true)
    val churnTruth = SimilarityOps.bruteForceKnn(churnProbes, churnCorpus, k)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rChurn, _) = recallOf(churned(churnRetrains.last), churnCorpus,
      churnProbes, churnTruth, rerank = 30)
    val (rChurnFrozen, _) = recallOf(churned(0), churnCorpus, churnProbes,
      churnTruth, rerank = 30)
    info(f"churn retrains at $churnRetrains; recall $rChurn%.3f vs " +
      f"generation-0 $rChurnFrozen%.3f")
    assert(rChurn >= 10.0 * rChurnFrozen,
      f"churn recall $rChurn%.3f < 10x generation-0 $rChurnFrozen%.3f")
    assert(rChurn >= 0.9, f"churn recall $rChurn%.3f below 0.9")
  }

  test("pqIndexBatchDrifted replay self-heals a corpus-committed/index-missed crash") {
    import graft.operators.SimilarityOps
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pqheal").toString
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val ms = graft.io.ModelStore(spark, s"$root/models")
    val (corpusT, idx) = (TableRef("", "vec_corpus"), TableRef("", "pq_index"))
    val dim = 8; val subDim = 4; val m = 2
    def vec(id: Long): Seq[Float] =
      (0 until dim).map(d => (((id * 7 + d * 3) % 33) - 16) / 16.0f)
    def batchDf(ids: Range) =
      ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "vec")
    def runBatch(b: org.apache.spark.sql.DataFrame): Boolean =
      StreamingLoad.pqIndexBatchDrifted(spark, wh, corpusT, idx, ms,
        "pqheal", m, subDim, ks = 4, kmeansIters = 2, "vec_id",
        driftFactor = 1000.0 /* growth never retrains in this spec */)(b)

    assert(runBatch(batchDf(0 until 100)), "first batch builds the index")
    // CRASH WINDOW: batch 2's corpus Insert committed, the process died
    // before the index Insert — replayed, the batch anti-joined against
    // the corpus finds nothing fresh, so a corpus-table replay guard
    // would code NOTHING and the rows would stay index-absent until the
    // next decade recode (the r17 ADVICE-high hole). Rebuild exactly
    // that state by hand, then replay the batch through the committed
    // body.
    val b2 = batchDf(100 until 140)
    wh.load(graft.core.LoadMode.Insert, corpusT,
      b2.select(col("vec_id"), col("vec")), "vec_id")
    assert(wh.table(corpusT).count() == 140 && wh.table(idx).count() == 100,
      "crash state: corpus has the rows, index does not")
    assert(!runBatch(b2), "replay must append-code, not retrain")
    assert(wh.table(idx).count() == 140,
      "replay must code the corpus-committed/index-missed rows (self-heal)")
    assert(wh.table(idx).select("qfp").distinct().count() == 1)
    // Idempotence: a THIRD delivery of the same batch codes nothing new.
    assert(!runBatch(b2))
    assert(wh.table(idx).count() == 140, "re-replay must be a no-op")
    // The healed index ranks like a cleanly-built one: every id
    // resolves through the search path.
    val probes = Seq((999L, vec(117L))).toDF("probe_id", "probe_vec")
    val statNow = graft.io.ModelStore.corpusStat(spark,
      wh.currentDataPath(corpusT).toSeq)
    val cents = ms.getOrTrainDrifted("pqheal_coarse", statNow,
      driftFactor = 1000.0)(sys.error("must not retrain"))
    val books = ms.getOrTrainDrifted("pqheal_books_res", statNow,
      driftFactor = 1000.0)(sys.error("must not retrain"))
    val got = SimilarityOps.ivfPqResidualSearch(probes,
        wh.table(corpusT).select(col("vec_id"), col("vec")),
        wh.table(idx).drop("qfp"), 5, cents, books, subDim, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(117L), s"healed row must be searchable, got $got")
  }

  test("pqIndexBatchDrifted recodes a pre-flip raw-coder index (coder-generation migration)") {
    // ADVICE r19 (medium): a warehouse persisted BEFORE the r19
    // raw→residual flip holds index rows stamped with the BARE coarse
    // fingerprint (the pre-flip qfp convention) and codes produced by
    // the raw coder. The coder identity is now part of the generation
    // (`res1:` qfp tag + `_books_res` artifact key), so the first
    // post-flip batch must MISMATCH the stored qfp and take the
    // full-recode branch — never append residual codes into a
    // raw-coded index (same schema, silently broken ADC).
    import graft.operators.SimilarityOps
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pqmigr").toString
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val ms = graft.io.ModelStore(spark, s"$root/models")
    val (corpusT, idx) = (TableRef("", "vec_corpus"), TableRef("", "pq_index"))
    val dim = 8; val subDim = 4; val m = 2
    def vec(id: Long): Seq[Float] =
      (0 until dim).map(d => (((id * 7 + d * 3) % 33) - 16) / 16.0f)
    def batchDf(ids: Range) =
      ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "vec")
    def runBatch(b: org.apache.spark.sql.DataFrame): Boolean =
      StreamingLoad.pqIndexBatchDrifted(spark, wh, corpusT, idx, ms,
        "pqmigr", m, subDim, ks = 4, kmeansIters = 2, "vec_id",
        driftFactor = 1000.0 /* growth never retrains in this spec */)(b)

    assert(runBatch(batchDf(0 until 100)), "first batch builds the index")
    val coarseFp = ms.servedFingerprint("pqmigr_coarse").get
    assert(wh.table(idx).select("qfp").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("res1:" + coarseFp))
    // Rebuild the PRE-FLIP state by hand: the same 100 rows coded by
    // the RAW coder and stamped with the bare coarse fingerprint —
    // exactly what a pre-r19 warehouse serves to a post-flip process
    // (the served coarse artifact itself is coder-agnostic and
    // unchanged; only the books/codes/qfp carry the coder).
    val statNow = graft.io.ModelStore.corpusStat(spark,
      wh.currentDataPath(corpusT).toSeq)
    val cents = ms.getOrTrainDrifted("pqmigr_coarse", statNow,
      driftFactor = 1000.0)(sys.error("must not retrain"))
    val corpus = wh.table(corpusT).select(col("vec_id"), col("vec"))
    val rawBooks = SimilarityOps.pqCodebooks(corpus, m, subDim, 4, 2,
      "vec_id")
    val rawCoded = graft.operators.ClusterOps.kmeansAssign(corpus, cents)
      .select(col("vec_id"), col("cent_id"))
      .join(SimilarityOps.pqCodes(corpus, rawBooks, subDim, "vec_id"),
        "vec_id")
      .withColumn("qfp", lit(coarseFp)).localCheckpoint(true)
    wh.load(graft.core.LoadMode.TruncateInsert, idx, rawCoded, "vec_id")
    assert(wh.table(idx).select("qfp").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(coarseFp),
      "pre-flip state: bare (untagged) quantizer fingerprint")
    // First post-flip batch: 10 new rows, growth far inside the drift
    // budget — ONLY the coder-identity mismatch can force the recode.
    assert(runBatch(batchDf(100 until 110)),
      "a bare-qfp (raw-coder) index must take the full-recode branch")
    assert(wh.table(idx).count() == 110,
      "migration recode must cover the whole corpus, not just the batch")
    assert(wh.table(idx).select("qfp").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("res1:" + coarseFp),
      "post-migration index is single-generation under the tagged qfp")
    // And the recoded index ranks through the residual search path.
    val probes = Seq((999L, vec(57L))).toDF("probe_id", "probe_vec")
    val books = ms.getOrTrainDrifted("pqmigr_books_res", statNow,
      driftFactor = 1000.0)(sys.error("must not retrain"))
    val got = SimilarityOps.ivfPqResidualSearch(probes,
        wh.table(corpusT).select(col("vec_id"), col("vec")),
        wh.table(idx).drop("qfp"), 5, cents, books, subDim, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(57L), s"migrated row must be searchable, got $got")
  }

  test("qualityGateStream: frozen trained gate == batch filter; spam rejected") {
    import graft.operators.QualityModelOps
    import spark.implicits._
    val root = Files.createTempDirectory("graft_qgate").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val tbl = TableRef("", "gated_corpus")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // Train once on a spam-planted split of the real corpus; freeze.
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.select(
      (col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" " + CurationGate.SpamTokens)).as("text")))
    val labels = planted.select(col("doc_id"),
      when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y"))
    val w = QualityModelOps.train(spark,
      QualityModelOps.hashedFeatures(planted, "doc_id", "text"),
      labels, "doc_id", CurationGate.QmSteps).localCheckpoint(true)
    // Stream 2 batches: clean docs + spam-suffixed arrivals.
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val rows = docs.limit(6).collect().map(r => r.getLong(0) -> r.getString(1))
    def line(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"${esc(text)}"}"""
    writeFile(src, "a.json",
      rows.take(3).map { case (i, t) => line(i, t) }.mkString("\n"))
    writeFile(src, "b.json",
      rows.drop(3).map { case (i, t) =>
        line(i + 500, t + " " + CurationGate.SpamTokens) }.mkString("\n"))
    StreamingLoad.qualityGateStream(spark, src, docSchema, wh, tbl, w,
      "doc_id", "text", s"$root/ckpt").awaitTermination()
    val landed = wh.table(tbl).collect().map(_.getLong(0)).toSet
    // Batch ground truth over the same 6 arrivals.
    val arrivals = rows.take(3).map { case (i, t) => (i, t) } ++
      rows.drop(3).map { case (i, t) => (i + 500, t + " " + CurationGate.SpamTokens) }
    val batchKept = QualityModelOps.scores(
        QualityModelOps.hashedFeatures(
          arrivals.toSeq.toDF("doc_id", "text"), "doc_id", "text"),
        w, "doc_id")
      .filter(col("score") >= 0).collect().map(_.getLong(0)).toSet
    assert(landed == batchKept, s"streamed $landed vs batch $batchKept")
    // The gate actually discriminates: no spam arrival landed, and at
    // least one clean doc did.
    assert(landed.forall(_ < 500000L))
    assert(landed.nonEmpty)
  }

  test("ccLabelStream: incremental labels == batch connectedComponents after N batches") {
    import graft.operators.DedupOps
    val root = Files.createTempDirectory("graft_inccc").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val (tbl, sig, lab) = (TableRef("", "cc_corpus"),
      TableRef("", "cc_sigs"), TableRef("", "cc_labels"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = "spark filter merge join window batch stream hash sort " +
      "group order value column row table part key data line agg"
    def run(): Unit =
      StreamingLoad.ccLabelStream(spark, src, docSchema, wh, tbl, sig, lab,
        "doc_id", "text", minEst = 0.5, s"$root/ckpt").awaitTermination()

    // Batch 1: 1~3 near-dups (within batch), 2 unrelated.
    writeFile(src, "a.json",
      s"""{"doc_id":1,"text":"$base one"}
         |{"doc_id":2,"text":"totally different tiny document about nothing else at all"}
         |{"doc_id":3,"text":"$base two"}""".stripMargin)
    run()
    // Batch 2: 10~stored-1 (cross-batch edge -> joins component 1),
    // 11 fresh singleton.
    writeFile(src, "b.json",
      s"""{"doc_id":10,"text":"$base three"}
         |{"doc_id":11,"text":"fresh unrelated content words appear nowhere in the corpus yet"}""".stripMargin)
    run()
    // Batch 3: 12~stored-10 — a CHAINED merge (12 never saw doc 1's
    // text directly... it does share the base; the component min must
    // still resolve to 1 through the label-space merge). Doc 2 is a
    // RE-ARRIVAL (replay): it must keep its existing label, not mint a
    // duplicate self-labeled row.
    writeFile(src, "c.json",
      s"""{"doc_id":12,"text":"$base four"}
         |{"doc_id":2,"text":"totally different tiny document about nothing else at all"}""".stripMargin)
    run()

    val labelRows = wh.table(lab).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labelRows.map(_._1).distinct.length == labelRows.length,
      s"duplicate label rows after replay: ${labelRows.toSeq.sorted}")
    // Replay guard: the re-delivered doc 2 must not accumulate duplicate
    // corpus rows or signatures (6 distinct docs across the 3 batches).
    assert(wh.table(tbl).count() == 6,
      s"corpus grew on replay: ${wh.table(tbl).count()} rows")
    assert(wh.table(sig).count() == 6,
      s"signature store grew on replay: ${wh.table(sig).count()} rows")
    val inc = labelRows.toMap
    // Ground truth: full-corpus candidate edges + batch CC.
    val corpus = wh.table(tbl)
    val edges = DedupOps.minhashCandidates(corpus, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
    val batchCc = DedupOps.connectedComponents(
        corpus.select(col("doc_id")), edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == batchCc, s"incremental $inc vs batch $batchCc")
    // The near-dup family actually clustered: 1, 3, 10, 12 share a
    // component labeled by the min id.
    assert(inc(1L) == 1L && inc(3L) == 1L && inc(10L) == 1L && inc(12L) == 1L)
    assert(inc(2L) == 2L && inc(11L) == 11L)
  }

  test("kmvSketchStream: streamed sketch == batch sketch (lossless merge)") {
    import graft.operators.SketchOps
    val root = Files.createTempDirectory("graft_kmv").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val sk = TableRef("", "user_sketch")
    val evSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("user_id", LongType)))
    val k = 8
    def run(): Unit =
      StreamingLoad.kmvSketchStream(spark, src, evSchema, wh, sk,
        "event_type", "user_id", k, s"$root/ckpt").awaitTermination()
    def lines(ids: Range, typ: String): String =
      ids.map(i => s"""{"event_type":"$typ","user_id":$i}""").mkString("\n")

    // 3 batches, > k distinct users per type, overlapping across batches.
    writeFile(src, "a.json", lines(1 to 20, "click") + "\n" + lines(1 to 5, "view"))
    run()
    writeFile(src, "b.json", lines(10 to 40, "click") + "\n" + lines(3 to 30, "view"))
    run()
    writeFile(src, "c.json", lines(35 to 60, "click"))
    run()

    // Sketch table stays bounded at k rows per group.
    val stored = wh.table(sk)
    assert(stored.groupBy("event_type").count().collect()
      .forall(_.getLong(1) <= k))
    // Lossless merge: estimate from the streamed sketch equals the
    // batch KMV over every row ever seen.
    val streamedEst = SketchOps.kmvEstimateSketch(stored,
        Seq(col("event_type")), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val all = ((1 to 20) ++ (10 to 40) ++ (35 to 60)).map(("click", _)) ++
      ((1 to 5) ++ (3 to 30)).map(("view", _))
    val batchEst = SketchOps.kmvDistinct(
        all.toDF("event_type", "user_id"),
        Seq(col("event_type")), col("user_id"), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamedEst == batchEst, s"$streamedEst vs $batchEst")
  }

  test("cdcStream: tombstones delete, upserts apply, across micro-batch runs") {
    val root = Files.createTempDirectory("graft_cdc").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val tbl = TableRef("", "cdc_people")
    val cdcSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("op", StringType)))

    // Batch 1 bootstraps the table from inserts.
    writeFile(src, "a.json",
      "{\"id\":1,\"name\":\"a\",\"op\":\"I\"}\n" +
      "{\"id\":2,\"name\":\"b\",\"op\":\"I\"}\n" +
      "{\"id\":3,\"name\":\"c\",\"op\":\"I\"}")
    StreamingLoad.cdcStream(spark, src, cdcSchema, wh, tbl,
      "id", "op", s"$root/ckpt").awaitTermination()
    assert(wh.table(tbl).count() == 3)

    // Batch 2: delete id=2, restate id=3, insert id=4; and a delete +
    // re-insert of id=1 in the SAME batch resolves to the upsert.
    writeFile(src, "b.json",
      "{\"id\":2,\"name\":\"b\",\"op\":\"D\"}\n" +
      "{\"id\":3,\"name\":\"C2\",\"op\":\"U\"}\n" +
      "{\"id\":4,\"name\":\"d\",\"op\":\"I\"}\n" +
      "{\"id\":1,\"name\":\"a\",\"op\":\"D\"}\n" +
      "{\"id\":1,\"name\":\"A2\",\"op\":\"I\"}")
    StreamingLoad.cdcStream(spark, src, cdcSchema, wh, tbl,
      "id", "op", s"$root/ckpt").awaitTermination()

    val out = wh.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "A2"), (3L, "C2"), (4L, "d")))
  }

  test("continuous file ingest: files arriving across triggers are all upserted") {
    val root = Files.createTempDirectory("graft_stream3").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val wh = new ParquetWarehouse(spark, s"$root/wh")
    val tbl = TableRef("", "cont")

    writeFile(src, "a.json", "{\"id\":1,\"name\":\"a\"}")
    val q = StreamingLoad.fileStreamUpsert(
      spark, src, schema, wh, tbl, "id", s"$root/ckpt", trigger = Trigger.ProcessingTime(200))
    try {
      // Wait for the first batch, then land a second file mid-stream.
      // Budgets are per-phase and generous: under a fully parallel suite
      // run the 200ms trigger can fall far behind wall-clock.
      // A poll can still straddle two commits (reader grace covers one
      // generation), so tolerate transient read failures while polling.
      def countNow(): Long =
        try { if (wh.exists(tbl)) wh.table(tbl).count() else 0L }
        catch { case _: Exception => -1L }
      def waitFor(n: Long): Unit = {
        var waited = 0
        while (countNow() < n && waited < 90000) {
          Thread.sleep(200); waited += 200
        }
      }
      waitFor(1)
      writeFile(src, "b.json", "{\"id\":1,\"name\":\"A2\"}\n{\"id\":2,\"name\":\"b\"}")
      waitFor(2)
    } finally q.stop()
    val out = wh.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "A2"), (2L, "b")))
  }

  test("stateful sessionizeStream matches batch sessionize on closed sessions") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val events = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"))

    // Batch ground truth, keyed by (user, start, end, n). Each user's
    // LAST session stays open in the stream (no timeout fires once the
    // replay drains under AvailableNow), so drop it from the expectation.
    val batch = graft.operators.AnalyticOps.sessionize(
        Tables(spark, sf, "events"), 30)
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime, r.getLong(2)))
    val expected = batch.groupBy(_._1).toSeq.flatMap { case (_, ss) =>
      ss.sortBy(_._2).dropRight(1).toSeq }.toSet

    // Replay in event-time order as 3 chronological files, one per
    // trigger, so cross-batch per-user order holds.
    val root = Files.createTempDirectory("graft_sess_stream").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val rows = events.orderBy("ts", "event_id").collect()
    val cut = rows.length / 3
    Seq(rows.take(cut), rows.slice(cut, 2 * cut), rows.drop(2 * cut))
      .zipWithIndex.foreach { case (chunk, i) =>
        val lines = chunk.map { r =>
          s"""{"user_id":${r.getLong(0)},"ts_ms":${r.getTimestamp(1).getTime},"event_id":${r.getLong(2)}}"""
        }.mkString("\n")
        writeFile(src, f"part-$i%03d.json", lines)
        // File-source ordering is by modification time: space them out.
        Paths.get(src, f"part-$i%03d.json").toFile.setLastModified(1000000000000L + i * 60000L)
      }

    val eschema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts_ms", LongType),
      StructField("event_id", LongType)))
    val stream = spark.readStream.schema(eschema)
      .option("maxFilesPerTrigger", 1).json(src)
      .select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"), col("event_id"))
      .as[graft.streaming.SessEvent]
    val out = StreamingLoad.sessionizeStream(stream, 30, "0 seconds")
    val q = out.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .format("memory").queryName("sessions")
      .start()
    q.awaitTermination()

    val streamed = spark.table("sessions")
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))).toSet
    // Sessions closed by an in-stream gap MUST all be emitted; each
    // user's final session may or may not time out before the replay
    // drains, but anything emitted must match a batch session exactly.
    val batchAll = batch.toSet
    assert(expected.subsetOf(streamed),
      s"missing closed sessions: ${expected -- streamed}")
    assert(streamed.subsetOf(batchAll),
      s"streamed sessions not in batch ground truth: ${streamed -- batchAll}")
  }

  test("asofJoinStream matches the batch as-of join on flushed rows") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ev = Tables(spark, sf, "events")
    val batchOut = graft.operators.AnalyticOps.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet

    // Replay purchases+clicks chronologically in 3 files (one per
    // trigger) so the watermark advances between batches.
    val root = Files.createTempDirectory("graft_asof_stream").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val rows = ev.filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .orderBy("ts", "event_id").collect()
    val cut = rows.length / 3
    var maxTsOfFirstTwo = 0L
    Seq(rows.take(cut), rows.slice(cut, 2 * cut), rows.drop(2 * cut))
      .zipWithIndex.foreach { case (chunk, i) =>
        if (i < 2) maxTsOfFirstTwo =
          math.max(maxTsOfFirstTwo, chunk.map(_.getTimestamp(1).getTime).max)
        val lines = chunk.map { r =>
          s"""{"user_id":${r.getLong(0)},"ts_ms":${r.getTimestamp(1).getTime},"event_type":"${r.getString(2)}","event_id":${r.getLong(3)}}"""
        }.mkString("\n")
        writeFile(src, f"part-$i%03d.json", lines)
        Paths.get(src, f"part-$i%03d.json").toFile
          .setLastModified(1000000000000L + i * 60000L)
      }
    val eschema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_ms", LongType),
      StructField("event_type", StringType), StructField("event_id", LongType)))
    val stream = spark.readStream.schema(eschema)
      .option("maxFilesPerTrigger", 1).json(src)
      .select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"),
        col("event_type"), col("event_id"))
    val out = StreamingLoad.asofJoinStream(
      stream.filter(col("event_type") === "purchase"),
      stream.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", "event_id", "0 seconds")
    out.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .format("memory").queryName("asof_stream")
      .start().awaitTermination()

    val streamed = spark.table("asof_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // Everything emitted must match the batch result exactly …
    assert(streamed.subsetOf(batchOut),
      s"streamed rows disagree with batch: ${streamed -- batchOut}")
    // … and every left event the watermark passed must have been emitted
    // (only the final batch may still sit in state when the replay ends).
    val mustHave = batchOut.filter(_._3 < maxTsOfFirstTwo)
    assert(mustHave.subsetOf(streamed),
      s"flushed rows missing: ${(mustHave -- streamed).take(5)}")
  }

  test("stream-static enrichment joins the dim table per micro-batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_enrich").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    writeFile(src, "p0.json",
      "{\"id\":1,\"uid\":10}\n{\"id\":2,\"uid\":20}\n{\"id\":3,\"uid\":99}")
    val dim = Seq((10L, "alice"), (20L, "bob")).toDF("uid", "name")
    val eschema = StructType(Seq(
      StructField("id", LongType), StructField("uid", LongType)))
    val stream = spark.readStream.schema(eschema).json(src)
    StreamingLoad.enrichStream(stream, dim, "uid").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .format("memory").queryName("enriched")
      .start().awaitTermination()
    // USING-join puts the key first: (uid, id, name).
    val out = spark.table("enriched").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    // Left join: unmatched uid 99 survives with a null name.
    assert(out == Seq((10L, Some("alice")), (20L, Some("bob")),
      (99L, None)))
  }

  test("transformWithState running counts accumulate across micro-batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_tws").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    // Two files -> two triggers: user 1 gets 2 then 1 more event; user 2
    // gets 1 in each.
    writeFile(src, "p0.json",
      "{\"user_id\":1,\"ts_ms\":1000,\"event_id\":1}\n" +
      "{\"user_id\":1,\"ts_ms\":2000,\"event_id\":2}\n" +
      "{\"user_id\":2,\"ts_ms\":3000,\"event_id\":3}")
    writeFile(src, "p1.json",
      "{\"user_id\":1,\"ts_ms\":4000,\"event_id\":4}\n" +
      "{\"user_id\":2,\"ts_ms\":5000,\"event_id\":5}")
    Paths.get(src, "p0.json").toFile.setLastModified(1000000000000L)
    Paths.get(src, "p1.json").toFile.setLastModified(1000000060000L)
    val eschema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_ms", LongType),
      StructField("event_id", LongType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(eschema)
        .option("maxFilesPerTrigger", 1).json(src)
        .select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("event_id"))
        .as[graft.streaming.SessEvent]
      StreamingLoad.runningCountsTws(stream).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .format("memory").queryName("tws_counts")
        .start().awaitTermination()
      val out = spark.table("tws_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // Per-batch emissions: user1 -> 2 then 3; user2 -> 1 then 2.
      assert(out == Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L)), out)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    val root = Files.createTempDirectory("graft_sdedup").toString
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    // Batch 1: keys a,b. Batch 2 (later file): b again (same ts), c.
    writeFile(src, "p0.json",
      """{"k":"a","ts_ms":1000000}
        |{"k":"b","ts_ms":2000000}""".stripMargin)
    writeFile(src, "p1.json",
      """{"k":"b","ts_ms":2000000}
        |{"k":"c","ts_ms":3000000}""".stripMargin)
    Paths.get(src, "p0.json").toFile.setLastModified(1000000000000L)
    Paths.get(src, "p1.json").toFile.setLastModified(1000000060000L)
    val eschema = StructType(Seq(
      StructField("k", StringType), StructField("ts_ms", LongType)))
    val stream = spark.readStream.schema(eschema)
      .option("maxFilesPerTrigger", 1).json(src)
      .select(col("k"), timestamp_millis(col("ts_ms")).as("ts"))
    val out = StreamingLoad.dedupStream(stream, "ts", "1 hour", Seq("k"))
    val q = out.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .format("memory").queryName("sdedup")
      .start()
    q.awaitTermination()
    val keys = spark.table("sdedup").collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("a", "b", "c"), s"got $keys")
  }

  test("stream-stream interval join matches the batch join on replay") {
    val sf = "/root/testdata/sf0.001"
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))

    def sides(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts")),
      df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts")))

    // Batch ground truth with the identical raw-timestamp condition.
    val (bc, bp) = sides(events)
    val batch = bc.join(bp,
        bc("user_id") === bp("user_id") &&
          bp("purchase_ts") >= bc("click_ts") &&
          bp("purchase_ts") <= bc("click_ts") + expr("INTERVAL 600 SECONDS"))
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Streaming replay from one json dump, two filtered stream sides.
    val root = Files.createTempDirectory("graft_ssj").toString
    events.select(col("event_id"), col("ts").cast("long").as("ts_s"),
        col("user_id"), col("event_type"))
      .coalesce(1).write.json(s"$root/src")
    val eschema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_s", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val stream = spark.readStream.schema(eschema).json(s"$root/src")
      .select(col("event_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("user_id"), col("event_type"))
    val (sc, sp) = sides(stream)
    val joined = StreamingLoad.intervalJoinStream(
      sc, sp, "user_id", "click_ts", "purchase_ts", 600L, "1 hour")
    val q = joined.select(col("click_id"), col("purchase_id")).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .format("memory").queryName("ssjoin")
      .start()
    q.awaitTermination()

    // Second-floored replay timestamps: recompute the batch truth on the
    // same floored data for an exact set compare.
    val flooredEvents = events.select(col("event_id"),
      timestamp_seconds(col("ts").cast("long")).as("ts"), col("user_id"), col("event_type"))
    val (fc, fp) = sides(flooredEvents)
    val batchFloored = fc.join(fp,
        fc("user_id") === fp("user_id") &&
          fp("purchase_ts") >= fc("click_ts") &&
          fp("purchase_ts") <= fc("click_ts") + expr("INTERVAL 600 SECONDS"))
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val streamed = spark.table("ssjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchFloored,
      s"only-streamed=${streamed -- batchFloored} only-batch=${batchFloored -- streamed}")
    assert(batch.nonEmpty && streamed.nonEmpty)
  }

  test("rate source ingests with bounded per-second row production (S3 backpressure parity)") {
    // The reference pauses its generator when the downstream buffer is
    // full (utils.ts:53-55); Spark's pull model bounds production at the
    // source — rowsPerSecond here, maxFilesPerTrigger/maxOffsetsPerTrigger
    // for file/offset sources.
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", 50).load()
    val q = stream.writeStream
      .format("memory").queryName("ratesrc")
      .outputMode("append")
      .start()
    try {
      var waited = 0
      while (spark.table("ratesrc").isEmpty && waited < 30000) {
        Thread.sleep(200); waited += 200
      }
    } finally q.stop()
    val rows = spark.table("ratesrc")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // values are the dense sequence 0..n-1 (no loss, no duplication).
    assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq)
  }

  test("windowedCounts matches the batch tumblingAgg on the same data") {
    val sf = "/root/testdata/sf0.001"
    val events = Tables(spark, sf, "events")

    // Batch form.
    val batch = graft.operators.AnalyticOps.tumblingAgg(events, "ts", "1 hour")
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    // Streaming form over the same rows via an in-memory-backed file replay.
    val root = Files.createTempDirectory("graft_stream2").toString
    events.select(col("event_id"), col("ts"), col("event_type"))
      .coalesce(1).write.json(s"$root/src")
    val eschema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val stream = spark.readStream.schema(eschema).json(s"$root/src")
    val agg = StreamingLoad.windowedCounts(stream, "ts", "1 hour", "1 minute")
    val q = agg.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("complete")
      .format("memory").queryName("wincounts")
      .start()
    q.awaitTermination()

    val streamed = spark.table("wincounts")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("batchStorageScope fails loud on cross-thread concurrency, allows same-thread reentry") {
    // Two concurrently-triggered streams sharing one session would
    // snapshot-diff-unpersist each other's mid-batch local checkpoints
    // (unrecomputable) — the scope must refuse the second entrant
    // BEFORE any damage, not corrupt silently.
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      StreamingLoad.batchStorageScope(spark) {
        entered.countDown()
        release.await()
      })
    holder.start()
    entered.await()
    try {
      val e = intercept[IllegalArgumentException] {
        StreamingLoad.batchStorageScope(spark) { fail("must not enter") }
      }
      assert(e.getMessage.contains("concurrent scope"))
    } finally { release.countDown(); holder.join() }

    // Same-thread reentry stays legal (inner releases only its own
    // post-snapshot ids; outer re-visits them as no-ops) — and the
    // owner slot is freed afterwards, so a fresh scope works.
    val v = StreamingLoad.batchStorageScope(spark) {
      StreamingLoad.batchStorageScope(spark) { 42 }
    }
    assert(v == 42)
    assert(StreamingLoad.batchStorageScope(spark) { 7 } == 7)
  }
}
