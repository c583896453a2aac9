package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ModelStore

/** Trained-artifact store: train-once semantics, corpus fingerprinting,
  * versioned retrain. */
class ModelStoreSpec extends AnyFunSuite with SparkSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_models_$tag").toString

  test("getOrTrain trains exactly once per (artifact, corpus fingerprint)") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("once"))
    val trains = new AtomicInteger(0)
    def train = { trains.incrementAndGet(); Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val fp = "fp16aaaaaaaaaaaa"
    val first = store.getOrTrain("toy", fp)(train).collect().toSet
    val second = store.getOrTrain("toy", fp)(train).collect().toSet
    assert(trains.get() == 1, "second call must read the persisted artifact")
    assert(first == second)
    // A different corpus fingerprint is a different artifact: retrains.
    store.getOrTrain("toy", "fp16bbbbbbbbbbbb")(train)
    assert(trains.get() == 2)
    // A fresh store instance over the same root still sees it (the memo
    // is the filesystem, not the JVM).
    val again = ModelStore(spark, store.root)
    assert(again.exists("toy", fp))
    assert(again.getOrTrain("toy", fp)(train).collect().toSet == first)
    assert(trains.get() == 2)
  }

  test("fingerprint: stable on unchanged corpus, moves when a file changes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val p = s"$dir/t.parquet"
    Seq((1, "x"), (2, "y")).toDF("id", "s").write.mode("overwrite").parquet(p)
    val fp1 = ModelStore.fingerprint(spark, Seq(p))
    val fp2 = ModelStore.fingerprint(spark, Seq(p))
    assert(fp1 == fp2)
    assert(fp1.length == 16)
    Thread.sleep(5) // ensure mtime can move
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "s")
      .write.mode("overwrite").parquet(p)
    val fp3 = ModelStore.fingerprint(spark, Seq(p))
    assert(fp3 != fp1, "rewritten corpus must change the fingerprint")
    // Absent path fingerprints deterministically instead of throwing.
    val fpAbsent = ModelStore.fingerprint(spark, Seq(s"$dir/nope.parquet"))
    assert(fpAbsent.length == 16)
  }

  test("corpusStat of a warehouse table counts its live files, not those " +
      "waiting for retention") {
    import spark.implicits._
    import graft.core.{LoadMode, TableRef}
    import graft.io.ParquetWarehouse
    val root = java.nio.file.Files.createTempDirectory("graft_livestat")
    val wh = new ParquetWarehouse(spark, root.toString)
    val t = TableRef("", "corpus")
    def parquet(): Set[String] = {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally st.close()
    }
    wh.create(t, Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2))
    val old = parquet()
    wh.load(LoadMode.TruncateInsert, t, Seq((3L, "c")).toDF("id", "s"), "id")
    val fresh = parquet() -- old
    assert(old.nonEmpty && old.subsetOf(parquet()),
      "the replaced files stay on disk for the reader-grace version")
    val live = ModelStore.corpusStat(wh.liveFiles(t))
    assert(live == ModelStore.corpusStat(spark, fresh.toSeq.map("file:" + _)))
    assert(live.files == 1)
    assert(live.fp != ModelStore.corpusStat(spark, wh.currentDataPath(t).toSeq).fp,
      "a listing of the table directory also counts the replaced files")
  }

  test("gc sweeps artifacts of dead corpus fingerprints, keeps live ones") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("gc"))
    // Real fingerprints are md5Hex.take(16) — 16 lowercase hex chars.
    val (live, stale) = ("00a1b2c3d4e5f601", "ffeeddccbbaa9988")
    def df = Seq((1, "a")).toDF("k", "v")
    store.getOrTrain("dict", live)(df)
    store.getOrTrain("dict", stale)(df)
    store.getOrTrain("index", stale)(df)
    // A table whose "fingerprint" is not 16-hex (e.g. created by foreign
    // tooling under models/) must never be swept, whatever liveFps says.
    store.getOrTrain("legacy", "snapshot")(df)
    val liveRows = store.getOrTrain("dict", live)(sys.error("trained")).collect().toSeq
    // Default-margin pass first: the spec creates and sweeps within one
    // clock tick, so the 60 s skew margin (correctly) treats these
    // just-committed artifacts as concurrent — and the report must SAY
    // so, not present the no-op as nothing-to-collect.
    val deferred = store.gc(Set(live))
    assert(deferred.dropped.isEmpty)
    assert(deferred.skippedConcurrent.toSet ==
      Set(("dict", stale), ("index", stale)),
      s"in-margin stale artifacts must be reported as skipped, got $deferred")
    assert(store.exists("dict", stale), "deferred artifact must survive")
    val dropped = store.gc(Set(live), skewMarginMs = 0L).dropped
    assert(dropped.toSet == Set(("dict", stale), ("index", stale)),
      s"gc must sweep exactly the stale fingerprint's artifacts, got $dropped")
    assert(!store.exists("dict", stale) && !store.exists("index", stale))
    assert(store.exists("legacy", "snapshot"),
      "non-hex-fingerprint table must survive gc")
    // The live artifact is untouched: still present, same bytes, and
    // getOrTrain still reads it instead of retraining.
    assert(store.exists("dict", live))
    assert(store.getOrTrain("dict", live)(sys.error("must not retrain"))
      .collect().toSeq == liveRows)
    // Idempotent: a second sweep with the same live set drops nothing —
    // and reports nothing skipped either (genuinely clean store).
    val again = store.gc(Set(live), skewMarginMs = 0L)
    assert(again.dropped.isEmpty && again.skippedConcurrent.isEmpty)
  }

  test("getOrTrainDrifted: serve-stale inside the drift budget, retrain past it, never on rewrite") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("drift"))
    val trains = new AtomicInteger(0)
    def train(v: Long) = { trains.incrementAndGet(); Seq((1, v)).toDF("k", "n") }
    def servedV(stat: ModelStore.CorpusStat): Long =
      store.getOrTrainDrifted("q", stat)(sys.error("must not retrain"))
        .collect().head.getLong(1)
    val fpA = "a" * 16; val fpB = "b" * 16; val fpC = "c" * 16
    val fpD = "d" * 16; val fpE = "e" * 16; val fpF = "f" * 16

    // First resolution trains at the current fingerprint.
    store.getOrTrainDrifted("q", ModelStore.CorpusStat(fpA, 1000L, 4))(train(1))
    assert(trains.get() == 1)
    assert(store.servedFingerprint("q").contains(fpA))
    // Append growth 1.8x (fingerprint MOVED — getOrTrain would retrain
    // here): inside the 2x budget, the stale generation is served.
    assert(servedV(ModelStore.CorpusStat(fpB, 1800L, 7)) == 1L)
    assert(store.servedFingerprint("q").contains(fpA))
    // Compaction/rewrite: fingerprint moves, bytes do not — no retrain.
    assert(servedV(ModelStore.CorpusStat(fpC, 1000L, 1)) == 1L)
    // Crossing the 2x decade retrains at the CURRENT fingerprint.
    store.getOrTrainDrifted("q", ModelStore.CorpusStat(fpD, 2500L, 9))(train(2))
    assert(trains.get() == 2)
    assert(store.servedFingerprint("q").contains(fpD))
    // The budget resets to the NEW trained point: 2500 -> 4800 < 2x.
    assert(servedV(ModelStore.CorpusStat(fpE, 4800L, 12)) == 2L)
    // A dropped/gc'd served artifact forces a fresh train even in-budget.
    store.drop("q", fpD)
    store.getOrTrainDrifted("q", ModelStore.CorpusStat(fpF, 4900L, 12))(train(3))
    assert(trains.get() == 3)
    assert(store.servedFingerprint("q").contains(fpF))
  }

  test("getOrTrainDrifted: churn trigger retrains a steady-size corpus once fresh bytes exceed the budget") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("churn"))
    val trains = new AtomicInteger(0)
    def train(v: Long) = { trains.incrementAndGet(); Seq((1, v)).toDF("k", "n") }
    def servedV(stat: ModelStore.CorpusStat): Long =
      store.getOrTrainDrifted("q", stat)(sys.error("must not retrain"))
        .collect().head.getLong(1)
    // Four 250-byte files per generation; every rewrite replaces all
    // identities at constant total size — the upsert-heavy steady-state
    // corpus the growth trigger is blind to (bytes never move).
    def gen(idBase: Long) = (0 until 4).map(i => (idBase + i, 250L))
    def fp(c: Char) = c.toString * 16

    // Train at generation 0 (1000 bytes, keys 0-3).
    store.getOrTrainDrifted("q",
      ModelStore.CorpusStat(fp('a'), 1000L, 4, gen(0)))(train(1))
    assert(trains.get() == 1)
    // Rewrite 1 (keys 10-13): churn 1000 <= 2x1000 — serve stale.
    assert(servedV(ModelStore.CorpusStat(fp('b'), 1000L, 4, gen(10))) == 1L)
    // Rewrite 2 (keys 20-23): churn 2000 <= 2000 — still inside (the
    // budget is strict-exceed, same comparison as the growth axis).
    assert(servedV(ModelStore.CorpusStat(fp('c'), 1000L, 4, gen(20))) == 1L)
    // Re-presenting the SAME listing accrues nothing (replay/idle calls).
    assert(servedV(ModelStore.CorpusStat(fp('c'), 1000L, 4, gen(20))) == 1L)
    assert(trains.get() == 1)
    // Rewrite 3 (keys 30-33): churn 3000 > 2000 — retrain at the
    // current fingerprint; accumulator and baseline listing reset.
    store.getOrTrainDrifted("q",
      ModelStore.CorpusStat(fp('d'), 1000L, 4, gen(30)))(train(2))
    assert(trains.get() == 2)
    assert(store.servedFingerprint("q").contains(fp('d')))
    // Partial churn after the reset: 2 of 4 files replaced = 500 fresh
    // bytes — far inside the new budget, serve stale.
    assert(servedV(ModelStore.CorpusStat(fp('e'), 1000L, 4,
      Seq((30L, 250L), (31L, 250L), (40L, 250L), (41L, 250L)))) == 2L)
    assert(trains.get() == 2)
    // The growth axis still fires independently of churn state.
    store.getOrTrainDrifted("q",
      ModelStore.CorpusStat(fp('f'), 2500L, 10, gen(50)))(train(3))
    assert(trains.get() == 3)
    // Legacy stats (no file entries) keep the r17 growth-only behavior:
    // rewrites without identity information never trip the churn axis.
    assert(servedV(ModelStore.CorpusStat(fp('1'), 2500L, 10)) == 3L)
    assert(servedV(ModelStore.CorpusStat(fp('2'), 2500L, 10)) == 3L)
    assert(servedV(ModelStore.CorpusStat(fp('3'), 2500L, 10)) == 3L)
    assert(trains.get() == 3)
  }

  test("gc racing a drift retrain: skew margin defers the fresh generation, served one stays live") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("driftgc"))
    val (fp1, fp2) = ("1" * 16, "2" * 16)
    store.getOrTrainDrifted("q", ModelStore.CorpusStat(fp1, 1000L, 1))(
      Seq((1, 10L)).toDF("k", "n"))
    // Drift-threshold retrain (the round-17 policy path, not a plain
    // fingerprint-move getOrTrain — the skew guard must cover BOTH).
    store.getOrTrainDrifted("q", ModelStore.CorpusStat(fp2, 3000L, 3))(
      Seq((1, 20L), (2, 21L)).toDF("k", "n"))
    assert(store.servedFingerprint("q").contains(fp2))
    // A maintenance gc whose live set was computed BEFORE the retrain
    // (so fp2 is "not live"): the fresh generation committed inside the
    // skew margin must be DEFERRED, not dropped — a reader resolving
    // through the policy right now is being handed fp2's table.
    val rep = store.gc(Set(fp1))
    assert(rep.dropped.isEmpty,
      s"nothing may drop inside the skew margin, got ${rep.dropped}")
    assert(rep.skippedConcurrent.contains(("q", fp2)),
      s"the fresh generation must be reported deferred, got $rep")
    assert(store.exists("q", fp2) && store.exists("q", fp1))
    assert(store.getOrTrainDrifted("q", ModelStore.CorpusStat(fp2, 3000L, 3))(
      sys.error("must not retrain")).count() == 2)
    // Steady state (margin elapsed, live set refreshed from the policy):
    // the superseded generation is reclaimed, the served one survives.
    val rep2 = store.gc(Set(store.servedFingerprint("q").get),
      skewMarginMs = 0L)
    assert(rep2.dropped == Seq(("q", fp1)), s"got ${rep2.dropped}")
    assert(store.exists("q", fp2) && !store.exists("q", fp1))
  }

  test("retrain commits a new version; previous generation time-travels") {
    import spark.implicits._
    val store = ModelStore(spark, freshRoot("ver"))
    val fp = "fp16cccccccccccc"
    store.getOrTrain("m", fp)(Seq((1, 10L)).toDF("k", "n"))
    val v1 = store.versions("m", fp)
    assert(v1.size == 1)
    store.retrain("m", fp)(Seq((1, 11L), (2, 12L)).toDF("k", "n"))
    val v2 = store.versions("m", fp)
    assert(v2.size == 2 && v2.head == v1.head)
    assert(store.getOrTrain("m", fp)(sys.error("must not retrain"))
      .count() == 2)
  }
}
