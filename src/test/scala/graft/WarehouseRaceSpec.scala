package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse

/** Executor-side rendezvous for the race specs: the blocking UDF parks a
  * write job mid-flight (after the racing writer has resolved its base
  * version) until the test has made the conflicting commit. local[*]
  * executors share the JVM, so plain static latches work. */
object WarehouseRaceSpec {
  @volatile var writing: CountDownLatch = _
  @volatile var release: CountDownLatch = _
}

/** Concurrent-writer semantics of [[ParquetWarehouse]] — the reference's
  * X2 scenario (two loaders colliding on one table, core.ts:49-53)
  * executed natively: every version swap is a compare-and-swap against
  * the base the contents were computed from, a lost race throws
  * [[ParquetWarehouse.ConcurrentWriteException]] (never a silent lost
  * update), and the resolution is the X2 loop — re-run against the new
  * current. */
class WarehouseRaceSpec extends AnyFunSuite with SparkSuite {

  private def tmp() = Files.createTempDirectory("graft-race").toString

  /** Identity on `id` that parks the first write job: signals `writing`
    * (the racer is provably past its base-version read and inside its
    * write), then waits for `release`. */
  private def slowId = udf((x: Long) => {
    WarehouseRaceSpec.writing.countDown()
    WarehouseRaceSpec.release.await()
    x
  })

  private def rows(wh: ParquetWarehouse, t: TableRef): Set[(Long, String)] =
    wh.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("upsert losing the swap race fails loud; X2 retry lands both writers") {
    import spark.implicits._
    val root = tmp()
    val wh = new ParquetWarehouse(spark, root)
    val t = TableRef("", "race")
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))

    WarehouseRaceSpec.writing = new CountDownLatch(1)
    WarehouseRaceSpec.release = new CountDownLatch(1)
    val slowStaged = Seq((2L, "slow")).toDF("id", "v")
      .withColumn("id", slowId(col("id")))
    val err = new AtomicReference[Throwable]
    val racer = new Thread(() =>
      try wh.load(LoadMode.Upsert, t, slowStaged, "id")
      catch { case e: Throwable => err.set(e) })
    racer.start()
    WarehouseRaceSpec.writing.await() // racer merged FROM v0, mid-write
    wh.load(LoadMode.Upsert, t, Seq((3L, "fast")).toDF("id", "v"), "id")
    WarehouseRaceSpec.release.countDown()
    racer.join()

    // Loser fails loud with the lost-update diagnosis; winner's commit
    // is intact (the silent alternative would have dropped id=3).
    assert(err.get() != null, "lost race must throw, not silently win")
    assert(err.get().isInstanceOf[ParquetWarehouse.ConcurrentWriteException],
      s"unexpected failure: ${err.get()}")
    assert(err.get().getMessage.contains("lost update"))
    assert(rows(wh, t) == Set((1L, "base"), (3L, "fast")))

    // The X2 loop: re-running the lost load against the new current
    // succeeds and the table now carries all three writers' rows.
    wh.load(LoadMode.Upsert, t, Seq((2L, "slow")).toDF("id", "v"), "id")
    assert(rows(wh, t) == Set((1L, "base"), (2L, "slow"), (3L, "fast")))
    // No lock residue from either the winner or the loser: the next
    // writer is not blocked.
    assert(!Files.exists(Paths.get(s"$root/race/_COMMIT_LOCK")))
  }

  test("append racing a version swap fails loud instead of vanishing") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tmp())
    val t = TableRef("", "race2")
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))

    WarehouseRaceSpec.writing = new CountDownLatch(1)
    WarehouseRaceSpec.release = new CountDownLatch(1)
    val slowStaged = Seq((2L, "late")).toDF("id", "v")
      .withColumn("id", slowId(col("id")))
    val err = new AtomicReference[Throwable]
    val appender = new Thread(() =>
      try wh.load(LoadMode.Insert, t, slowStaged, "id")
      catch { case e: Throwable => err.set(e) })
    appender.start()
    WarehouseRaceSpec.writing.await() // appending into v0, mid-write
    wh.load(LoadMode.TruncateInsert, t, Seq((9L, "trunc")).toDF("id", "v"), "id")
    WarehouseRaceSpec.release.countDown()
    appender.join()

    // The appended files landed in the retired generation — invisible to
    // readers — so the append must report failure, not success.
    assert(err.get() != null, "lost append must throw, not report success")
    assert(err.get().isInstanceOf[ParquetWarehouse.ConcurrentWriteException],
      s"unexpected failure: ${err.get()}")
    assert(err.get().getMessage.contains("lost append"))
    assert(rows(wh, t) == Set((9L, "trunc")))

    // Retry lands the rows in the live generation.
    wh.load(LoadMode.Insert, t, Seq((2L, "late")).toDF("id", "v"), "id")
    assert(rows(wh, t) == Set((9L, "trunc"), (2L, "late")))
  }

  test("lost upsert race is retried AUTOMATICALLY by the committed load path " +
      "(X2 end-to-end); both writers land with zero manual retry") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tmp())
    val t = TableRef("", "race4")
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))

    WarehouseRaceSpec.writing = new CountDownLatch(1)
    WarehouseRaceSpec.release = new CountDownLatch(1)
    val slowStaged = Seq((2L, "slow")).toDF("id", "v")
      .withColumn("id", slowId(col("id")))
    val err = new AtomicReference[Throwable]
    // The production path: loadWithRetry (what Loader.start calls). On
    // the lost CAS it must re-run the merge against the winner's version
    // by itself — the test body performs no retry.
    val racer = new Thread(() =>
      try wh.loadWithRetry(LoadMode.Upsert, t, slowStaged, "id", sleeper = _ => ())
      catch { case e: Throwable => err.set(e) })
    racer.start()
    WarehouseRaceSpec.writing.await() // racer merged FROM v0, mid-write
    wh.load(LoadMode.Upsert, t, Seq((3L, "fast")).toDF("id", "v"), "id")
    WarehouseRaceSpec.release.countDown()
    racer.join()

    assert(err.get() == null, s"auto-retry must absorb the conflict: ${err.get()}")
    assert(rows(wh, t) == Set((1L, "base"), (2L, "slow"), (3L, "fast")))
  }

  test("insert landing inside a concurrent merge's pinned base is never " +
      "silently dropped (append-marker check fails the merge's CAS)") {
    import spark.implicits._
    // The r15 'documented optimism gap', now closed: the upsert pins v0
    // and builds its file index, a file-granular INSERT lands new parts
    // in v0 and reports SUCCESS (pointer unmoved — its own re-check
    // passes), then the upsert swaps. Without the marker check the swap
    // replaces v0 with a merge that never saw the insert's files —
    // a silent drop of successfully-reported rows. With it, the merge's
    // CAS sees the marker-set diff, throws ConcurrentWriteException,
    // and loadWithRetry re-merges WITH the late files.
    val wh = new ParquetWarehouse(spark, tmp())
    val t = TableRef("", "race7")
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))

    WarehouseRaceSpec.writing = new CountDownLatch(1)
    WarehouseRaceSpec.release = new CountDownLatch(1)
    val slowStaged = Seq((2L, "merge")).toDF("id", "v")
      .withColumn("id", slowId(col("id")))
    val err = new AtomicReference[Throwable]
    val merger = new Thread(() =>
      try wh.loadWithRetry(LoadMode.Upsert, t, slowStaged, "id", sleeper = _ => ())
      catch { case e: Throwable => err.set(e) })
    merger.start()
    WarehouseRaceSpec.writing.await() // upsert pinned v0, mid-merge
    // The insert completes fully while the merge is in flight: pointer
    // still v0, so the insert's own re-check passes and it reports
    // success — these rows are COMMITTED from the caller's view.
    wh.load(LoadMode.Insert, t, Seq((3L, "late")).toDF("id", "v"), "id")
    assert(rows(wh, t) == Set((1L, "base"), (3L, "late")),
      "insert must be visible before the merge swaps")
    WarehouseRaceSpec.release.countDown()
    merger.join()

    assert(err.get() == null, s"auto-retry must absorb the conflict: ${err.get()}")
    assert(rows(wh, t) == Set((1L, "base"), (2L, "merge"), (3L, "late")),
      "the successfully-reported insert row must survive the merge swap")
  }

  test("a writer parked on an old base loses even after retention emptied " +
      "the records above it; with retry it lands on the live version") {
    import spark.implicits._
    val root = tmp()
    val wh = new ParquetWarehouse(spark, root)
    val t = TableRef("", "stale")
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))

    def slowStaged = Seq((2L, "slow")).toDF("id", "v").withColumn("id", slowId(col("id")))
    /** Runs `load` parked mid-write on its base while an Insert (v1), a
      * TruncateInsert (v2, full) and an Insert (v3) land — committing v3
      * retires the records of v0 and v1. Returns what `load` threw. */
    def parked(load: => Unit): Throwable = {
      WarehouseRaceSpec.writing = new CountDownLatch(1)
      WarehouseRaceSpec.release = new CountDownLatch(1)
      val err = new AtomicReference[Throwable]
      val racer = new Thread(() => try load catch { case e: Throwable => err.set(e) })
      racer.start()
      WarehouseRaceSpec.writing.await()
      wh.load(LoadMode.Insert, t, Seq((3L, "v1")).toDF("id", "v"), "id")
      wh.load(LoadMode.TruncateInsert, t, Seq((4L, "v2")).toDF("id", "v"), "id")
      wh.load(LoadMode.Insert, t, Seq((5L, "v3")).toDF("id", "v"), "id")
      WarehouseRaceSpec.release.countDown()
      racer.join()
      err.get()
    }

    val err = parked(wh.load(LoadMode.Insert, t, slowStaged, "id"))
    assert(err.isInstanceOf[ParquetWarehouse.ConcurrentWriteException], s"got $err")
    assert(err.getMessage.contains("lost append"))
    // Retention emptied record 1 but kept its number taken.
    assert(Files.exists(Paths.get(s"$root/stale/_log/1")))
    assert(rows(wh, t) == Set((4L, "v2"), (5L, "v3")))

    // The same load with retry re-commits on top of the live version.
    wh.drop(t)
    wh.create(t, Seq((1L, "base")).toDF("id", "v"))
    assert(parked(wh.loadWithRetry(LoadMode.Insert, t, slowStaged, "id", sleeper = _ => ())) == null)
    assert(rows(wh, t) == Set((4L, "v2"), (5L, "v3"), (2L, "slow")))
    assert(wh.versions(t).last == "4")
  }

  test("six writers committing concurrently: every row once, contiguous versions, " +
      "no temporary record left") {
    val root = tmp()
    val wh = new ParquetWarehouse(spark, root)
    val t = TableRef("", "many")
    wh.create(t, spark.range(-1, 0).toDF("id"))
    val (threads, rounds) = (6, 20)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = (0 until threads).map(w => new Thread(() =>
      try (0 until rounds).foreach { r =>
        val id = (w * rounds + r).toLong
        wh.loadWithRetry(LoadMode.Insert, t, spark.range(id, id + 1).toDF("id"), "id",
          maxRetries = 1000, sleeper = _ => ())
      } catch { case e: Throwable => errs.add(e) }))
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(errs.isEmpty, s"a writer failed: ${errs.peek()}")
    assert(wh.table(t).collect().map(_.getLong(0)).sorted.toSeq ==
      (-1L until threads * rounds).toSeq)
    val log = new java.io.File(s"$root/many/_log").list().toSeq
    assert(log.flatMap(_.toLongOption).sorted == (0L to threads * rounds).toSeq)
    assert(log.forall(_.toLongOption.isDefined), s"temporary records left: $log")
  }

  test("a reader polling the table while a writer commits many versions never loses it") {
    import spark.implicits._
    val root = tmp()
    val t = TableRef("", "race5")
    new ParquetWarehouse(spark, root).create(t, Seq((0L, "base")).toDF("id", "v"))
    val commits = 40
    val err = new AtomicReference[Throwable]
    val writer = new Thread(() =>
      try {
        val wh = new ParquetWarehouse(spark, root)
        for (i <- 1 to commits)
          wh.load(LoadMode.Insert, t, Seq((i.toLong, "w")).toDF("id", "v"), "id")
      } catch { case e: Throwable => err.set(e) })
    // A second instance, as another process would read: every pointer
    // read overlaps some swap's delete and rename.
    val reader = new ParquetWarehouse(spark, root)
    var reads = 0
    writer.start()
    while (writer.isAlive) {
      assert(reader.exists(t), s"table lost after $reads reads")
      // Retention keeps one version of grace: a writer two commits ahead
      // may take the records a read began from, which is not this race.
      try reader.table(t)
      catch { case e: java.io.FileNotFoundException if e.getMessage.contains("is missing") => () }
      reads += 1
    }
    writer.join()
    assert(err.get() == null, s"writer failed: ${err.get()}")
    assert(reader.table(t).count() == commits + 1)
    assert(!Files.exists(Paths.get(s"$root/race5/._VERSION.crc")))
  }
}
