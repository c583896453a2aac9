package graft

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse

/** The checksummed local filesystem under the `crash` scheme, with every
  * mutation counted and the k-th mutation ([[CrashFs.arm]]) and every one
  * after it failing: a writer process that died at that point. Registered with the
  * filesystem cache disabled, so every `getFileSystem` builds a new
  * instance; the counter lives in the companion. */
class CrashFs extends FilterFileSystem(new LocalFileSystem(new CrashFs.Raw)) {
  import CrashFs.mutate

  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
      rep: Short, blk: Long, prog: Progressable): FSDataOutputStream = {
    mutate("create", f); super.create(f, p, overwrite, buf, rep, blk, prog)
  }
  override def create(f: Path, p: FsPermission, flags: EnumSet[CreateFlag],
      buf: Int, rep: Short, blk: Long, prog: Progressable,
      sum: Options.ChecksumOpt): FSDataOutputStream = {
    mutate("create", f); super.create(f, p, flags, buf, rep, blk, prog, sum)
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: EnumSet[CreateFlag], buf: Int, rep: Short, blk: Long,
      prog: Progressable): FSDataOutputStream = {
    mutate("create", f); super.createNonRecursive(f, p, flags, buf, rep, blk, prog)
  }
  override def append(f: Path, buf: Int, prog: Progressable): FSDataOutputStream = {
    mutate("append", f); super.append(f, buf, prog)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", src); super.rename(src, dst)
  }
  override def rename(src: Path, dst: Path, opts: Options.Rename*): Unit = {
    mutate("rename", src); super.rename(src, dst, opts: _*)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, p: FsPermission): Boolean = {
    mutate("mkdirs", f); super.mkdirs(f, p)
  }
  override def mkdirs(f: Path): Boolean = {
    mutate("mkdirs", f); super.mkdirs(f)
  }
  override def truncate(f: Path, len: Long): Boolean = {
    mutate("truncate", f); super.truncate(f, len)
  }
}

object CrashFs {
  val Scheme = "crash"
  private val count = new AtomicInteger
  @volatile private var failAt = Int.MaxValue
  /** Every mutation since the last [[arm]], as "op path". */
  val log = new ConcurrentLinkedQueue[String]

  /** Restart the count; the `k`-th mutation from now on and every one
    * after it fail (Int.MaxValue: none). */
  def arm(k: Int): Unit = { count.set(0); log.clear(); failAt = k }

  /** Stop failing; the count and the log stay readable. */
  def disarm(): Unit = failAt = Int.MaxValue

  private def mutate(op: String, p: Path): Unit = {
    val n = count.incrementAndGet()
    log.add(s"$op ${p.toUri.getPath}")
    if (n >= failAt) throw new IOException(s"injected crash at mutation $n: $op $p")
  }

  /** RawLocalFileSystem answering to the `crash` scheme. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }
}

/** Crash safety of [[ParquetWarehouse]]'s commit protocol at every crash
  * point: each operation runs once against [[CrashFs]] to list its
  * mutations, then once per crash point k, the k-th mutation and all
  * later ones failing. A fresh warehouse on the same directory must then
  * read exactly the rows from before the operation or exactly the rows
  * after it — never no table, never a mix. Crash points: every mutation,
  * the data write's included. */
class WarehouseCrashSpec extends AnyFunSuite with SparkSuite {

  private val t = TableRef("", "crashy")

  private def rows(ids: Range, tag: String): DataFrame =
    spark.range(ids.start.toLong, ids.end.toLong)
      .select(col("id"), lit(tag).as("v"))

  private val old = rows(0 until 10, "old")
  private val staged = rows(5 until 15, "new")
  /** A base the 10 staged rows' deletes stay under the fold share of. */
  private val many = rows(0 until 400, "old")

  private def content(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  /** What a reader sees: the table's rows, or None for no table. */
  private type Seen = Option[Seq[(Long, String)]]

  private def live(dir: String): Seen = {
    val wh = new ParquetWarehouse(spark, dir)
    if (wh.exists(t)) Some(content(wh.table(t))) else None
  }

  private def registerCrashFs(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.${CrashFs.Scheme}.impl.disable.cache", true)
  }

  /** Run `op` through the crash scheme once unarmed and once per crash
    * point; `setup` builds the starting state with the plain filesystem.
    * Returns the unarmed run's warehouse. */
  private def crashPoints(setup: ParquetWarehouse => Unit)(
      op: ParquetWarehouse => Unit): ParquetWarehouse = {
    registerCrashFs()
    def attempt(k: Int): (Seen, Seen, Seq[String], String) = {
      val dir = Files.createTempDirectory("graft-crash").toString
      setup(new ParquetWarehouse(spark, dir))
      val before = live(dir)
      // The injected failures are expected: keep Spark's job-abort
      // stack traces out of the test log.
      spark.sparkContext.setLogLevel("OFF")
      CrashFs.arm(k)
      try op(new ParquetWarehouse(spark, s"${CrashFs.Scheme}://$dir"))
      catch { case _: Throwable => () }
      finally { CrashFs.disarm(); spark.sparkContext.setLogLevel("WARN") }
      (before, live(dir), CrashFs.log.asScala.toSeq, dir)
    }
    val (before, after, muts, done) = attempt(Int.MaxValue)
    assert(before != after, "the operation must change what a reader sees")
    // The commit: a temporary record renamed to its number.
    assert(muts.exists(m => m.startsWith("rename ") && m.contains("/_log/.")),
      muts.mkString("\n"))
    val probe = rows(100 until 102, "probe")
    for (k <- 1 to muts.size) {
      val (b, got, _, dir) = attempt(k)
      assert(b == before)
      assert(got == before || got == after,
        s"crash at mutation $k of ${muts.size} (${muts(k - 1)}): a reader " +
          s"sees ${got.map(_.size + " rows").getOrElse("no table")}, " +
          s"expected ${before.map(_.size).getOrElse("no table")} or " +
          s"${after.map(_.size).getOrElse("no table")} rows\n" +
          muts.zipWithIndex.map { case (m, i) => s"${i + 1} $m" }.mkString("\n"))
      // Nothing the crash left blocks the next writer: one attempt lands.
      new ParquetWarehouse(spark, dir).load(LoadMode.Insert, t, probe)
      assert(live(dir) == Some((got.getOrElse(Nil) ++ content(probe)).sorted),
        s"a load after a crash at mutation $k of ${muts.size} (${muts(k - 1)})")
    }
    new ParquetWarehouse(spark, done)
  }

  /** Commit directory of a data file `<dir>-<i>.parquet`. */
  private def commitDir(name: String): String = name.substring(0, name.lastIndexOf('-'))

  test("crash at any point of create: no table or the whole new table") {
    crashPoints(_ => ())(_.create(t, staged))
  }

  test("crash at any point of an Insert: the old rows or old plus staged") {
    crashPoints(_.create(t, old))(_.load(LoadMode.Insert, t, staged))
  }

  test("crash at any point of an Upsert: the old rows or the merged rows") {
    // 10 deleting rows of 410 stored: the deletes stay on read.
    val wh = crashPoints(_.create(t, many))(_.load(LoadMode.Upsert, t, staged))
    assert(wh.dataFiles(t).map(commitDir).distinct.size == 2, wh.dataFiles(t))
  }

  test("crash at any point of an Upsert whose fold fires: the old rows or the merged rows") {
    // 10 deleting rows of 20 stored: the fold rewrites the table.
    val wh = crashPoints(_.create(t, old))(_.load(LoadMode.Upsert, t, staged))
    assert(wh.dataFiles(t).map(commitDir).distinct.size == 1, wh.dataFiles(t))
    assert(wh.table(t).count() == 15)
  }

  test("crash at any point of a TruncateInsert: the old rows or the staged rows") {
    crashPoints(_.create(t, old))(_.load(LoadMode.TruncateInsert, t, staged))
  }

  test("crash at any point of a rollback: the current rows or the previous ones") {
    crashPoints { wh =>
      wh.create(t, old)
      wh.load(LoadMode.TruncateInsert, t, staged)
    }(_.rollback(t))
  }

  test("crash at any point of a drift retrain: the store serves the old generation " +
      "or the new one, and its next call lands at once") {
    import graft.io.ModelStore
    import ModelStore.CorpusStat
    val (fpOld, fpNew) = ("00000000000000aa", "00000000000000bb")
    val statOld = CorpusStat(fpOld, 100L, 1L, Seq(1L -> 100L))
    // Twice the drift budget: the call retrains and resets the policy row.
    val statNew = CorpusStat(fpNew, 500L, 2L, Seq(1L -> 100L, 2L -> 400L))
    def model(tag: String) = rows(0 until 3, tag)
    registerCrashFs()
    def attempt(k: Int): (String, Seq[String]) = {
      val dir = Files.createTempDirectory("graft-crash-model").toString
      ModelStore(spark, dir).getOrTrainDrifted("m", statOld)(model("old"))
      spark.sparkContext.setLogLevel("OFF")
      CrashFs.arm(k)
      try ModelStore(spark, s"${CrashFs.Scheme}://$dir")
        .getOrTrainDrifted("m", statNew)(model("new"))
      catch { case _: Throwable => () }
      finally { CrashFs.disarm(); spark.sparkContext.setLogLevel("WARN") }
      (dir, CrashFs.log.asScala.toSeq)
    }
    val (done, muts) = attempt(Int.MaxValue)
    assert(ModelStore(spark, done).servedFingerprint("m").contains(fpNew))
    assert(muts.exists(_.contains("m__meta/_log/.")), muts.mkString("\n"))
    for (k <- 1 to muts.size) {
      val (dir, _) = attempt(k)
      val store = ModelStore(spark, dir)
      val served = store.servedFingerprint("m")
      assert(served.contains(fpOld) || served.contains(fpNew),
        s"crash at mutation $k of ${muts.size} (${muts(k - 1)}): serves $served")
      assert(content(store.getOrTrainDrifted("m", statNew)(model("new"))) ==
        content(model("new")), s"next call after a crash at mutation $k")
      assert(store.servedFingerprint("m").contains(fpNew))
    }
  }
}
