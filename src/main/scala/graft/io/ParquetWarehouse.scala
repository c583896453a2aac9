package graft.io

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.api.java.{UDF1, UDF2}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StructType}

import graft.core.{LoadMode, TableRef}

/** A parquet warehouse: each table is `<root>/<schema>/<table>`, giving
  * the engine a native place to EXECUTE load semantics (the reference
  * delegates this step to Redshift; our engine runs it on Spark —
  * SURVEY.md §3.4).
  *
  * Versions are manifests over one data directory per table (Delta
  * Lake's file-action log, Armbrust et al., VLDB 2020). A commit writes
  * its parquet files into a fresh commit directory, then publishes
  * version n as a small record `_log/<n>`: the files it adds (bytes,
  * rows), the key column whose values delete older rows (Upsert), and
  * the schema when it changes. A record builds on the live version
  * (Insert, Upsert) or restates every live file (create,
  * TruncateInsert, compaction, the fold, rollback, and every
  * [[ParquetWarehouse.MaxChain]]-th commit). Readers take files and
  * schema from the records — no listing, no footer job — and see an
  * Insert's files only once its record commits.
  *
  * Upsert is the reference's `DELETE WHERE id IN (staged); INSERT`
  * (PAPER.md item 4) applied on read: it writes only the staged rows,
  * whose keys delete the rows of every OLDER file with that key (a
  * hash-set predicate on the scan; base duplicates go, later Inserts
  * stay). The delete state is the upsert file's own key column. The
  * fold rewrites the table once the rows of delete-carrying files pass
  * [[ParquetWarehouse.FoldDeletedShare]] of the stored rows.
  *
  * Writers are OPTIMISTIC, the reference's X2 philosophy (core.ts:49-53
  * retries on Redshift serialization failure rather than locking), and
  * take no lock: version n commits by creating its record exclusively,
  * only while the live version is still the one the writer started
  * from (data jobs run before). A loser gets a loud
  * [[ParquetWarehouse.ConcurrentWriteException]]; [[loadWithRetry]]
  * re-commits only a record against the new current, since a load's
  * files do not depend on the version it lands on. Compaction and the
  * fold read a pinned version and never re-commit. `_VERSION` is only a
  * hint where readers start looking for the newest record.
  *
  * Retention is by reference: after version n commits, the commits that
  * version n-2 referenced and neither n-1 (the reader-grace version) nor
  * n does are deleted, and the records no retained version needs are
  * emptied. A crashed writer's unreferenced files wait for [[vacuum]]. */
final class ParquetWarehouse(spark: SparkSession, root: String) {
  import ParquetWarehouse._

  /** One handle per warehouse (each `newHadoopConf` copies the whole Hadoop configuration). */
  private lazy val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Metadata (records, `_VERSION`, `_PARTITIONING`) has no `.crc`
    * sibling: Hadoop opens and replaces a file and its checksum in
    * separate steps, so a reader racing an overwrite could fail the check. */
  private lazy val meta = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case f => f }

  private def tableDir(t: TableRef): String =
    if (t.schema.isEmpty) s"$root/${t.table}" else s"$root/${t.schema}/${t.table}"

  private def hintFile(t: TableRef) = new Path(s"${tableDir(t)}/_VERSION")
  private def partitionFile(t: TableRef) = new Path(s"${tableDir(t)}/_PARTITIONING")
  private def logDir(t: TableRef) = new Path(s"${tableDir(t)}/_log")
  private def recordFile(t: TableRef, v: Long) = new Path(logDir(t), v.toString)
  /** A unique name in `_log` that no reader takes for a record. */
  private def tempFile(t: TableRef, v: Long) =
    new Path(logDir(t), s".$v.${java.util.UUID.randomUUID().toString.take(8)}")

  private def readText(f: Path): Option[String] =
    try {
      val in = meta.open(f)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The java.nio path of a local file (None: a remote filesystem). */
  private def localPath(f: Path): Option[java.nio.file.Path] =
    Option(f.toUri).filter(u => u.getScheme == null || u.getScheme == "file")
      .map(u => java.nio.file.Paths.get(u.getPath))

  private def writeText(f: Path, s: String): Unit = {
    val out = meta.create(f, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** The live version: the newest record. `_VERSION` is a hint written
    * after each commit; a reader starts from it (from the newest name in
    * `_log` when it is missing, torn, or names no record) and steps
    * forward while the next record exists. No number is freed while
    * writers run, so the records above the hint are contiguous. */
  private def currentVersion(t: TableRef): Option[Long] =
    readText(hintFile(t)).flatMap(_.trim.toLongOption).filter(v => meta.exists(recordFile(t, v)))
      .orElse(try meta.listStatus(logDir(t)).flatMap(_.getPath.getName.toLongOption).maxOption
        catch { case _: java.io.FileNotFoundException => None })
      .map(Iterator.iterate(_)(_ + 1).dropWhile(v => meta.exists(recordFile(t, v + 1))).next())

  /** Publish `text` as record `v` unless a record `v` exists — the
    * commit: it is written under a temporary name, then linked to `v` on
    * a local path (`link(2)` fails on an existing name) or renamed to it
    * elsewhere (HDFS refuses to rename onto an existing name). False:
    * `v` is taken. */
  private def publish(t: TableRef, v: Long, text: String): Boolean = {
    val (tmp, rec) = (tempFile(t, v), recordFile(t, v))
    writeText(tmp, text)
    localPath(rec) match {
      case Some(p) =>
        try { java.nio.file.Files.createLink(p, localPath(tmp).get); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally meta.delete(tmp, false)
      case None => meta.rename(tmp, rec) || { meta.delete(tmp, false); false }
    }
  }

  /** Empty record `v`, keeping its number taken: an empty record is not
    * retained. On a local path an empty file replaces it by rename, so a
    * reader that already opened the record still reads all of it. */
  private def empty(t: TableRef, v: Long): Unit = {
    val rec = recordFile(t, v)
    localPath(rec) match {
      case Some(p) =>
        val tmp = tempFile(t, v)
        writeText(tmp, "")
        java.nio.file.Files.move(localPath(tmp).get, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case None => writeText(rec, "")
    }
  }

  def exists(t: TableRef): Boolean = currentVersion(t).isDefined

  /** Modification time of the live version's record as the filesystem
    * reports it (None: no live version) — the version's commit time, the
    * signal [[graft.io.ModelStore.gc]] keys its drop-safety re-check on. */
  def versionMtime(t: TableRef): Option[Long] =
    // A table dropped concurrently reads as None (the caller's skip
    // signal) instead of aborting the caller's sweep.
    currentVersion(t).flatMap { v =>
      try Some(meta.getFileStatus(recordFile(t, v)).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    }

  /** Partition columns declared at table creation (Hive-style layout —
    * the 100 TB data-skipping lever: a filter on a partition column prunes
    * whole directories before any IO). Persisted next to the records
    * so every later load/compact keeps the layout. */
  def partitioning(t: TableRef): Seq[String] =
    readText(partitionFile(t)).toSeq.flatMap(_.trim.split(',')).filter(_.nonEmpty)

  /** Record `v` as (the full record it builds on, schema if stated, the
    * files it adds). Lines: the base version; `S<TAB>schema json` when
    * the schema is stated; then one line per commit directory
    * `dir<TAB>seq<TAB>key<TAB>file...`, each file `[k=v/...]i:bytes:rows`
    * naming `[k=v/...]dir/dir-i.parquet`. */
  private def record(t: TableRef, v: Long): (Long, Option[StructType], Seq[DataFile]) = {
    val lines = readText(recordFile(t, v)).filter(_.nonEmpty).getOrElse(
      throw new java.io.FileNotFoundException(s"${t.qualified}: record of version $v is missing"))
      .split('\n').toSeq
    val schema = lines.collectFirst { case l if l.startsWith("S\t") =>
      DataType.fromJson(l.drop(2)).asInstanceOf[StructType] }
    val files = lines.drop(1).filterNot(_.startsWith("S\t")).flatMap { l =>
      val Array(dir, seq, key, entries @ _*) = l.split("\t", -1)
      entries.map { e =>
        val cut = e.lastIndexOf('/') + 1
        val Array(i, bytes, rows) = e.drop(cut).split(':')
        DataFile(s"${e.take(cut)}$dir/$dir-$i.parquet", bytes.toLong, rows.toLong,
          seq.toLong, key)
      }
    }
    (lines.head.toLong, schema, files)
  }

  private def encode(base: Long, schema: Option[StructType], files: Seq[DataFile]): String = {
    val byGroup = files.groupBy(f => (f.commit, f.seq, f.key))
    val groups = files.map(f => (f.commit, f.seq, f.key)).distinct.map(g => g -> byGroup(g))
    (base.toString +: schema.map("S\t" + _.json).toSeq :++ groups.map {
      case ((dir, seq, key), fs) => (Seq(dir, seq.toString, key) ++ fs.map { f =>
        s"${f.path.stripSuffix(s"$dir/${f.name}")}" +
          s"${f.name.stripPrefix(s"$dir-").stripSuffix(".parquet")}:${f.bytes}:${f.rows}"
      }).mkString("\t")
    }).mkString("", "\n", "\n")
  }

  /** Version `v` as its base record plus every record since. */
  private def snapshot(t: TableRef, v: Long): Snapshot = {
    val last = record(t, v)
    val recs = (last._1 until v).map(record(t, _)) :+ last
    Snapshot(v, last._1, recs.flatMap(_._2).last, recs.flatMap(_._3))
  }

  private def live(t: TableRef): Snapshot = snapshot(t, currentVersion(t).getOrElse(
    throw new IllegalArgumentException(s"no such table: ${t.qualified}")))

  def table(t: TableRef): DataFrame = read(t, live(t))

  /** The files of `s` under its schema — a column added by a later file
    * reads as null on older ones (the reference delegates the same
    * problem to Redshift's `columnMap 'auto'`, utils.ts:34) — with its
    * deletes applied. */
  private def read(t: TableRef, s: Snapshot): DataFrame =
    s.files.filter(_.key.nonEmpty).groupBy(_.key).foldLeft(scan(t, s.files, s.schema)) {
      case (df, (key, dels)) =>
        val dead = new java.util.HashMap[AnyRef, java.lang.Long]
        for ((f, keys) <- deleteKeys(t, dels, s.schema(key)); k <- keys)
          dead.merge(k, f.seq, (a, b) => math.max(a, b))
        val seqOf = new java.util.HashMap[String, java.lang.Long]
        s.files.foreach(f => seqOf.put(f.name, f.seq))
        df.filter(keepLive(spark.sparkContext.broadcast((dead, seqOf)), col(key)))
    }

  /** A parquet scan of exactly `files`, built from their recorded sizes:
    * the file index is served from the record, so neither Spark's
    * listing (a job past 32 paths) nor a footer pass runs. */
  private def scan(t: TableRef, files: Seq[DataFile], schema: StructType): DataFrame = {
    val dir = fs.makeQualified(new Path(tableDir(t)))
    val leaves = files.map(f =>
      new FileStatus(f.bytes, false, 1, 128L << 20, 0L, new Path(dir, f.path)))
    val byPath = leaves.map(l => l.getPath -> Array(l)).toMap
    val recorded = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p)
      def putLeafFiles(p: Path, l: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val parts = partitioning(t)
    val index = new InMemoryFileIndex(spark, leaves.map(_.getPath),
      if (parts.isEmpty) Map.empty else Map("basePath" -> dir.toString), Some(schema), recorded)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.filterNot(f => parts.contains(f.name))), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** The delete keys each file in `dels` holds (nulls delete nothing),
    * from a process-wide cache of immutable files; the uncached ones are
    * read in one job. */
  private def deleteKeys(t: TableRef, dels: Seq[DataFile],
      field: org.apache.spark.sql.types.StructField): Seq[(DataFile, Array[AnyRef])] = {
    def id(f: DataFile) = s"${tableDir(t)}/${f.path}\u0000${field.name}"
    val cached = dels.map(f => f -> KeyCache.synchronized(Option(KeyCache.get(id(f)))))
    val missing = cached.collect { case (f, None) => f }
    val fresh = if (missing.isEmpty) Map.empty[String, Array[AnyRef]] else {
      val got = scan(t, missing, StructType(Seq(field)))
        .select(col(field.name), col("_metadata.file_name")).collect()
        .filterNot(_.isNullAt(0)).groupMap(_.getString(1))(_.get(0).asInstanceOf[AnyRef])
      missing.map { f =>
        val keys = got.getOrElse(f.name, Array.empty[AnyRef])
        KeyCache.synchronized(KeyCache.put(id(f), keys))
        f.name -> keys
      }.toMap
    }
    cached.map { case (f, keys) => f -> keys.getOrElse(fresh(f.name)) }
  }

  /** Write `df` as the files of one new commit directory, renamed
    * `<dir>-<i>.parquet` so a record names them by index and every data
    * file name is unique in the table. A partitioned table keeps the
    * commit directory below its partition directories
    * (`k=v/<dir>/<dir>-<i>.parquet`), where Spark's partition discovery
    * expects them. Nothing references the files until [[commit]]
    * publishes them. */
  private def writeFiles(t: TableRef, df: DataFrame): Written = {
    val dir = java.lang.Long.toString(System.currentTimeMillis(), 36).reverse.padTo(8, '0')
      .reverse + "-" + java.util.UUID.randomUUID().toString.take(6)
    val out = fs.makeQualified(new Path(tableDir(t), dir))
    try {
      val w = df.write.mode("errorifexists")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      val parts = partitioning(t)
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(out.toString)
      def leaves(p: Path): Seq[FileStatus] =
        fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
      val files = leaves(out).filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString).zipWithIndex.map { case (st, i) =>
          val sub = st.getPath.getParent.toUri.getPath.drop(out.toUri.getPath.length + 1)
          val path = (if (sub.isEmpty) "" else s"$sub/") + s"$dir/$dir-$i.parquet"
          val to = new Path(out.getParent, path)
          if (sub.nonEmpty) fs.mkdirs(to.getParent)
          fs.rename(st.getPath, to)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(to, fs.getConf))
          val rows = try reader.getRecordCount finally reader.close()
          DataFile(path, st.getLen, rows, -1L, "")
        }
      if (parts.nonEmpty) fs.delete(out, true)
      Written(dir, nullable(df.schema).asInstanceOf[StructType], files)
    } catch { case e: Throwable =>
      discard(t, Seq(dir))
      throw e
    }
  }

  /** Delete directories under the table, best-effort. */
  private def discard(t: TableRef, dirs: Iterable[String]): Unit =
    dirs.foreach(d => try fs.delete(new Path(tableDir(t), d), true)
      catch { case _: java.io.IOException => () })

  /** Publish `w` as version n = live + 1 by creating record n
    * exclusively, only if the live version still equals `expect` (None =
    * expected absent): a full record (`full`, or the first version)
    * replaces every file, any other adds `w`'s files, their `key`
    * deleting older rows. A lost race — the live version moved, or
    * another writer took n first — throws `lost` and, past `retries`
    * re-commits against the new live version, discards `w`. Then the
    * commit directories that fell out of retention are deleted and their
    * records emptied. */
  private def commit(t: TableRef, w: Written, expect0: Option[Long], full: Boolean,
      key: String, lost: String, retries: Int = 0,
      sleeper: Long => Unit = Thread.sleep): Snapshot = {
    var expect = expect0
    var attempt = 0
    var done: Option[(Option[Snapshot], Snapshot)] = None
    while (done.isEmpty) {
      try {
        val cur = currentVersion(t)
        def conflict(live: Option[Long]) = new ConcurrentWriteException(
          s"$lost on ${t.qualified}: computed from ${expect.getOrElse("<absent>")} " +
            s"but live version is ${live.getOrElse("<absent>")} — a concurrent writer " +
            "committed first; re-run the load against the new current")
        if (cur != expect) throw conflict(cur)
        // Two commits landing meanwhile may empty the records just read.
        val prev = try cur.map(snapshot(t, _)) catch {
          case _: java.io.FileNotFoundException if currentVersion(t) != cur =>
            throw conflict(currentVersion(t))
        }
        val n = cur.fold(0L)(_ + 1)
        // Files this commit wrote take its version (a rollback restates
        // files with theirs); the first version deletes nothing.
        val added = w.files.map(f =>
          if (f.seq >= 0) f else f.copy(seq = n, key = if (prev.isEmpty) "" else key))
        val next = prev match {
          case Some(p) if !full =>
            Snapshot(n, if (n - p.base < MaxChain) p.base else n, StructType(p.schema ++
              w.schema.filterNot(f => p.schema.fieldNames.contains(f.name))), p.files ++ added)
          case _ => Snapshot(n, n, w.schema, added)
        }
        if (!publish(t, n,
            if (next.base == n) encode(n, Some(next.schema), next.files)
            else encode(next.base, Some(next.schema).filter(_ != prev.get.schema), added)))
          throw conflict(Some(n))
        writeText(hintFile(t), n.toString)
        done = Some((prev, next))
      } catch { case e: ConcurrentWriteException =>
        if (attempt >= retries) {
          if (w.dir.nonEmpty) discard(t, w.dir +: w.files.map(_.parent))
          throw e
        }
        sleeper(graft.exec.RetryingTxnRunner.backoffMs(attempt))
        attempt += 1
        expect = currentVersion(t)
      }
    }
    val (prev, next) = done.get
    // Retention: only a full record drops files, so version n-2's
    // commits can leave the retained set only when n-1 is full. Its
    // records are emptied, not deleted: a writer still working from an
    // older version must find their numbers taken.
    prev.filter(p => p.base == p.version && p.version > 0).foreach { p =>
      val old = try Some(snapshot(t, p.version - 1))
        catch { case _: java.io.FileNotFoundException => None }
      old.foreach { o =>
        val dead = o.commits -- p.commits -- next.commits
        discard(t, o.files.filter(f => dead(f.commit)).map(_.parent).distinct)
        (o.base until p.version).foreach(empty(t, _))
      }
    }
    next
  }

  def create(t: TableRef, df: DataFrame, partitionBy: Seq[String] = Seq.empty): Unit = {
    require(!exists(t), s"table exists: ${t.qualified}")
    if (partitionBy.nonEmpty) writeText(partitionFile(t), partitionBy.mkString(","))
    commit(t, writeFiles(t, df), None, full = true, "", "lost update")
  }

  /** Execute a load natively on Spark: Insert adds the staged files,
    * TruncateInsert replaces every file with them, Upsert adds them as
    * one file when they fit and deletes their keys from every older file
    * (L1/L2/L3 of [[graft.operators.LoadOps]]). One attempt: a lost race
    * throws [[ParquetWarehouse.ConcurrentWriteException]]. */
  def load(mode: LoadMode, t: TableRef, staged: DataFrame, idField: String = "id"): Unit =
    loadWithRetry(mode, t, staged, idField, maxRetries = 0)

  /** The reference's X2 conflict loop executed natively (core.ts:49-53):
    * [[load]], re-committing its record against the new current version
    * on the reference's 1 s·3ⁿ backoff schedule after each lost race. The
    * staged rows are written once; an upsert's deletes then apply to the
    * winner's files too, so both writers' rows land. `sleeper` is
    * injectable so specs don't wait out the schedule. */
  def loadWithRetry(mode: LoadMode, t: TableRef, staged: DataFrame,
      idField: String = "id", maxRetries: Int = 4,
      sleeper: Long => Unit = Thread.sleep): Unit = {
    val base = currentVersion(t)
    val upsert = mode == LoadMode.Upsert
    val fits = upsert && staged.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.filesMaxPartitionBytes
    val w = writeFiles(t, if (fits) staged.coalesce(1) else staged)
    val next = commit(t, w, base, full = mode == LoadMode.TruncateInsert,
      if (upsert) idField else "", if (mode == LoadMode.Insert) "lost append" else "lost update",
      maxRetries, sleeper)
    val deleting = next.files.filter(_.key.nonEmpty).map(_.rows).sum
    // The fold: a commit like any other, so a lost race only
    // leaves the deletes to the next upsert's check.
    if (upsert && deleting > FoldDeletedShare * next.files.map(_.rows).sum)
      try rewrite(t, next)(identity)
      catch { case _: ConcurrentWriteException => () }
  }

  /** Retained version ids, oldest first: the live version and the
    * reader-grace one before it, while its records are kept — the
    * time-travel horizon is one version back. */
  def versions(t: TableRef): Seq[String] =
    currentVersion(t).toSeq.flatMap(c => Seq(c - 1, c)).filter { v =>
      v >= 0 && (try { snapshot(t, v); true }
        catch { case _: java.io.FileNotFoundException => false })
    }.map(_.toString)

  /** Time-travel read of a retained version (ids from [[versions]]); the
    * live version is untouched — this is a read, not a rollback. */
  def tableAt(t: TableRef, version: String): DataFrame = {
    require(versions(t).contains(version),
      s"version $version not retained for ${t.qualified} " +
        s"(have: ${versions(t).mkString(",")})")
    read(t, snapshot(t, version.toLong))
  }

  /** Roll back to the previous retained version (the load-went-bad
    * escape hatch): a new version restating its files and schema, so no
    * data is rewritten and the bad version stays retained for one
    * commit. */
  def rollback(t: TableRef): Unit = {
    val cur = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: ${t.qualified}"))
    val prev = versions(t).map(_.toLong).filter(_ != cur).lastOption.getOrElse(
      throw new IllegalStateException(s"no previous version retained for ${t.qualified}"))
    val back = snapshot(t, prev)
    commit(t, Written("", back.schema, back.files), Some(cur), full = true, "", "lost update")
  }

  /** Read-modify-write of a whole table as a compare-and-set: `f` gets
    * the rows of the live version (None: no table) and returns the rows
    * to replace them with (None: keep them) and its result. The
    * replacement commits only if that version is still live; otherwise
    * `f` runs again on the version that won. */
  def update[A](t: TableRef)(f: Option[DataFrame] => (Option[DataFrame], A)): A = {
    val cur = currentVersion(t)
    val (rows, a) = f(cur.map(v => read(t, snapshot(t, v))))
    try { rows.foreach(df => commit(t, writeFiles(t, df), cur, full = true, "", "lost update")); a }
    catch { case _: ConcurrentWriteException => update(t)(f) }
  }

  /** VACUUM (the `VACUUM ... RETAIN 0` analog, run offline like
    * [[graft.io.ModelStore.gc]]): delete every commit directory the live
    * version does not reference — the previous version's, and any a
    * crashed writer left — every record before the live version's base,
    * and every temporary record a crashed writer left. The previous
    * version stays readable only when it references nothing the live one
    * dropped (the live version builds on it). The only place a record
    * number is freed: offline, no writer can still target one. */
  def vacuum(t: TableRef): Unit = {
    val s = live(t)
    def sweep(p: Path): Unit = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
      val n = d.getName
      if (n.contains('=')) sweep(d)
      else if (!n.startsWith("_") && !n.startsWith(".") && !s.commits(n)) fs.delete(d, true)
    }
    sweep(new Path(tableDir(t)))
    // The hint first, so it never names a freed record; oldest first, so
    // a crash leaves the remaining records contiguous.
    writeText(hintFile(t), s.version.toString)
    val names = meta.listStatus(logDir(t)).map(_.getPath.getName)
    (names.flatMap(_.toLongOption).filter(_ < s.base).sorted.map(_.toString) ++
      names.filter(_.toLongOption.isEmpty))
      .foreach(n => meta.delete(new Path(logDir(t), n), false))
  }

  /** Rewrite version `s` through `f` as a full version, committed only
    * if `s` is still live (the rewrite read its files). Clears deletes. */
  private def rewrite(t: TableRef, s: Snapshot)(f: DataFrame => DataFrame): Unit =
    commit(t, writeFiles(t, f(read(t, s))), Some(s.version), full = true, "", "lost update")

  /** Small-file compaction: rewrite the live version into `nFiles` part
    * files. Incremental appends (L1) accumulate one file set per load
    * job; at warehouse scale the read cost of many small parquet files
    * dominates — periodic compaction is the standard remedy. */
  def compact(t: TableRef, nFiles: Int): Unit = rewrite(t, live(t))(_.repartition(nFiles))

  /** Z-order compaction (the OPTIMIZE ZORDER BY analog): rewrite the
    * live version clustered on the Morton interleave of two columns, so
    * file min/max stats prune range predicates on EITHER dimension (see
    * [[graft.operators.LayoutOps]]). */
  def compactZorder(t: TableRef, x: String, y: String, nFiles: Int,
      bits: Int = 16): Unit =
    rewrite(t, live(t))(graft.operators.LayoutOps.zorder(_, col(x), col(y), nFiles, bits))

  /** The directory under which every live data file lies, or None when
    * the table has no live version. It also holds files waiting for
    * retention; [[liveFiles]] lists exactly the live ones. */
  def currentDataPath(t: TableRef): Option[String] =
    currentVersion(t).map(_ => tableDir(t))

  /** Names of the live version's data files (unique within the table). */
  def dataFiles(t: TableRef): Seq[String] = live(t).files.map(_.name)

  /** Status (path, length, mtime) of each live data file — the input of
    * metadata-scale corpus statistics ([[graft.io.ModelStore.corpusStat]]). */
  def liveFiles(t: TableRef): Seq[FileStatus] =
    live(t).files.map(d => fs.getFileStatus(new Path(s"${tableDir(t)}/${d.path}")))

  def drop(t: TableRef): Unit = { fs.delete(new Path(tableDir(t)), true); () }

  /** Tables of a schema: child directories with a live version
    * (half-created or foreign directories are ignored). One FS list plus
    * one hint read and two stats per child. */
  def tables(schema: String): Seq[TableRef] = {
    val dir = new Path(if (schema.isEmpty) root else s"$root/$schema")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(st => TableRef(schema, st.getPath.getName))
      .filter(exists)
  }
}

object ParquetWarehouse {
  /** A commit lost a concurrent-writer race: the live version is no
    * longer the one the operation started from. Retryable, like
    * Redshift's serializable-isolation failure (the X2 loop). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Share of stored rows past which the rows of delete-carrying files
    * trigger the fold: Redshift's VACUUM DELETE reclaims by default until
    * 95 % of the rows are live. Each such row deletes at most one older
    * row when keys are unique, so this bounds the deleted share. */
  val FoldDeletedShare: Double = 0.05

  /** Records a read resolves at most: every MaxChain-th commit restates
    * the whole file list. */
  val MaxChain: Int = 16

  /** One data file of a version: its path under the table directory,
    * bytes, rows, the version that added it, and the key column whose
    * values delete older rows ("" = none). */
  private[io] final case class DataFile(path: String, bytes: Long, rows: Long, seq: Long,
      key: String) {
    def name: String = path.substring(path.lastIndexOf('/') + 1)
    /** The commit directory holding the file. */
    def parent: String = path.substring(0, path.lastIndexOf('/'))
    def commit: String = name.substring(0, name.lastIndexOf('-'))
  }

  /** A version: the full record it builds on, its schema and files. */
  private[io] final case class Snapshot(version: Long, base: Long, schema: StructType,
      files: Seq[DataFile]) {
    def commits: Set[String] = files.map(_.commit).toSet
  }

  /** Files one write produced, not yet referenced by any version. */
  private final case class Written(dir: String, schema: StructType, files: Seq[DataFile])

  /** Delete keys per immutable data file, least recently used evicted. */
  private val KeyCache = new java.util.LinkedHashMap[String, Array[AnyRef]](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Array[AnyRef]]): Boolean =
      size > 256
  }

  /** Keeps a row unless a file newer than its own holds its key. The
    * maps (key → newest deleting version, file → version) are broadcast,
    * so a task reads them once, and a file is looked up only for deleted keys. */
  private def keepLive(d: Broadcast[(java.util.HashMap[AnyRef, java.lang.Long],
      java.util.HashMap[String, java.lang.Long])], key: Column): Column = {
    val dead = udf(new UDF1[AnyRef, java.lang.Boolean] {
      @transient private lazy val v = d.value._1
      def call(k: AnyRef): java.lang.Boolean = k != null && v.containsKey(k)
    }, BooleanType)
    val older = udf(new UDF2[AnyRef, String, java.lang.Boolean] {
      @transient private lazy val v = d.value
      def call(k: AnyRef, f: String): java.lang.Boolean = v._1.get(k) > v._2.get(f)
    }, BooleanType)
    !dead(key) || !older(key, col("_metadata.file_name"))
  }

  /** File sources read every column as nullable; so does the schema a
    * version records. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
