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
  * retries on Redshift serialization failure rather than locking): the
  * record write and `_VERSION` pointer swap run in a short
  * create-exclusive `_COMMIT_LOCK` section (data jobs run outside it),
  * and only while the live version is still the one the writer started
  * from. A loser gets a loud [[ParquetWarehouse.ConcurrentWriteException]];
  * [[loadWithRetry]] re-commits only a record against the new current,
  * since a load's files do not depend on the version it lands on.
  * Compaction and the fold read a pinned version and never re-commit.
  *
  * Retention is by reference: after version n commits, the commits that
  * version n-2 referenced and neither n-1 (the reader-grace version) nor
  * n does are deleted, with the records no retained version needs. A
  * crashed writer's unreferenced files wait for [[vacuum]]. */
final class ParquetWarehouse(spark: SparkSession, root: String) {
  import ParquetWarehouse._

  /** One handle per warehouse (each `newHadoopConf` copies the whole Hadoop configuration). */
  private lazy val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Metadata (records, `_VERSION`, `_VERSION.next`, `_PARTITIONING`) has
    * no `.crc` sibling: Hadoop opens and swaps a file and its checksum in
    * separate steps, so a reader racing a pointer swap could fail the check. */
  private lazy val meta = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case f => f }

  private def tableDir(t: TableRef): String =
    if (t.schema.isEmpty) s"$root/${t.table}" else s"$root/${t.schema}/${t.table}"

  private def versionFile(t: TableRef) = new Path(s"${tableDir(t)}/_VERSION")
  private def nextVersionFile(t: TableRef) = new Path(s"${tableDir(t)}/_VERSION.next")
  private def partitionFile(t: TableRef) = new Path(s"${tableDir(t)}/_PARTITIONING")
  private def recordFile(t: TableRef, v: Long) = new Path(s"${tableDir(t)}/_log/$v")

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

  private def readPointer(f: Path): Option[Long] =
    readText(f).flatMap(_.trim.toLongOption)

  /** `_VERSION`, else the version a swap cut after deleting `_VERSION`
    * left in `_VERSION.next` (written only once its record is complete;
    * it counts only if that record exists). `_VERSION` is read again
    * last, so a swap finishing meanwhile wins. */
  private def currentVersion(t: TableRef): Option[Long] =
    readPointer(versionFile(t)).orElse {
      val next = readPointer(nextVersionFile(t)).filter(v => meta.exists(recordFile(t, v)))
      readPointer(versionFile(t)).orElse(next)
    }

  /** Write `_VERSION.next`, delete `_VERSION`, rename (under the commit
    * lock): at every instant `_VERSION` or [[currentVersion]]'s fallback
    * names a complete version. A swap cut by a crash is rolled forward
    * first, so the overwrite never leaves the table without a pointer. */
  private def setVersion(t: TableRef, v: Long): Unit = {
    val tmp = nextVersionFile(t)
    if (!meta.exists(versionFile(t)) && currentVersion(t).isDefined)
      meta.rename(tmp, versionFile(t))
    writeText(tmp, v.toString)
    meta.delete(versionFile(t), false)
    meta.rename(tmp, versionFile(t)) // atomic pointer swap on HDFS-like FS
  }

  def exists(t: TableRef): Boolean = currentVersion(t).isDefined

  /** Modification time of the live version POINTER as the filesystem
    * reports it (None: no live pointer). The pointer is committed last,
    * so this is the current version's commit time — the signal
    * [[graft.io.ModelStore.gc]] keys its drop-safety re-check on. */
  def versionMtime(t: TableRef): Option[Long] =
    // One stat: a pointer dropped concurrently reads as None (the
    // caller's skip signal) instead of aborting the caller's sweep.
    try Some(meta.getFileStatus(versionFile(t)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Partition columns declared at table creation (Hive-style layout —
    * the 100 TB data-skipping lever: a filter on a partition column prunes
    * whole directories before any IO). Persisted next to the version
    * pointer so every later load/compact keeps the layout. */
  def partitioning(t: TableRef): Seq[String] =
    readText(partitionFile(t)).toSeq.flatMap(_.trim.split(',')).filter(_.nonEmpty)

  /** Record `v` as (the full record it builds on, schema if stated, the
    * files it adds). Lines: the base version; `S<TAB>schema json` when
    * the schema is stated; then one line per commit directory
    * `dir<TAB>seq<TAB>key<TAB>file...`, each file `[k=v/...]i:bytes:rows`
    * naming `[k=v/...]dir/dir-i.parquet`. */
  private def record(t: TableRef, v: Long): (Long, Option[StructType], Seq[DataFile]) = {
    val lines = readText(recordFile(t, v)).getOrElse(throw new java.io.FileNotFoundException(
      s"${t.qualified}: record of version $v is missing")).split('\n').toSeq
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

  /** Run `body` holding the table's create-exclusive `_COMMIT_LOCK` —
    * the millisecond critical section that makes check-pointer-then-swap
    * atomic (CONTRACTS §11). Three hardenings over naive locking:
    *
    *   - **O_EXCL on local FS**: Hadoop's local `create(…, overwrite =
    *     false)` is check-then-create, so `file:`/schemeless paths use
    *     `java.nio.Files.createFile`; HDFS-like filesystems keep
    *     `fs.create` (atomic at the namenode).
    *   - **Ownership token**: each acquisition writes a unique token and
    *     re-reads it before entering; release re-verifies it and renames
    *     to a grave before deleting, so a holder whose lock was stolen
    *     mid-hold does not take down the thief's.
    *   - **Reap by per-incarnation ticket**: a lock older than
    *     [[ParquetWarehouse.LockStaleMs]] is a crashed writer's; its
    *     incarnation (mtime) elects exactly one reaper through an O_EXCL
    *     `_COMMIT_LOCK.reap.<mtime>` ticket, and the winner re-stats
    *     right before deleting — a fresh lock's mtime never equals a
    *     ≥30 s corpse's, so live locks are structurally un-reapable.
    *
    * Younger contention waits briefly, then fails loudly (retryable
    * [[ParquetWarehouse.ConcurrentWriteException]]) rather than wedging. */
  private[graft] def withCommitLock[A](t: TableRef,
      waitBudgetMs: Long = 2000)(body: => A): A =
    withCommitLockFenced(t, waitBudgetMs)(_ => body)

  /** [[withCommitLock]] handing the body a FENCE: `verifyHeld()` re-reads
    * the lock token and throws a retryable
    * [[ParquetWarehouse.ConcurrentWriteException]] if it is gone. With
    * >LockStaleMs clock skew between nodes a live hold can be reaped and
    * a second writer admitted; calling the fence immediately before the
    * pointer write shrinks the double-commit window from the rest of the
    * critical section to the metadata-read-to-rename gap. */
  private[graft] def withCommitLockFenced[A](t: TableRef,
      waitBudgetMs: Long = 2000)(body: (() => Unit) => A): A = {
    val lock = new Path(s"${tableDir(t)}/_COMMIT_LOCK")
    fs.mkdirs(new Path(tableDir(t)))
    val token = java.util.UUID.randomUUID().toString
    def trace(msg: => String): Unit =
      if (ParquetWarehouse.LockTrace) System.err.println(
        f"[lock ${System.nanoTime()}%d ${Thread.currentThread().getName}%s ${token.take(6)}%s] $msg")
    var acquired = false
    var waitedMs = 0L
    while (!acquired) {
      if (tryCreateExclusive(lock, token) && readLockToken(lock).contains(token)) {
        acquired = true
        trace("ACQUIRED")
      }
      else {
        // ONE stat serves both the staleness decision and the reap
        // ticket's incarnation identity: a second stat could hit a fresh
        // lock that a concurrent reap+create put in the corpse's place.
        val statMtime = try Some(fs.getFileStatus(lock).getModificationTime)
        // Lock vanished between create-fail and stat (owner released):
        // no steal, immediate re-try of the create.
        catch { case _: java.io.FileNotFoundException => None }
        val age = statMtime.fold(0L)(m => System.currentTimeMillis() - m)
        if (age > ParquetWarehouse.LockStaleMs) {
          // Reap by PER-INCARNATION TICKET, never by touching a maybe-
          // live path (stat-then-delete and rename-restore steals both
          // yanked live locks in the stampede spec): exactly one ticket
          // winner per incarnation re-stats and deletes only the corpse;
          // a crashed winner's ticket is itself reaped by age.
          val mtime = statMtime.get
          var won = false
          if (mtime > 0) {
            trace(s"REAP-TRY mtime=$mtime")
            val ticket = new Path(s"${tableDir(t)}/_COMMIT_LOCK.reap.$mtime")
            // The election goes through the lock's own O_EXCL create and
            // token re-read: Hadoop's local create is check-then-create,
            // and two winners would reopen the two-holders race.
            won = tryCreateExclusive(ticket, token) &&
              readLockToken(ticket).contains(token)
            if (!won) {
              // Ticket taken: reap a crashed winner's stale ticket so
              // incarnation `mtime` cannot wedge forever.
              try {
                val tAge = System.currentTimeMillis() -
                  fs.getFileStatus(ticket).getModificationTime
                if (tAge > ParquetWarehouse.LockStaleMs)
                  fs.delete(ticket, false)
              } catch { case _: java.io.IOException => () }
            }
            if (won) try {
              val cur = try Some(fs.getFileStatus(lock).getModificationTime)
                catch { case _: java.io.FileNotFoundException => None }
              trace(s"REAP-WON mtime=$mtime cur=$cur -> ${if (cur.contains(mtime)) "DELETE" else "abort"}")
              if (cur.contains(mtime)) fs.delete(lock, false)
            } finally {
              try fs.delete(ticket, false)
              catch { case _: java.io.IOException => () }
            }
          }
          // Losing the ticket race (or a 0-mtime stat artifact) polls
          // under the same wait budget instead of hot-spinning.
          if (!won) {
            if (waitedMs >= waitBudgetMs)
              throw new ConcurrentWriteException(
                s"commit lock on ${t.qualified} stale for ${age} ms but " +
                  s"its reap is contended after ${waitedMs} ms ($lock) — " +
                  "another waiter is reaping; retry")
            Thread.sleep(50); waitedMs += 50
          }
        } else if (waitedMs >= waitBudgetMs)
          throw new ConcurrentWriteException(
            s"commit lock on ${t.qualified} held for ${waitedMs} ms by a " +
              s"live writer ($lock) — concurrent load in progress; retry")
        else { Thread.sleep(50); waitedMs += 50 }
      }
    }
    // Release by token-check then ATOMIC RENAME to a private grave,
    // post-verifying the grave token before the delete: a bare
    // check-then-delete is a TOCTOU, and the rename claims whatever sits
    // at the lock path atomically — a yanked thief lock is renamed back.
    val verifyHeld: () => Unit = () =>
      if (!readLockToken(lock).contains(token))
        throw new ConcurrentWriteException(
          s"commit-lock fence failed on ${t.qualified}: this holder's " +
            s"token is no longer at $lock (the hold exceeded " +
            s"${ParquetWarehouse.LockStaleMs} ms and was reaped, or the " +
            "lock was externally removed) — aborting before the pointer " +
            "write; re-run the load")
    try body(verifyHeld) finally {
      trace(s"RELEASE token-at-path=${readLockToken(lock).map(_.take(6))}")
      if (readLockToken(lock).contains(token)) {
        val grave =
          new Path(s"${tableDir(t)}/_COMMIT_LOCK.rel.${token.take(8)}")
        try {
          if (fs.rename(lock, grave)) {
            if (readLockToken(grave).contains(token))
              fs.delete(grave, false)
            else if (!fs.rename(grave, lock)) fs.delete(grave, false)
          }
        } catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Create the lock file exclusively and stamp it with `token`. Local
    * paths go through java.nio (O_EXCL); remote ones through the
    * filesystem's own create-exclusive. False = already held. */
  private def tryCreateExclusive(lock: Path, token: String): Boolean = localPath(lock) match {
    case Some(p) =>
      try java.nio.file.Files.createFile(p)
      catch { case _: java.io.IOException => return false }
      // The create was O_EXCL, so the file is provably OURS until the
      // token lands — a failed stamp must not orphan an unowned fresh
      // lock that stalls every writer until the 30 s stale steal
      // (ADVICE r15): delete best-effort and report contention.
      try { java.nio.file.Files.write(p, token.getBytes("UTF-8")); true }
      catch { case _: java.io.IOException =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
        false
      }
    case None =>
      // Remote FS: fs.create(overwrite = false) is atomic at the
      // namenode, so a created-but-unstamped lock is likewise ours to
      // reap on a failed token write.
      val out =
        try fs.create(lock, false)
        catch { case _: java.io.IOException => return false }
      try { try out.write(token.getBytes("UTF-8")) finally out.close(); true }
      catch { case _: java.io.IOException =>
        try fs.delete(lock, false)
        catch { case _: java.io.IOException => () }
        false
      }
  }

  private def readLockToken(lock: Path): Option[String] =
    try readText(lock) catch { case _: java.io.IOException => None }

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
      val conf = spark.sessionState.newHadoopConf()
      val files = leaves(out).filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString).zipWithIndex.map { case (st, i) =>
          val sub = st.getPath.getParent.toUri.getPath.drop(out.toUri.getPath.length + 1)
          val path = (if (sub.isEmpty) "" else s"$sub/") + s"$dir/$dir-$i.parquet"
          val to = new Path(out.getParent, path)
          if (sub.nonEmpty) fs.mkdirs(to.getParent)
          fs.rename(st.getPath, to)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(to, conf))
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

  /** Publish `w` as version n = live + 1 under the commit lock, only if
    * the live version still equals `expect` (None = expected absent): a
    * full record (`full`, or the first version) replaces every file, any
    * other adds `w`'s files, their `key` deleting older rows. A lost race
    * throws `lost` and, past `retries` re-commits against the new live
    * version, discards `w`. Outside the lock, the commit directories and
    * records that fell out of retention are deleted. */
  private def commit(t: TableRef, w: Written, expect0: Option[Long], full: Boolean,
      key: String, lost: String, retries: Int = 0,
      sleeper: Long => Unit = Thread.sleep): Snapshot = {
    var expect = expect0
    var attempt = 0
    var done: Option[(Option[Snapshot], Snapshot)] = None
    while (done.isEmpty) {
      try done = Some(withCommitLockFenced(t) { fence =>
        val cur = currentVersion(t)
        if (cur != expect) throw new ConcurrentWriteException(
          s"$lost on ${t.qualified}: computed from ${expect.getOrElse("<absent>")} " +
            s"but live version is ${cur.getOrElse("<absent>")} — a concurrent writer " +
            "committed first; re-run the load against the new current")
        val prev = cur.map(snapshot(t, _))
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
        writeText(recordFile(t, n),
          if (next.base == n) encode(n, Some(next.schema), next.files)
          else encode(next.base, Some(next.schema).filter(_ != prev.get.schema), added))
        // Fence immediately before the pointer write: if this hold was
        // reaped (>LockStaleMs, cross-node skew), abort retryably
        // instead of racing the usurper's CAS (withCommitLockFenced).
        fence()
        setVersion(t, n)
        (prev, next)
      })
      catch { case e: ConcurrentWriteException =>
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
    // commits can leave the retained set only when n-1 is full.
    prev.filter(p => p.base == p.version && p.version > 0).foreach { p =>
      val old = try Some(snapshot(t, p.version - 1))
        catch { case _: java.io.FileNotFoundException => None }
      old.foreach { o =>
        val dead = o.commits -- p.commits -- next.commits
        discard(t, o.files.filter(f => dead(f.commit)).map(_.parent).distinct)
        (o.base until p.version).foreach(v => meta.delete(recordFile(t, v), false))
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
    // The fold: a version swap like any other, so a lost race only
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
      v >= 0 && (try meta.exists(recordFile(t, record(t, v)._1))
        catch { case _: java.io.FileNotFoundException => false })
    }.map(_.toString)

  /** Time-travel read of a retained version (ids from [[versions]]); the
    * CURRENT pointer is untouched — this is a read, not a rollback. */
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

  /** VACUUM (the `VACUUM ... RETAIN 0` analog, run offline like
    * [[graft.io.ModelStore.gc]]): delete every commit directory the live
    * version does not reference — the previous version's, and any a
    * crashed writer left — and every record before the live version's
    * base. The previous version stays readable only when it references
    * nothing the live one dropped (the live version builds on it). */
  def vacuum(t: TableRef): Unit = {
    val s = live(t)
    def sweep(p: Path): Unit = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
      val n = d.getName
      if (n.contains('=')) sweep(d)
      else if (!n.startsWith("_") && !n.startsWith(".") && !s.commits(n)) fs.delete(d, true)
    }
    sweep(new Path(tableDir(t)))
    meta.listStatus(new Path(s"${tableDir(t)}/_log")).map(_.getPath.getName)
      .filter(_.toLongOption.exists(_ < s.base))
      .foreach(n => meta.delete(new Path(s"${tableDir(t)}/_log/$n"), false))
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
    * the table has no live pointer. It also holds files waiting for
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

  /** Tables of a schema: child directories with a live version pointer
    * (half-created or foreign directories are ignored). One FS list plus
    * one pointer read per child. */
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
  /** Dev-only lock tracing (env GRAFT_LOCK_TRACE=1). */
  private[graft] val LockTrace: Boolean =
    sys.env.get("GRAFT_LOCK_TRACE").contains("1")

  /** A version swap lost a concurrent-writer race: the live version is
    * no longer the one the operation started from. Retryable, like
    * Redshift's serializable-isolation failure (the X2 loop). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Age past which a `_COMMIT_LOCK` is presumed crashed and stolen: the
    * lock only ever guards a sub-second record write and pointer swap,
    * never a data write, so 30 s is 2+ orders above any live hold. */
  val LockStaleMs: Long = 30000L

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
