package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{LoadMode, TableRef}
import graft.operators.LoadOps

/** A parquet-directory warehouse: each table is `<root>/<schema>/<table>`,
  * giving the engine a native place to EXECUTE load semantics (the reference
  * delegates this step to Redshift; our engine runs it on Spark —
  * SURVEY.md §3.4).
  *
  * Merge atomicity without a transactional format (SURVEY.md §7.4): the
  * merged result is materialized to a fresh versioned directory, then the
  * live version pointer (a tiny `_VERSION` file) is swapped — readers see
  * old or new, never a mix.
  *
  * Concurrent writers are OPTIMISTIC, the reference's X2 philosophy
  * (core.ts:49-53 retries on Redshift serialization failure rather than
  * locking): every pointer swap is a compare-and-swap against the version
  * the operation's CONTENTS were computed from, taken under a short
  * create-exclusive `_COMMIT_LOCK` critical section (milliseconds — the
  * merge/write jobs run outside it). A writer that lost the race gets a
  * loud [[ParquetWarehouse.ConcurrentWriteException]] — its merge read a
  * base that is no longer current, so silently swapping would DROP the
  * winner's rows (lost update) — and [[ParquetWarehouse.loadWithRetry]]
  * (the committed load path) re-runs the whole load against the new
  * current version on the reference's backoff schedule, exactly the X2
  * loop. Version-dir
  * names are unique (millis + uuid), so the loser's materialized dir is
  * ordinary garbage for the retention sweep, never a torn table.
  *
  * The insert-vs-merge in-flight window (r15's one documented optimism
  * gap) is CLOSED by append markers: every file-granular INSERT drops a
  * tiny `_app_<uuid>` marker at the version-dir root AFTER its parquet
  * parts land (marker ⇒ data complete), and every pinned-read rewrite
  * (upsert / compact / zorder) lists the markers BEFORE building its
  * file-index and re-lists them under the commit lock — a late append
  * changes the marker set, the CAS fails loudly, and the retry re-reads
  * the same base WITH the late files. Marker listing is one flat
  * metadata op (O(appends since last swap)), so the in-lock discipline
  * (sub-millisecond, no data IO) holds. Every interleaving now either
  * lands or throws [[ParquetWarehouse.ConcurrentWriteException]]:
  * append completes before the merge pins → merged in; lands mid-merge
  * → marker diff fails the merge's CAS; lands after the swap → the
  * insert's own pointer re-check fails the insert. Never a silent drop
  * (WarehouseRaceSpec race7 pins all of this with real threads). */
final class ParquetWarehouse(spark: SparkSession, root: String) {
  import ParquetWarehouse.ConcurrentWriteException

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def tableDir(t: TableRef): String =
    if (t.schema.isEmpty) s"$root/${t.table}" else s"$root/${t.schema}/${t.table}"

  private def versionFile(t: TableRef) = new Path(s"${tableDir(t)}/_VERSION")
  private def nextVersionFile(t: TableRef) = new Path(s"${tableDir(t)}/_VERSION.next")
  private def partitionFile(t: TableRef) = new Path(s"${tableDir(t)}/_PARTITIONING")

  private def readPointer(f: Path): Option[String] =
    try {
      val in = fs.open(f)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** `_VERSION`, else the version a swap cut after deleting `_VERSION`
    * left in `_VERSION.next` (written only once its data is complete;
    * it counts only if it names an existing version dir). `_VERSION` is
    * read again last, so a swap finishing meanwhile wins. */
  private def currentVersion(t: TableRef): Option[String] =
    readPointer(versionFile(t)).orElse {
      val next = readPointer(nextVersionFile(t))
        .filter(v => v.startsWith("v_") && fs.exists(new Path(s"${tableDir(t)}/$v")))
      readPointer(versionFile(t)).orElse(next)
    }

  /** Write `_VERSION.next`, delete `_VERSION`, rename (under the commit
    * lock): at every instant `_VERSION` or [[currentVersion]]'s fallback
    * names a complete version. A swap cut by a crash is rolled forward
    * first, so the overwrite never leaves the table without a pointer. */
  private def setVersion(t: TableRef, v: String): Unit = {
    val tmp = nextVersionFile(t)
    if (!fs.exists(versionFile(t)) && currentVersion(t).isDefined)
      fs.rename(tmp, versionFile(t))
    val out = fs.create(tmp, true)
    try out.write(v.getBytes("UTF-8"))
    finally out.close()
    fs.delete(versionFile(t), false)
    fs.rename(tmp, versionFile(t)) // atomic pointer swap on HDFS-like FS
  }

  def exists(t: TableRef): Boolean = currentVersion(t).isDefined

  /** Modification time of the live version POINTER (not the data files)
    * as the filesystem reports it, or None when the table has no live
    * pointer. The pointer is committed last (create-then-swap), so this
    * is the commit time of the current generation — the signal
    * [[graft.io.ModelStore.gc]] keys its drop-safety re-check on.
    * Encapsulated here so a layout change can't silently strand gc on a
    * hand-derived path. */
  def versionMtime(t: TableRef): Option[Long] = {
    val vf = versionFile(t)
    // exists-then-stat is not atomic: a concurrent drop between the two
    // calls must read as "pointer gone" (None — the caller's skip
    // signal), not throw and abort the caller's whole sweep.
    try {
      if (fs.exists(vf)) Some(fs.getFileStatus(vf).getModificationTime)
      else None
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Partition columns declared at table creation (Hive-style layout —
    * the 100 TB data-skipping lever: a filter on a partition column prunes
    * whole directories before any IO). Persisted next to the version
    * pointer so every later load/compact keeps the layout. */
  def partitioning(t: TableRef): Seq[String] = {
    val pf = partitionFile(t)
    if (!fs.exists(pf)) Seq.empty
    else {
      val in = fs.open(pf)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .trim.split(',').toSeq.filter(_.nonEmpty)
      finally in.close()
    }
  }

  def table(t: TableRef): DataFrame =
    // mergeSchema: appended file sets may carry evolved (widened)
    // schemas — union the footer schemas so new columns surface as
    // nulls on old files (schema-evolution-on-read; the reference
    // delegates the same problem to Redshift's `columnMap 'auto'`,
    // utils.ts:34). Footer-schema merge is metadata-scale work.
    spark.read.option("mergeSchema", "true")
      .parquet(s"${tableDir(t)}/${currentVersion(t).getOrElse(
        throw new IllegalArgumentException(s"no such table: ${t.qualified}"))}")

  /** Run `body` holding the table's create-exclusive `_COMMIT_LOCK` —
    * the millisecond critical section that makes check-pointer-then-swap
    * atomic. Three hardenings over naive create/delete locking:
    *
    *   - **O_EXCL on local FS**: Hadoop `RawLocalFileSystem.create(…,
    *     overwrite = false)` is exists-check-then-create, NOT atomic —
    *     two local writers can both "create" the lock. For `file:`/
    *     schemeless paths the primitive is `java.nio.Files.createFile`
    *     (true O_EXCL); HDFS-like filesystems keep `fs.create` (atomic
    *     at the namenode).
    *   - **Ownership token**: each acquisition writes a unique token and
    *     re-reads it before entering the section — on any filesystem
    *     whose create-exclusive is still check-then-create, the last
    *     token written wins the file and ONLY that writer proceeds; the
    *     other treats its "successful" create as contention. Release
    *     re-verifies the token and then renames-to-grave before
    *     deleting, narrowing (not eliminating — see the release-site
    *     comment) the window in which a writer whose lock was stolen
    *     mid-hold could take down the thief's live lock.
    *   - **Reap by per-incarnation ticket, never by touching a
    *     maybe-live path**: a lock left by a crashed writer (it only
    *     ever guards a sub-second section) is presumed stale past
    *     [[ParquetWarehouse.LockStaleMs]], but any stat-then-reap is a
    *     TOCTOU against a concurrent reap + fresh re-create. The statted
    *     incarnation is identified by its mtime; an O_EXCL
    *     `_COMMIT_LOCK.reap.<mtime>` ticket elects exactly one reaper
    *     for it, and the winner re-stats immediately before deleting —
    *     a fresh lock's mtime can never equal a >=30s-old corpse's, so
    *     live locks are structurally un-reapable (two prior designs,
    *     delete-based and rename-restore-based, each lost this race in
    *     the stampede spec).
    *
    * Younger contention waits briefly, then fails loudly (retryable
    * [[ParquetWarehouse.ConcurrentWriteException]]) rather than wedging. */
  private[graft] def withCommitLock[A](t: TableRef,
      waitBudgetMs: Long = 2000)(body: => A): A =
    withCommitLockFenced(t, waitBudgetMs)(_ => body)

  /** [[withCommitLock]] handing the body a FENCE: `verifyHeld()` re-reads
    * the lock token and throws a retryable
    * [[ParquetWarehouse.ConcurrentWriteException]] if this holder's token
    * is no longer at the lock path. Time-bounded exclusion alone leaves a
    * residual on multi-node deployments with >LockStaleMs clock skew: a
    * live hold can be reaped mid-critical-section and a second writer
    * admitted, after which two `cur == base` CAS checks can both pass
    * before either pointer write — silently dropping one commit. Calling
    * the fence immediately before the pointer write shrinks that window
    * from "rest of the critical section" to the metadata-read-to-rename
    * gap (microseconds): a reaped holder now aborts retryably instead of
    * overwriting the usurper's swap. One extra metadata read per commit. */
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
        // ticket's incarnation identity — a second stat inside the reap
        // branch reintroduces the exact TOCTOU the ticket closes (trace-
        // caught: the age-stat hit the corpse, a concurrent reap+create
        // landed, the identity-stat hit the FRESH lock, and the "stale"
        // incarnation it ticketed was a live writer's lock).
        val statMtime = try Some(fs.getFileStatus(lock).getModificationTime)
        // Lock vanished between create-fail and stat (owner released):
        // no steal, immediate re-try of the create.
        catch { case _: java.io.FileNotFoundException => None }
        val age = statMtime.fold(0L)(m => System.currentTimeMillis() - m)
        if (age > ParquetWarehouse.LockStaleMs) {
          // Reap by PER-INCARNATION TICKET, never by touching a maybe-
          // live path. The naive stat-then-reap is a TOCTOU: a second
          // stealer can reap the corpse and a new writer create a fresh
          // LIVE lock between this waiter's stat and its reap, which
          // yanked live locks (a real 1-in-6 two-holders flake in the
          // stampede spec, twice: delete-based AND rename-restore-based
          // steals — the restore dance also left the path empty long
          // enough to admit a third writer). Instead: the statted
          // incarnation is identified by its mtime; `_COMMIT_LOCK.reap.
          // <mtime>` is created O_EXCL so exactly ONE reaper per
          // incarnation exists, and that winner re-stats the lock
          // IMMEDIATELY before deleting — a fresh lock has a fresh
          // mtime (a corpse is >= LockStaleMs old by definition, so the
          // two cannot collide), and no one else can delete the corpse
          // between the winner's re-check and its delete (deleters are
          // this ticket's winner, release paths token-guarded to their
          // own lock, and other incarnations' winners whose re-check
          // fails). Crashed-winner tickets are themselves reaped by
          // age; a duplicate winner after that re-checks the same dead
          // mtime, so a double delete hits only the corpse.
          val mtime = statMtime.get
          var won = false
          if (mtime > 0) {
            trace(s"REAP-TRY mtime=$mtime")
            val ticket = new Path(s"${tableDir(t)}/_COMMIT_LOCK.reap.$mtime")
            // The ticket election MUST go through the same O_EXCL
            // primitive as the lock itself (ADVICE r16): raw
            // `fs.create(…, overwrite = false)` on Hadoop
            // LocalFileSystem is exists-check-then-create, so two
            // waiters could both "win" one incarnation's ticket — and
            // the second winner's re-stat→delete can land after a fresh
            // live lock appears, reopening the two-holders race the
            // ticket design closes. tryCreateExclusive uses NIO
            // Files.createFile (true O_EXCL) on the local scheme and
            // namenode-atomic create elsewhere; the token re-read is
            // the same belt-and-braces as the lock acquisition for any
            // filesystem where even that create races.
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
          // Losing the ticket race (or a 0-mtime stat artifact) must
          // DEGRADE TO POLLING, not hot-spin filesystem ops for up to
          // LockStaleMs while a ticket winner finishes (or a crashed
          // winner's ticket ages out) — and the wait budget must keep
          // bounding the total wait in this branch too (ADVICE r16).
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
    // check-then-delete is itself a TOCTOU, and the rename claims
    // whatever sits at the lock path atomically — a yanked thief lock
    // is renamed back (or, if a fresh lock already replaced it, the
    // displaced thief's own release token-check fails loudly instead
    // of deleting the fresh one). With ticketed reaps never touching
    // sub-30s locks, the only writer that can displace a live lock is
    // a reaper of a >LockStaleMs hold — the rename+verify narrows even
    // that to a double failure inside a microsecond window. Exclusion
    // is time-bounded by LockStaleMs, but the POINTER WRITES are now
    // token-fenced ([[withCommitLockFenced]]): a reaped holder re-reads
    // its token immediately before setVersion and aborts retryably, so
    // the cross-node-skew double-commit residual is the fence-read-to-
    // rename gap, not the rest of the critical section.
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
  private def tryCreateExclusive(lock: Path, token: String): Boolean = {
    val uri = lock.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val p = java.nio.file.Paths.get(uri.getPath)
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
    } else {
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
  }

  private def readLockToken(lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** The `_app_<uuid>` append markers currently present at a version
    * dir's root — the file-set fingerprint the insert-vs-merge close
    * rides on (one flat listing; markers never nest into partition
    * subdirs). Underscore-prefixed, so parquet readers ignore them. */
  private def appendMarkers(t: TableRef, v: String): Set[String] =
    try fs.listStatus(new Path(s"${tableDir(t)}/$v"))
      .map(_.getPath.getName).filter(_.startsWith("_app_")).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Write a brand-new version dir (honoring the table's partition
    * layout) and compare-and-swap the pointer to it: the swap commits
    * only if the live version still equals `base` — the version this
    * df's contents were computed FROM (None = expected absent). A lost
    * race throws [[ParquetWarehouse.ConcurrentWriteException]] and
    * removes the orphaned dir; the caller retries against the new
    * current (the X2 loop).
    *
    * Retention: the immediately-replaced version is KEPT (deleted only
    * by the commit after next) so readers that resolved the pointer just
    * before the swap can still finish against the old file set — the
    * same reader-grace idea snapshot formats use. Disk cost is bounded
    * at one extra generation per table. */
  private def commitNewVersion(t: TableRef, df: DataFrame,
      base: Option[String], baseMarkers: Option[Set[String]] = None): Unit = {
    val v = s"v_${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    val w = df.write.mode("errorifexists")
    val parts = partitioning(t)
    // Materialization failures are reclassified as retryable contention
    // when the pointer moved mid-write: a concurrent winner's retention
    // sweep may have deleted our in-flight dir out from under the job
    // (on object stores that surfaces as an arbitrary IO error, not a
    // ConcurrentWriteException), and re-running the load against the
    // new current is exactly the X2 answer. A write failure with the
    // pointer UNMOVED is a genuine storage error and rethrows as-is.
    try (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(s"${tableDir(t)}/$v")
    catch { case e: Throwable if !e.isInstanceOf[ConcurrentWriteException] =>
      try fs.delete(new Path(s"${tableDir(t)}/$v"), true)
      catch { case _: java.io.IOException => () }
      if (currentVersion(t) != base)
        throw new ConcurrentWriteException(
          s"write of ${t.qualified}/$v failed after a concurrent commit " +
            s"moved the pointer (likely its retention sweep): ${e.getMessage}" +
            " — re-run the load against the new current")
      else throw e
    }
    // The locked section is ONLY read-pointer / CAS / write-pointer /
    // list — sub-millisecond metadata ops, which is what justifies the
    // 30 s staleness bound. Recursive deletes (the retention sweep and
    // the loser's orphan dir) can take arbitrarily long on an object
    // store, so they run OUTSIDE the lock: the sweep list is captured
    // under the lock (names that existed at swap time, minus the new
    // current and the reader-grace generation — a later commit always
    // mints a fresh unique name, so nothing captured can become live),
    // making the deferred deletes idempotent garbage collection.
    // Scope: only names sorting STRICTLY BELOW base (the fixed-width
    // millis prefix makes lexicographic order chronological) — any
    // writer that read base as its starting pointer stamped its dir
    // AFTER base's own write began, so those in-flight dirs sort above
    // base and are never swept (the ADVICE r15 hazard: sweeping them
    // failed the loser's write with a non-retryable error on object
    // stores). A writer still materializing from a PRE-base pointer can
    // sort below base and lose its dir to this sweep — that residual is
    // what the write-failure-to-ConcurrentWriteException reclassification
    // above closes (its CAS was doomed anyway; it now retries cleanly).
    // The just-committed dir `v` is ALSO excluded unconditionally
    // (ADVICE r16): lexicographic order is chronological only while the
    // clock is monotone — a backward clock step (or a shared-millisecond
    // uuid ordering) can make v sort below base, and "set pointer to v,
    // then sweep v" would destroy the live table. `n != v` makes the
    // new current structurally un-sweepable regardless of clock skew.
    // The loser cleans its own orphan in the Left branch; first-commit
    // case (base None): nothing to sweep.
    val sweep: Either[String, Seq[String]] = withCommitLockFenced(t) { fence =>
      val cur = currentVersion(t)
      if (cur != base) Left(
        s"lost update on ${t.qualified}: computed from " +
          s"${base.getOrElse("<absent>")} but live version is " +
          s"${cur.getOrElse("<absent>")} — a concurrent writer " +
          "committed first; re-run the load against the new current")
      // Marker re-check (insert-vs-merge close): a file-granular append
      // that landed in the pinned base AFTER this rewrite listed its
      // files would be silently dropped by the swap — the marker set
      // diff catches it while the pointer is still unmoved.
      else if (baseMarkers.exists(m0 =>
          base.exists(b => appendMarkers(t, b) != m0))) Left(
        s"late append on ${t.qualified}: new files landed in " +
          s"${base.get} after this rewrite pinned its file set — " +
          "re-run the load to merge them")
      else {
        // Fence immediately before the pointer write: if this hold was
        // reaped (>LockStaleMs, cross-node skew), abort retryably
        // instead of racing the usurper's CAS (header note above).
        fence()
        setVersion(t, v)
        Right(fs.listStatus(new Path(tableDir(t)))
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(n => n.startsWith("v_") && n != v &&
            base.exists(b => n < b))
          .toSeq)
      }
    }
    sweep match {
      case Left(msg) =>
        fs.delete(new Path(s"${tableDir(t)}/$v"), true) // orphan, not a lost table
        throw new ConcurrentWriteException(msg)
      case Right(olds) =>
        olds.foreach(o => fs.delete(new Path(s"${tableDir(t)}/$o"), true))
    }
  }

  def create(t: TableRef, df: DataFrame, partitionBy: Seq[String] = Seq.empty): Unit = {
    require(!exists(t), s"table exists: ${t.qualified}")
    if (partitionBy.nonEmpty) {
      val out = fs.create(partitionFile(t), true)
      try out.write(partitionBy.mkString(",").getBytes("UTF-8"))
      finally out.close()
    }
    commitNewVersion(t, df, base = None)
  }

  /** Execute a load natively on Spark (L1/L2/L3 semantics via
    * [[graft.operators.LoadOps]]). */
  def load(mode: LoadMode, t: TableRef, staged: DataFrame, idField: String = "id"): Unit =
    mode match {
      case LoadMode.Insert =>
        // Append is file-granular: new parquet parts land inside the CURRENT
        // version dir — no rewrite of existing data (100 TB discipline).
        currentVersion(t) match {
          case Some(v) =>
            val w = staged.write.mode("append")
            val parts = partitioning(t)
            (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
              .parquet(s"${tableDir(t)}/$v")
            // Append marker AFTER the parts land (marker ⇒ data
            // complete): any concurrent pinned-read rewrite whose CAS
            // runs after this create sees the marker-set diff and
            // retries with our files included. Marker creation and the
            // pointer re-check run UNDER the commit lock (ADVICE r16):
            // unlocked, the marker could land after a merge's in-lock
            // marker re-check while this insert's pointer re-check
            // still read the pre-swap version — both sides report
            // success and the swap silently drops the appended rows.
            // Serializing this metadata-only pair (sub-ms) against the
            // merge's marker-check-and-swap section restores the header
            // guarantee: marker visible to the merge's in-lock re-check
            // XOR pointer already moved when we re-check here.
            withCommitLockFenced(t) { fence =>
              // Fence before the marker create: the marker-visible-XOR-
              // pointer-moved guarantee assumes this section excludes
              // the merge's marker-check-and-swap — a reaped hold
              // doesn't, so abort retryably instead.
              fence()
              fs.create(new Path(s"${tableDir(t)}/$v/_app_" +
                java.util.UUID.randomUUID().toString.take(12)), false).close()
              // Post-append race check: if a concurrent writer swapped
              // the pointer while we appended, our files landed in a
              // RETIRED generation (invisible, swept by the commit
              // after next) — fail loudly so the caller re-runs, never
              // silently "loads" rows no reader will see.
              val nowCur = currentVersion(t)
              if (nowCur != Some(v))
                throw new ConcurrentWriteException(
                  s"lost append on ${t.qualified}: appended into $v but " +
                    s"live version is ${nowCur.getOrElse("<absent>")} — a " +
                    "concurrent writer swapped mid-append; re-run the load")
            }
          case None => commitNewVersion(t, staged, base = None)
        }
      case LoadMode.TruncateInsert =>
        commitNewVersion(t, LoadOps.overwrite(staged),
          base = currentVersion(t))
      case LoadMode.Upsert =>
        currentVersion(t) match {
          case None => commitNewVersion(t, staged, base = None)
          case base @ Some(v) =>
            // Merge reads the PINNED base dir, not the live pointer: the
            // CAS below certifies exactly "merged from what is still
            // current", so the read and the check must name one version.
            // Markers are listed BEFORE the read builds its file index:
            // an append landing in between is INCLUDED in the merge and
            // merely costs a conservative retry; the reverse order would
            // let it slip past both the index and the marker check.
            val m0 = appendMarkers(t, v)
            val baseDf = spark.read.option("mergeSchema", "true")
              .parquet(s"${tableDir(t)}/$v")
            commitNewVersion(t, LoadOps.merge(baseDf, staged, idField),
              base, baseMarkers = Some(m0))
        }
    }

  /** The reference's X2 conflict loop executed natively, end-to-end: run
    * [[load]], and when it loses a concurrent-writer race re-run the
    * WHOLE load against the new current version with the reference's
    * 1 s·3ⁿ backoff schedule (core.ts:49-53 re-runs the entire
    * transaction on a Redshift serialization failure; here the
    * retryable conflict class is [[ParquetWarehouse.ConcurrentWriteException]]).
    * Each retry re-resolves the live pointer, so an upsert re-merges
    * against the winner's committed state and an append re-lands its
    * files in the live generation — both racing writers' rows end up in
    * the table. `sleeper` is injectable so specs don't wait out the
    * schedule. */
  def loadWithRetry(mode: LoadMode, t: TableRef, staged: DataFrame,
      idField: String = "id", maxRetries: Int = 4,
      sleeper: Long => Unit = Thread.sleep): Unit = {
    var retry = 0
    var done = false
    while (!done) {
      try { load(mode, t, staged, idField); done = true }
      catch { case e: ConcurrentWriteException =>
        if (retry >= maxRetries) throw e
        sleeper(graft.exec.RetryingTxnRunner.backoffMs(retry))
        retry += 1
      }
    }
  }

  /** All retained version ids, oldest first (the fixed-width millis
    * prefix makes lexicographic order chronological). The write path
    * retains exactly {current, previous}, so this is the time-travel
    * horizon: one generation back. */
  def versions(t: TableRef): Seq[String] =
    fs.listStatus(new Path(tableDir(t)))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v_")).sorted.toSeq

  /** Time-travel read of a specific retained version (ids from
    * [[versions]]); the CURRENT pointer is untouched — this is a read,
    * not a rollback. */
  def tableAt(t: TableRef, version: String): DataFrame = {
    require(versions(t).contains(version),
      s"version $version not retained for ${t.qualified} " +
        s"(have: ${versions(t).mkString(",")})")
    spark.read.option("mergeSchema", "true")
      .parquet(s"${tableDir(t)}/$version")
  }

  /** Roll the CURRENT pointer back to the previous retained version (the
    * load-went-bad escape hatch; the bad version stays on disk until the
    * next commit's retention pass). */
  def rollback(t: TableRef): Unit = withCommitLockFenced(t) { fence =>
    val cur = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: ${t.qualified}"))
    val prev = versions(t).filter(_ != cur).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no previous version retained for ${t.qualified}"))
    fence()
    setVersion(t, prev)
  }

  /** VACUUM (the `VACUUM ... RETAIN 0` analog): immediately delete every
    * retained version EXCEPT current, reclaiming the previous
    * generation's storage at the cost of the rollback/time-travel
    * horizon. The write path already bounds retention at one generation
    * ([[commitNewVersion]]); this is the explicit storage-reclaim hook
    * for tables whose previous version is large and no longer needed. */
  def vacuum(t: TableRef): Unit = {
    val cur = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: ${t.qualified}"))
    versions(t).filter(_ != cur)
      .foreach(o => fs.delete(new Path(s"${tableDir(t)}/$o"), true))
  }

  /** Current version + its append-marker set + a read PINNED to it (one
    * resolution serves the rewrite input, the CAS expectation, and the
    * late-append check — the compact/zorder twin of the upsert path's
    * pinned base; markers listed before the file index, same ordering
    * argument). */
  private def pinnedRead(t: TableRef): (Option[String], Set[String], DataFrame) = {
    val v = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: ${t.qualified}"))
    val m0 = appendMarkers(t, v)
    (Some(v), m0, spark.read.option("mergeSchema", "true")
      .parquet(s"${tableDir(t)}/$v"))
  }

  /** Small-file compaction: rewrite the current version into `nFiles`
    * part files and swap the pointer. Incremental appends (L1) accumulate
    * one file set per load job; at warehouse scale the read cost of many
    * small parquet files dominates — periodic compaction is the standard
    * remedy. Atomic like every other version swap: readers see the old
    * file set until the pointer moves. */
  def compact(t: TableRef, nFiles: Int): Unit = {
    val (base, m0, df) = pinnedRead(t)
    commitNewVersion(t, df.repartition(nFiles), base, baseMarkers = Some(m0))
  }

  /** Z-order compaction (the OPTIMIZE ZORDER BY analog): rewrite the
    * current version clustered on the Morton interleave of two columns,
    * so file min/max stats prune range predicates on EITHER dimension
    * (see [[graft.operators.LayoutOps]]). Same atomic version swap as
    * [[compact]] — readers never see a half-written layout. */
  def compactZorder(t: TableRef, x: String, y: String, nFiles: Int,
      bits: Int = 16): Unit = {
    val (base, m0, df) = pinnedRead(t)
    commitNewVersion(t, graft.operators.LayoutOps.zorder(
      df, org.apache.spark.sql.functions.col(x),
      org.apache.spark.sql.functions.col(y), nFiles, bits), base,
      baseMarkers = Some(m0))
  }

  /** Path of the LIVE version's data directory (what [[table]] reads),
    * or None when the table has no live pointer — the listing target
    * for metadata-scale corpus statistics
    * ([[graft.io.ModelStore.corpusStat]]): the table ROOT also holds
    * the reader-grace generation, so statting it would double-count
    * every byte for the one commit after a rewrite. */
  def currentDataPath(t: TableRef): Option[String] =
    currentVersion(t).map(v => s"${tableDir(t)}/$v")

  /** Data files of the live version (for file-count/size accounting).
    * Recursive: partitioned tables keep their parquet parts inside
    * partition subdirectories. */
  def dataFiles(t: TableRef): Seq[String] = {
    val v = currentVersion(t).getOrElse(
      throw new IllegalArgumentException(s"no such table: ${t.qualified}"))
    val it = fs.listFiles(new Path(s"${tableDir(t)}/$v"), true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) out += n
    }
    out.result()
  }

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


  /** A version swap (or file-granular append) lost a concurrent-writer
    * race: the operation's contents were computed from a base that is no
    * longer the live version, so committing would silently drop the
    * winner's rows. The resolution is the reference's X2 loop — re-run
    * the load against the new current version (the retryable-conflict
    * class, like Redshift's serializable-isolation failure). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Age past which a `_COMMIT_LOCK` is presumed crashed and stolen: the
    * lock only ever guards a sub-second pointer check-and-swap, never a
    * data write, so 30 s is 2+ orders above any live hold. */
  val LockStaleMs: Long = 30000L
}
