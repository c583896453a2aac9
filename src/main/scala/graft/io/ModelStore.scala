package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{LoadMode, TableRef}

/** Persisted trained-artifact store — the train-once / search-many split a
  * 100 TB pipeline needs: BPE merge dictionaries, k-means coarse
  * quantizers, PQ codebooks and the coded ANN index are TRAINED STATE, not
  * query-time derivations. Each artifact lives as a versioned
  * [[ParquetWarehouse]] table (atomic commit, one-generation
  * time-travel, vacuum), keyed by a metadata fingerprint of the corpus
  * files it was trained on — retrain happens exactly when the corpus
  * actually changed, never because a new session started.
  *
  * Scale notes:
  *   - Artifacts are broadcast-sized by construction (vocabulary /
  *     centroid / codebook tables) or corpus-projections (the PQ coded
  *     index: m small codes per vector, the whole memory point of PQ) —
  *     reading them back is a metadata-scale or columnar-scan cost,
  *     never a retraining cost.
  *   - The fingerprint is Hadoop FS `listStatus` metadata (path, length,
  *     mtime) — no data pass. Immutable-file stores (S3, HDFS append-only
  *     layouts) make this exact; a rewritten file changes length/mtime.
  *   - Training is serialized per (corpus, artifact) key within the JVM;
  *     cross-JVM racers both produce the same deterministic artifact, so
  *     last-writer-wins is benign (the reference's X2 retry owns true
  *     multi-writer serialization on the target warehouse).
  *
  * The reference has no model state at all (it is a load orchestrator —
  * SURVEY.md §2.7); this is north-star extension surface.
  */
final class ModelStore(spark: SparkSession, val root: String) {

  private val wh = new ParquetWarehouse(spark, root)

  private def ref(name: String, corpusFp: String): TableRef =
    TableRef("models", s"${name}__$corpusFp")

  /** Read-or-train: returns the persisted artifact, training and
    * committing it first iff absent for this corpus fingerprint. The
    * returned frame is a plain parquet read — downstream plans see a
    * small scan, not the training lineage. */
  def getOrTrain(name: String, corpusFp: String)(train: => DataFrame): DataFrame = {
    val r = ref(name, corpusFp)
    ModelStore.keyLock(s"$root/${r.qualified}").synchronized {
      if (!wh.exists(r)) wh.create(r, train)
    }
    wh.table(r)
  }

  /** Explicit retrain: commits a NEW version of the artifact (previous
    * generation stays readable via [[ParquetWarehouse.tableAt]] until the
    * next commit's retention pass — model rollback for free). */
  def retrain(name: String, corpusFp: String)(train: => DataFrame): DataFrame = {
    val r = ref(name, corpusFp)
    ModelStore.keyLock(s"$root/${r.qualified}").synchronized {
      if (wh.exists(r)) wh.load(LoadMode.TruncateInsert, r, train)
      else wh.create(r, train)
    }
    wh.table(r)
  }

  def exists(name: String, corpusFp: String): Boolean = exists0(ref(name, corpusFp))
  private def exists0(r: TableRef): Boolean = wh.exists(r)

  // ---- drift-threshold retrain policy -----------------------------------

  /** The per-artifact policy row behind [[getOrTrainDrifted]]: which
    * fingerprint is being SERVED and how big the corpus was when that
    * generation trained. `__meta` is not a 16-hex fingerprint suffix,
    * so [[gc]]'s shape check never sweeps it. */
  private def metaRef(name: String): TableRef =
    TableRef("models", s"${name}__meta")

  /** Drift-threshold read-or-train — the committed retrain policy for
    * continuously-ingesting corpora. [[getOrTrain]] keys strictly on
    * the corpus fingerprint, which for an append-only corpus is
    * all-or-nothing: EVERY appended batch moves the fingerprint, so a
    * streaming caller either retrains per batch (corpus-scale work on
    * a batch-scale event) or pins a frozen fingerprint and drifts
    * forever (the measured 100× collapse: per-probe 2.8 → 61 ms,
    * recall@5 0.338 → 0.013 against 1×-trained centroids —
    * `SCALING.md`, round 16's weak mark). This entry point serves the
    * artifact trained at the last retrain point until EITHER of two
    * listing-only signals (from the same listStatus pass as the
    * fingerprint — `stat`, no data read) exceeds `driftFactor` × the
    * bytes it was trained on, then retrains at the current fingerprint
    * and moves the policy row:
    *
    *   - GROWTH: live corpus data bytes — the r17 trigger;
    *   - CHURN: cumulative bytes of NEW-IDENTITY files observed since
    *     the trained point (each call diffs the live listing's
    *     (path, length, mtime) keys against the last observed set and
    *     accrues the fresh files' bytes into the policy row). This
    *     covers the axis the growth trigger is blind to: a
    *     steady-state-size, upsert-heavy corpus whose CONTENT drifts —
    *     bytes never cross the growth budget, but every rewritten file
    *     is churn, so the policy retrains once per `driftFactor`
    *     corpus-rewrites of fresh data. The signal is PHYSICAL new
    *     bytes: where a store rewrites files (this warehouse's
    *     compaction and fold) it upper-bounds logical churn — the
    *     retrain is then amortized against rewrite I/O the pipeline
    *     already paid — while file-granular writes (this warehouse's
    *     Insert and Upsert) track logical turnover.
    *
    * Consequences, all intended:
    *
    *   - retrains happen on size OR churn decades (factor 2 ⇒ log₂
    *     retrains over a corpus's lifetime on either axis), matching
    *     how auto-C/auto-R degrade — quantizer quality is a function
    *     of relative, not absolute, change;
    *   - a SINGLE compaction/rewrite (bytes ≈ const) still never
    *     retrains at the default factor 2 — one full rewrite is 1×
    *     churn, inside the budget; only a second full rewrite (which
    *     is indistinguishable metadata-only from full content
    *     replacement, so retraining is the correct conservative
    *     choice) crosses it;
    *   - shrinkage (heavy dedup) retrains only via the churn its
    *     rewrite generates, never thrash;
    *   - a caller whose `stat` carries no file entries (legacy
    *     [[ModelStore.CorpusStat]] construction) gets the r17
    *     growth-only behavior — the churn trigger arms itself the
    *     first time entries flow.
    *
    * Concurrency: ONE logical writer per (store root, artifact name)
    * remains the contract ([[gc]]/[[ParquetWarehouse.vacuum]]'s
    * single-maintainer rule), but each meta read-modify-write is a
    * compare-and-set ([[ParquetWarehouse.update]]): it commits only while
    * the meta version it decided on is live, else it decides again. Two
    * processes sharing a root can still both train (the same
    * deterministic artifact — wasted work), but a serve-path churn
    * accumulation cannot resurrect over a concurrent retrain's reset, and
    * a reset cannot drop churn observed in between. A steady serve writes
    * nothing.
    *
    * Callers that gc must keep [[servedFingerprint]] in `liveFps` —
    * the served generation can be arbitrarily old by design. */
  def getOrTrainDrifted(name: String, stat: ModelStore.CorpusStat,
      driftFactor: Double = ModelStore.DriftRetrainFactor)(
      train: => DataFrame): DataFrame = {
    require(driftFactor >= 1.0, s"driftFactor $driftFactor < 1 would retrain on shrink-only")
    val mr = metaRef(name)
    ModelStore.keyLock(s"$root/${mr.qualified}").synchronized {
      val liveKeys = stat.fileEntries
      // Fresh-identity bytes vs a baseline listing: live files whose
      // key the last observed listing did not contain. Diff over
      // driver-side key sets — listing-scale (one Long per file),
      // never a data read.
      def freshBytes(m: Meta): Long =
        if (m.seenKeys.nonEmpty && liveKeys.nonEmpty)
          liveKeys.iterator.filterNot(e => m.seenKeys.contains(e._1))
            .map(_._2).sum
        else 0L
      // Phase 1: decide; the serve path's accumulator update commits
      // only over the meta version that justified it.
      val decision: Option[String] = wh.update(mr) { df =>
        df.map(readMeta) match {
          // Serve the trained generation while growth AND accumulated
          // churn stay inside the drift budget (and the artifact still
          // exists — a gc'd or dropped artifact forces a fresh train).
          case Some(m)
              if exists(name, m.fp) &&
                stat.bytes.toDouble <= driftFactor * m.trainedBytes &&
                (m.churn + freshBytes(m)).toDouble <=
                  driftFactor * m.trainedBytes =>
            val newBytes = freshBytes(m)
            // Persist the churn accumulator + observed listing iff new
            // identities appeared (or the trigger is arming for the
            // first time) — steady state stays a read-only serve path.
            val write = newBytes > 0 || (m.seenKeys.isEmpty && liveKeys.nonEmpty)
            (Option.when(write)(metaRows(m.fp, m.trainedBytes, m.trainedFiles,
              m.churn + newBytes, liveKeys)), Some(m.fp))
          case _ => (None, None)
        }
      }
      val serveFp = decision.getOrElse {
        // Phase 2: train (fingerprint-keyed and idempotent), then reset
        // the policy row unless a racer already published this fingerprint.
        getOrTrain(name, stat.fp)(train)
        wh.update(mr) { df =>
          (Option.unless(df.map(readMeta).exists(_.fp == stat.fp))(
            metaRows(stat.fp, stat.bytes, stat.files, 0L, liveKeys)), ())
        }
        stat.fp
      }
      wh.table(ref(name, serveFp))
    }
  }

  private case class Meta(fp: String, trainedBytes: Long,
      trainedFiles: Long, churn: Long, seenKeys: Set[Long])

  /** Policy row + last observed file-identity keys from the `__meta`
    * table — ONE table, one atomic commit per update, so the
    * accumulator and its baseline listing can never be torn by a crash.
    * Legacy single-row (fp, bytes, files) metas read as churn 0 / no
    * keys (the r17 growth-only behavior until entries flow). */
  private def readMeta(df: DataFrame): Meta =
    if (!df.columns.contains("kind")) {
      val r = df.select("fp", "bytes", "files").head()
      Meta(r.getString(0), r.getLong(1), r.getLong(2), 0L, Set.empty)
    } else {
      val p = df.filter(org.apache.spark.sql.functions.col("kind") === "policy")
        .select("fp", "bytes", "files", "churn").head()
      val keys = df.filter(org.apache.spark.sql.functions.col("kind") === "fkey")
        .select("fkey").collect().map(_.getLong(0)).toSet
      Meta(p.getString(0), p.getLong(1), p.getLong(2), p.getLong(3), keys)
    }

  private def metaRows(fp: String, bytes: Long, files: Long, churn: Long,
      seen: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    (("policy", fp, bytes, files, churn, 0L) +:
      seen.map { case (k, _) => ("fkey", fp, 0L, 0L, 0L, k) })
      .toDF("kind", "fp", "bytes", "files", "churn", "fkey")
  }

  /** Fingerprint the drift policy currently serves for `name` (None
    * before the first train). Include in [[gc]]'s `liveFps`: the served
    * generation is old by design between retrain points. */
  def servedFingerprint(name: String): Option[String] =
    wh.update(metaRef(name))(df => (None, df.map(readMeta(_).fp)))

  /** Retained version ids of an artifact (oldest first). */
  def versions(name: String, corpusFp: String): Seq[String] =
    wh.versions(ref(name, corpusFp))

  def drop(name: String, corpusFp: String): Unit = wh.drop(ref(name, corpusFp))

  /** Artifact GC: drop every stored artifact whose corpus fingerprint is
    * not in `liveFps`. Fingerprints key the store, so every corpus
    * change (a file added, compacted, rewritten) strands a full
    * `<name>__<oldfp>` generation — at 100 TB the coded ANN index alone
    * is a corpus-sized projection, so orphans are real storage. Callers
    * pass the fingerprints of the corpora they still serve (e.g.
    * `ModelStore.fingerprint(spark, paths)` per live corpus); everything
    * else is reclaimed. Tables without a `__<16-hex-fp>` suffix are left
    * alone (the shape check keeps foreign tables that merely contain
    * `__` out of the sweep). Returns a [[ModelStore.GcReport]]: the
    * dropped (name, fp) pairs PLUS the stale-but-skipped-as-concurrent
    * ones — without the second list, a pass whose every candidate fell
    * inside the skew margin (retrain-then-immediately-gc, the spec's
    * own pattern) is indistinguishable from nothing-to-collect, and
    * the caller would never learn a follow-up offline pass is owed.
    *
    * Concurrency contract: gc is an OFFLINE maintenance pass, like
    * [[ParquetWarehouse.vacuum]] — run it when no trainer is mid-flight
    * on a fingerprint outside `liveFps`; it cannot protect a reader that
    * already holds a lazy frame over a table gc is about to drop. The
    * per-key lock plus the in-lock re-checks below close the two
    * in-JVM races the lock alone did not: a trainer that (re)created
    * the table after our listing (its live record's mtime postdates gc
    * start → skip) and a concurrent drop (no live version → skip,
    * nothing to reclaim). */
  def gc(liveFps: Set[String],
      skewMarginMs: Long = ModelStore.GcSkewMarginMs): ModelStore.GcReport = {
    val gcStart = System.currentTimeMillis()
    val dropped = Seq.newBuilder[(String, String)]
    val skipped = Seq.newBuilder[(String, String)]
    val hexFp = "[0-9a-f]{16}"
    wh.tables("models").foreach { t =>
      val sep = t.table.lastIndexOf("__")
      if (sep > 0 && t.table.substring(sep + 2).matches(hexFp)) {
        val (name, fp) = (t.table.substring(0, sep), t.table.substring(sep + 2))
        if (!liveFps.contains(fp)) {
          ModelStore.keyLock(s"$root/${t.qualified}").synchronized {
            // Re-check under the lock: only drop a table whose live
            // version still exists AND predates this gc pass by a clear
            // margin. getOrTrain commits the record last
            // (after its data), so any concurrently-created generation
            // has commit time >= gcStart — but the record's mtime comes
            // from the STORE's clock (NameNode, object store) at
            // whatever granularity it keeps (whole seconds on some
            // filesystems), while gcStart is this JVM's clock. The
            // skew margin makes "predates" robust to both: a commit
            // landing within a minute of gcStart is treated as
            // concurrent and skipped (the next offline gc pass, the
            // documented contract, reclaims it).
            val cutoff = gcStart - skewMarginMs
            val mtime = wh.versionMtime(t)
            if (mtime.exists(_ < cutoff)) {
              wh.drop(t)
              dropped += ((name, fp))
            } else if (mtime.isDefined) {
              // Stale fingerprint but commit time inside the skew
              // margin: treated as concurrent, owed to the next pass.
              skipped += ((name, fp))
            }
          }
        }
      }
    }
    ModelStore.GcReport(dropped.result(), skipped.result())
  }
}

object ModelStore {

  /** What a [[ModelStore.gc]] pass did: `dropped` was reclaimed;
    * `skippedConcurrent` is stale (fingerprint not live) but committed
    * within the skew margin of gc start, so this pass deferred it —
    * non-empty means a later offline pass is owed, NOT that the store
    * is clean. */
  final case class GcReport(dropped: Seq[(String, String)],
      skippedConcurrent: Seq[(String, String)])

  /** Clock-skew margin for [[ModelStore.gc]]'s drop-safety re-check:
    * the live record's mtime is assigned by the storage system's
    * clock at its granularity; a generation committed within this
    * margin of gc start is treated as concurrent and kept. One minute
    * covers second-granularity filesystems plus realistic NTP drift. */
  val GcSkewMarginMs: Long = 60000L

  /** Bump when the TRAINING semantics of any stored artifact change:
    * fingerprints key on corpus bytes only, so a semantic change to a
    * trainer must invalidate previously-persisted artifacts or stale
    * models would silently serve old results. */
  val FormatVersion = 1

  /** Default artifact warehouse root: override with GRAFT_MODEL_ROOT
    * (e.g. an object-store URI on a real cluster). Format-versioned —
    * see [[FormatVersion]]. */
  def defaultRoot: String = sys.env.getOrElse("GRAFT_MODEL_ROOT",
    s"${System.getProperty("java.io.tmpdir")}/graft_model_warehouse/v$FormatVersion")

  def apply(spark: SparkSession, root: String = defaultRoot): ModelStore =
    new ModelStore(spark, root)

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def keyLock(k: String): Object =
    locks.computeIfAbsent(k, _ => new Object)

  /** What one listStatus pass over a corpus yields: the identity
    * fingerprint plus the size signals the drift-threshold policy
    * compares ([[ModelStore.getOrTrainDrifted]]). `fileEntries` is the
    * per-file identity (64-bit key over path|length|mtime, data bytes)
    * the churn trigger diffs — one Long pair per file (≈16 MB driver
    * memory per million files), still listing-only. An empty seq
    * (legacy construction) disables the churn axis. */
  final case class CorpusStat(fp: String, bytes: Long, files: Long,
      fileEntries: Seq[(Long, Long)] = Nil)

  /** Growth factor past the trained corpus size at which
    * [[ModelStore.getOrTrainDrifted]] retrains: 2 ⇒ retrain at 2×, 4×,
    * 8×… the trained bytes — one retrain per size decade (log₂), the
    * cadence at which auto-C/auto-R quantizer geometry actually moves. */
  val DriftRetrainFactor: Double = 2.0

  /** Metadata fingerprint of the corpus files an artifact is trained on:
    * md5 over the sorted (path, length, mtime) triples of every data file
    * under the given paths. Listing-only — no data is read. */
  def fingerprint(spark: SparkSession, paths: Seq[String]): String =
    corpusStat(spark, paths).fp

  /** [[fingerprint]] plus total data bytes/files from the SAME listing
    * pass — the drift-policy input. Listing-only; a file whose name, or
    * a directory between it and its path, starts with `_` or `.` (commit
    * records, checksums) is not data. A warehouse table's directory also
    * holds files waiting for retention: stat its
    * [[ParquetWarehouse.liveFiles]] instead. */
  def corpusStat(spark: SparkSession, paths: Seq[String]): CorpusStat = {
    val conf = spark.sessionState.newHadoopConf()
    val (present, absent) = paths.map(new Path(_))
      .partition(p => p.getFileSystem(conf).exists(p))
    corpusStat(present.flatMap { p =>
      val fs = p.getFileSystem(conf)
      val base = fs.makeQualified(p).toUri.getPath
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filterNot { st =>
        (st.getPath.toUri.getPath.stripPrefix(base).split('/') :+ st.getPath.getName)
          .exists(n => n.startsWith("_") || n.startsWith("."))
      }
    }, absent.map(p => s"$p|absent"))
  }

  /** [[corpusStat]] over given files, e.g. a warehouse table's
    * [[ParquetWarehouse.liveFiles]]; `absent` marks paths that did not
    * exist. */
  def corpusStat(files: Seq[FileStatus], absent: Seq[String] = Nil): CorpusStat = {
    val entries = files.map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
    CorpusStat(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex((entries ++ absent).sorted.mkString("\n")).take(16),
      files.map(_.getLen).sum, files.size.toLong,
      entries.zip(files).map { case (e, st) => (entryKey(e), st.getLen) })
  }

  /** Stable 63-bit identity key of one file's (path, length, mtime)
    * entry — md5-derived so it is reproducible across JVMs/sessions
    * (String.hashCode is only 32-bit and JVM-pinned by spec, but 63
    * md5 bits keep accidental collisions at ~n²/2⁶³). */
  private[io] def entryKey(entry: String): Long =
    java.lang.Long.parseUnsignedLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(entry).take(15), 16)
}
