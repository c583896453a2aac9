package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning at scale.
  *
  * A 100 TB table is read through file-level min/max statistics: a filter
  * prunes a file only if the filtered column is *clustered* within files.
  * Sorting clusters one column perfectly and leaves the others scattered;
  * Z-ordering (Morton-code interleaving) trades a little locality on each
  * dimension for locality on ALL of them, so `WHERE user_id = ? AND day
  * BETWEEN ? AND ?` prunes on both predicates. (Same layout idea as
  * Delta/Iceberg `ZORDER BY` / sort-order rewrites; implemented here as a
  * plain range-repartition + sort on the interleaved key, so it composes
  * with any parquet writer.)
  *
  * The reference has no layout surface at all (it ships bytes to Redshift
  * and delegates physical layout to the warehouse — SURVEY.md §2); this is
  * a north-star extension.
  */
object LayoutOps {

  /** 2-D Morton (Z-order) code: interleaves the low `bits` bits of two
    * non-negative integer columns, x in the even positions, y in the odd.
    * Pure shift/mask integer arithmetic — stays inside whole-stage
    * codegen, no UDF. Inputs are masked to `bits` bits so out-of-range
    * values wrap instead of corrupting high bits. */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(xm, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The matching SQL text for [[zValue2]] (DuckDB dialect: `>>`/`<<`
    * on BIGINT are logical for non-negative values) — generated from the
    * same loop so the two sides cannot drift. */
  def zValue2Sql(x: String, y: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    val xm = s"(CAST($x AS BIGINT) & $mask)"
    val ym = s"(CAST($y AS BIGINT) & $mask)"
    (0 until bits).map { i =>
      s"((($xm >> $i) & 1) << ${2 * i}) | ((($ym >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")
  }

  /** Hilbert-curve index (the [[graft.expressions.HilbertIndex2D]]
    * codegen walk): consecutive indexes are always 4-adjacent cells, so
    * range-partitioned files get tighter bounding boxes than Morton's
    * corner jumps allow. */
  def hilbert2(x: Column, y: Column, bits: Int = 16): Column =
    org.apache.spark.sql.graftshim.GraftColumns.column(
      graft.expressions.HilbertIndex2D(
        org.apache.spark.sql.graftshim.GraftColumns.expression(x.cast("long")),
        org.apache.spark.sql.graftshim.GraftColumns.expression(y.cast("long")),
        bits))

  /** SQL twin of [[hilbert2]], generated from the same recurrence so the
    * two sides cannot drift: one chained CTE per level carrying the
    * rotated (x, y) state and the accumulated distance. Returns the CTE
    * list (to splice after a source CTE named `srcCte` that exposes
    * `carryCols`, `xcol`, `ycol`) and the name of the final CTE, whose
    * `hd` column is the Hilbert index. */
  def hilbert2SqlCtes(srcCte: String, xcol: String, ycol: String,
      carryCols: Seq[String], bits: Int = 16): (String, String) = {
    val mask = (1L << bits) - 1
    val carry = carryCols.mkString(", ")
    val first =
      s"""h0 AS (SELECT $carry, (CAST($xcol AS BIGINT) & $mask) AS hx,
         |  (CAST($ycol AS BIGINT) & $mask) AS hy, CAST(0 AS BIGINT) AS hd
         |  FROM $srcCte)""".stripMargin
    val levels = (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h${k + 1} AS (SELECT $carry,
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $s - 1 - hy ELSE hy END) ELSE hx END AS hx,
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $s - 1 - hx ELSE hx END) ELSE hy END AS hy,
         |  hd + $s * $s * xor(3 * $rx, $ry) AS hd
         |  FROM h$k)""".stripMargin
    }
    ((first +: levels).mkString(",\n"), s"h$bits")
  }

  /** N-dimensional Morton code: bit `i` of dimension `d` lands at
    * position `i * k + d` (k = number of dims). `bits * k` must fit a
    * positive long. [[zValue2]] is the k=2 special case. */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    val k = dims.size
    require(k >= 2 && bits >= 1 && bits * k <= 63,
      s"need 2+ dims and bits*dims <= 63, got $k dims x $bits bits")
    val mask = (1L << bits) - 1
    val masked = dims.map(_.cast("long").bitwiseAND(lit(mask)))
    (for { i <- 0 until bits; (c, d) <- masked.zipWithIndex } yield
      shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * k + d))
      .reduce(_ bitwiseOR _)
  }

  /** SQL twin of [[zValueN]], generated from the same loop. */
  def zValueNSql(dims: Seq[String], bits: Int): String = {
    val k = dims.size
    val mask = (1L << bits) - 1
    val masked = dims.map(d => s"(CAST($d AS BIGINT) & $mask)")
    (for { i <- 0 until bits; (c, d) <- masked.zipWithIndex } yield
      s"((($c >> $i) & 1) << ${i * k + d})")
      .mkString("(", ") | (", ")")
  }

  /** Rewrite `df` into Z-order on two dimensions: range-partition by the
    * Morton code into `numFiles` output partitions, then sort within each
    * so row groups inside a file are tiles too. Every output partition
    * covers a compact 2-D tile of (x, y) space, so file min/max stats
    * prune on either dimension. The z column is dropped before handing
    * back — layout is a side effect of partition order, not schema. */
  def zorder(df: DataFrame, x: Column, y: Column, numFiles: Int,
      bits: Int = 16): DataFrame = {
    val z = zValue2(x, y, bits).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** [[zorder]] with the Hilbert key ([[hilbert2]]) instead of the
    * Morton code: same range-partition + in-partition sort, tighter
    * per-file bounding boxes (the curve never jumps cells). */
  def hilbertOrder(df: DataFrame, x: Column, y: Column, numFiles: Int,
      bits: Int = 16): DataFrame =
    df.withColumn("__h", hilbert2(x, y, bits))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")

  /** Per-file [min, max] of a numeric column, read from parquet FOOTERS
    * only — no data pages touched. This is the metadata a table format's
    * manifest (Delta/Iceberg) persists; here it is read directly so the
    * skipping mechanics are inspectable. Row-group statistics are folded
    * per file. Returns (file, min, max) as doubles (covers int/long/
    * float/double columns). Driver-side loop over footers: fine at
    * manifest scale; use [[parquetFileStatsDistributed]] when the file
    * count is large enough that a serial footer loop is the bottleneck. */
  def parquetFileStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, column: String): Seq[(String, Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    listParquet(conf, dir).map(f => footerStats(conf, f, column))
  }

  /** Distributed variant of [[parquetFileStats]]: list ONCE on the
    * driver (manifest-scale — a few strings per file), fan the footer
    * reads out over an RDD, and collect only the (file, min, max)
    * triples. At millions of files the serial driver loop above is the
    * bottleneck; here each task opens its own slice of footers and the
    * driver never holds more than the stats themselves. Identical
    * result to the driver-side path (spec-asserted). */
  def parquetFileStatsDistributed(spark: org.apache.spark.sql.SparkSession,
      dir: String, column: String, slices: Int = 0): Seq[(String, Double, Double)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val paths = listParquet(hconf, dir)
    if (paths.isEmpty) return Seq.empty
    val ser = new graft.core.SerializableHadoopConf(hconf)
    val n = math.max(1, if (slices > 0) slices
      else math.min(paths.length, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths, n)
      .mapPartitions { it =>
        val conf = ser.value
        it.map(f => footerStats(conf, f, column))
      }
      .collect().toSeq.sortBy(_._1)
  }

  private def listParquet(conf: org.apache.hadoop.conf.Configuration,
      dir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
  }

  /** Fold one file's row-group statistics for `column` into a
    * (file, min, max) triple — footer bytes only, no data pages. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: String, column: String): (String, Double, Double) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import scala.jdk.CollectionConverters._
    val meta = ParquetFileReader.readFooter(conf, new Path(file),
      ParquetMetadataConverter.NO_FILTER)
    val ranges = meta.getBlocks.asScala.flatMap { block =>
      block.getColumns.asScala
        .filter(_.getPath.toDotString == column)
        .flatMap { cc =>
          val st = cc.getStatistics
          if (st == null || !st.hasNonNullValue) None
          else Some((toDouble(st.genericGetMin),
            toDouble(st.genericGetMax)))
        }
    }
    require(ranges.nonEmpty, s"no stats for $column in $file")
    (file, ranges.map(_._1).min, ranges.map(_._2).max)
  }

  private def toDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"non-numeric parquet statistic: ${other.getClass}")
  }

  /** The subset of files a `column BETWEEN lo AND hi` scan must read,
    * decided purely from footer statistics — the file-skipping step that
    * makes [[zorder]] pay off: after Z-ordering, BOTH interleaved
    * dimensions have tight per-file ranges, so either predicate prunes. */
  def pruneFiles(stats: Seq[(String, Double, Double)],
      lo: Double, hi: Double): Seq[String] =
    stats.collect { case (f, mn, mx) if mx >= lo && mn <= hi => f }

  /** Per-file Bloom data-skipping index (the Delta/Iceberg bloom-index
    * mechanic) over an integral `column`: ONE distributed pass groups
    * rows by `_metadata.file_path` and folds each file's values into a
    * `BloomFilterAggregate` sketch — partials merge map-side, and the
    * driver ends up holding only (file, sketch-bytes), never row data.
    * Complements footer min/max stats: ranges prune sorted/clustered
    * columns, blooms prune POINT lookups on high-cardinality columns
    * min/max can't help with. */
  def buildFileBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, column: String,
      expectedItems: Long = 1L << 17, numBits: Long = 1L << 20)
      : Seq[(String, Array[Byte])] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.GraftColumns.{column => toCol, expression}
    graft.io.ParquetSchema.read(spark, dir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(toCol(new BloomFilterAggregate(
          expression(col(column).cast("long")),
          Literal(expectedItems), Literal(numBits))
        .toAggregateExpression()).as("bf"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      .toSeq.sortBy(_._1)
  }

  /** Files a `column = key` point lookup must read, per the Bloom index:
    * every file whose sketch might contain the key (false positives cost
    * a wasted file read, never a missed row). With a key-clustered
    * layout this is typically one file out of hundreds. */
  def pruneFilesByKey(index: Seq[(String, Array[Byte])], key: Long)
      : Seq[String] =
    index.collect { case (f, bytes)
      if org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(key) => f }
}
