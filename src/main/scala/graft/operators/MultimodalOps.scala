package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: media payloads
  * ride as opaque `binary` columns with a typed metadata struct; decode /
  * feature-extraction runs batch-wise over partitions.
  *
  * The container has no image/audio codecs, so the decodable format here
  * is GRB1, a self-describing toy raster (magic + big-endian u16 dims +
  * 8-bit grayscale pixels): [[withToyRaster]] ENCODES real binary
  * payloads and [[decodeFeatures]] genuinely DECODES them — magic check,
  * header parse, raster read, feature extraction — end-to-end, the same
  * code path a real codec would slot into.
  *
  * Scale design: payload bytes are only materialized inside the partition
  * iterator (`mapPartitions`), never shuffled — all wide transforms are on
  * the narrow metadata/feature columns. Batch size bounds peak memory per
  * task the same way Arrow batch size does for vectorized Python UDFs.
  */
object MultimodalOps {

  /** Attach a binary payload + deterministic metadata struct to each row
    * (here the "media" is the utf-8 bytes of a text column — the plumbing
    * is format-agnostic). Pure projection. */
  def withBinaryColumn(df: DataFrame, textCol: String): DataFrame = {
    val bytes = encode(col(textCol), "utf-8")
    val n = octet_length(bytes).cast("long")
    df.withColumn("payload", bytes)
      .withColumn("meta", struct(
        lit("fake/rgb8").as("format"),
        (n % 640 + 16).cast("int").as("width"),
        ((n * 7) % 480 + 16).cast("int").as("height"),
        n.as("n_bytes")))
  }

  val FeatureDim = 16

  /** GRB1 magic, "GRB1" in ASCII hex. Layout: 4-byte magic | u16 width
    * (big-endian) | u16 height | width·height 8-bit grayscale pixels. */
  val Grb1MagicHex = "47524231"

  /** ENCODE a real GRB1 binary payload per row: dimensions derive from
    * the text length (w ∈ [4,16], h ∈ [3,13]); pixels tile the utf-8
    * bytes of the text (padded with a trailing space so empty text still
    * tiles). Pure projection — hex-string assembly + one `unhex` — so
    * the DuckDB oracle rebuilds the identical raster at hex level. */
  def withToyRaster(df: DataFrame, textCol: String): DataFrame = {
    val n = octet_length(encode(col(textCol), "utf-8")).cast("long")
    df.withColumn("__w", (n % 13 + 4).cast("int"))
      .withColumn("__h", (n % 11 + 3).cast("int"))
      .withColumn("__hsrc",
        concat(hex(encode(col(textCol), "utf-8")), lit("20")))
      .withColumn("payload", unhex(concat(
        lit(Grb1MagicHex),
        lpad(hex(col("__w")), 4, "0"),
        lpad(hex(col("__h")), 4, "0"),
        expr("rpad(__hsrc, 2 * (__w * __h), __hsrc)"))))
      .withColumn("meta", struct(
        lit("graft/grb1").as("format"),
        col("__w").as("width"), col("__h").as("height"),
        octet_length(col("payload")).cast("long").as("n_bytes")))
      .drop("__w", "__h", "__hsrc")
  }

  /** Batch-wise REAL decode + feature extraction over partitions — the
    * Scala analogue of a vectorized (mapInPandas-style) UDF: rows are
    * pulled in batches of `batchSize`, each batch is decoded together,
    * and only the narrow header fields + histogram leave the iterator.
    *
    * The decoder is honest: it verifies the GRB1 magic (failing loudly
    * on foreign bytes), parses the big-endian dimensions, reads exactly
    * width·height raster bytes, and extracts a [[FeatureDim]]-bucket
    * pixel histogram. Returns `(id, width, height, n_px,
    * hist array<long>)` — counts, not ratios, so downstream derivations
    * (and the oracle hash) stay integer-exact. */
  def decodeFeatures(df: DataFrame, idCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val in = df.select(col(idCol).cast("long"), col("payload"))
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_px", LongType, nullable = false),
      StructField("hist", ArrayType(LongType, containsNull = false), nullable = false)))
    val rdd = in.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // One decode pass per batch (codec setup amortized across the
        // batch, like Arrow-batch Python UDFs).
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          require(bytes.length >= 8 &&
            bytes(0) == 'G' && bytes(1) == 'R' && bytes(2) == 'B' &&
            bytes(3) == '1',
            s"row $id: payload is not GRB1 (${bytes.take(4).mkString(",")})")
          val w = ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
          val h = ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
          // Long, not Int: 65535 x 65535 would overflow Int negative and
          // sail past the truncation guard with an empty histogram.
          val nPx = w.toLong * h
          require(bytes.length.toLong >= 8L + nPx,
            s"row $id: truncated raster (${bytes.length} bytes for $w x $h)")
          val hist = new Array[Long](FeatureDim)
          var i = 0
          val n = nPx.toInt // safe: bounded by bytes.length above
          while (i < n) {
            hist((bytes(8 + i) & 0xff) / (256 / FeatureDim)) += 1L
            i += 1
          }
          Row(id, w, h, nPx, hist.toIndexedSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for "video" payloads: every `every`-th fixed-size
    * chunk of the payload becomes a frame row (id, frame_no, frame_bytes).
    * Pure projection + explode — the payload is sliced, never shuffled
    * whole. */
  def frameSample(df: DataFrame, idCol: String, frameBytes: Int, every: Int): DataFrame = {
    val nFrames = floor(octet_length(col("payload")) / lit(frameBytes)).cast("int")
    df.select(col(idCol),
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(every))).as("frame_no"),
        col("payload"))
      .select(col(idCol), col("frame_no"),
        expr(s"substring(payload, frame_no * $frameBytes + 1, $frameBytes)").as("frame_bytes"))
  }

  /** Sliding-window chunking for "audio" payloads: windows of
    * `windowBytes` advancing by `strideBytes` (overlapping when stride <
    * window — the ASR-style segmentation shape). Emits (id, chunk_idx,
    * chunk_off, chunk_len); the last chunk is short. Integer arithmetic
    * only, so it oracles exactly; the payload itself is sliced lazily by
    * downstream consumers (same pattern as [[frameSample]]) and never
    * shuffled whole. */
  def audioChunks(df: DataFrame, idCol: String,
      windowBytes: Int, strideBytes: Int): DataFrame = {
    require(strideBytes > 0 && windowBytes >= strideBytes,
      s"need windowBytes >= strideBytes > 0, got $windowBytes/$strideBytes")
    val len = octet_length(col("payload")).cast("long")
    // ceil(len / stride) chunks: every offset k*stride < len.
    val nChunks = ((len + strideBytes - 1) / strideBytes).cast("long")
    df.select(col(idCol), len.as("__len"),
        explode(sequence(lit(0L), greatest(nChunks - 1, lit(0L)))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * strideBytes).as("chunk_off"),
        least(lit(windowBytes.toLong),
          col("__len") - col("chunk_idx") * strideBytes).as("chunk_len"))
      // len=0 payloads still explode one row (sequence(0,0)) with
      // chunk_len=0 — drop it so chunk count is exactly ceil(len/stride).
      .filter(col("chunk_len") > 0)
  }

  /** REAL nearest-neighbor pixel resize on the opaque payload: the bytes
    * are read as a `srcW`-wide 8-bit grayscale raster (rows = n_bytes
    * div srcW, the tail partial row dropped) and sampled to dstW x dstH
    * with the standard floor(dst·src/dstDim) index map — the actual
    * kernel a thumbnail pass runs, on real bytes, no codec needed. Pure
    * projection over exact integer arithmetic (byte values come from
    * hex-pair parsing, index math is integer division of non-negative
    * ints — the double-division-then-truncate form equals `div` because
    * IEEE division is correctly rounded), so the DuckDB oracle
    * reproduces the resized raster bit-for-bit. Output keeps the
    * digest + exact mean, not the raster, so only narrow rows shuffle. */
  def resizeNearest(df: DataFrame, idCol: String,
      srcW: Int, dstW: Int, dstH: Int): DataFrame = {
    val hexs = hex(col("payload"))
    val srcH = (octet_length(col("payload")).cast("long") / srcW).cast("long")
    val px = transform(sequence(lit(0), lit(dstW * dstH - 1)), i => {
      val r = (i.cast("long") / dstW).cast("long")
      val c = pmod(i, lit(dstW)).cast("long")
      val srcR = ((r * col("__src_h")).cast("double") / dstH).cast("long")
      val srcC = ((c * srcW).cast("double") / dstW).cast("long")
      val idx = srcR * srcW + srcC
      conv(substring(col("__hex"), (idx * 2 + 1).cast("int"), lit(2)), 16, 10)
        .cast("int")
    })
    df.filter(octet_length(col("payload")) >= srcW)
      .withColumn("__hex", hexs).withColumn("__src_h", srcH)
      .withColumn("__px", px)
      .select(col(idCol), lit(dstW).as("dst_w"), lit(dstH).as("dst_h"),
        md5(array_join(transform(col("__px"), v => v.cast("string")), ","))
          .as("raster_md5"),
        (aggregate(col("__px"), lit(0L), (a, v) => a + v).cast("double") /
          lit((dstW * dstH).toDouble)).as("mean_px"))
  }

  /** Metadata-level "resize": recompute the declared dimensions; the
    * payload is untouched (a real resize happens inside decodeFeatures'
    * batch loop). */
  def resizeMeta(df: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h).cast("double"))
    df.withColumn("meta", struct(
      col("meta.format").as("format"),
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"),
      col("meta.n_bytes").as("n_bytes")))
  }
}
