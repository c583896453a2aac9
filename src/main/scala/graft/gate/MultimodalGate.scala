package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Multimodal rows: binary payload columns, metadata, decode, features,
  * resize and frame sampling. */
object MultimodalGate {
  def rows: Seq[GateRow] = Seq(
    // REAL nearest-neighbor resize on opaque payload bytes (16-wide
    // 8-bit raster -> 8x8 thumbnail, exact integer index map) — the
    // thumbnail kernel without a codec; digest + mean leave the scan.
    GateRow("multimodal_resize", { (s, dir) =>
      val df = MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text")
      MultimodalOps.resizeNearest(df, "doc_id", srcW = 16, dstW = 8, dstH = 8)
    }, oracle = MultimodalSql.multimodalResize),

    GateRow("multimodal_meta", ((s, dir) =>
      MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))),
      oracle = MultimodalSql.multimodalMeta),

    // Real end-to-end decode of the self-describing GRB1 raster format:
    // ENCODE a genuine binary payload (magic + u16 dims + pixel bytes),
    // then batch-DECODE it back — magic check, header parse, raster
    // read — and hash the decoded histogram. The oracle rebuilds the
    // identical raster at hex level, so a decoder bug (wrong endianness,
    // off-by-one header skip) breaks the hash.
    GateRow("multimodal_decode", ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withToyRaster(t(s, dir, "documents"), "text"), "doc_id")
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          md5(array_join(transform(col("hist"), v => v.cast("string")), ","))
            .as("hist_md5"))),
      oracle = MultimodalSql.multimodalDecode),

    // Binary-file ingestion end-to-end: stage each sampled doc's GRB1
    // payload as its OWN FILE (Ingest.writeBinaryFiles — executor-side
    // Hadoop FS writes, one object per asset like a media bucket), read
    // the directory back through the binaryFile source, parse ids from
    // paths, and decode. The oracle recomputes the same derivation from
    // the documents table, so a staging or listing bug breaks the hash.
    GateRow("binary_file_ingest", { (s, dir) =>
      val sample = MultimodalOps.withToyRaster(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0), "text")
      // Staged through the SAME job-scoped layout (and so the same C1-C5
      // cleanup policies) as every other staged body: jobTime scoped to
      // the corpus, uuid to the process — concurrent gates on one
      // machine each stage their own copy, no truncate-vs-lazy-read race
      // across JVMs, no cross-contamination between corpora.
      val writer = new graft.io.StagingWriter(s,
        s"${System.getProperty("java.io.tmpdir")}/graft_stage",
        graft.core.LoaderConfig(filePrefix = "graft/grb1"),
        jobTime = Integer.toHexString(dir.hashCode),
        uuid = s"p${ProcessHandle.current().pid()}")
      val staged = writer.writeBinaryBody(sample, "doc_id", "payload", 0, ".grb")
      val back = graft.io.Ingest.binaryFiles(s, staged.dir, Some("*.grb"))
        .select(
          regexp_extract(col("path"), "(\\d+)\\.grb$", 1).cast("long")
            .as("doc_id"),
          col("length").as("file_len"), col("content").as("payload"))
      back.select(col("doc_id"), col("file_len"))
        .join(MultimodalOps.decodeFeatures(back, "doc_id"), "doc_id")
        .select(col("doc_id"), col("file_len"), col("width"), col("height"),
          col("n_px"),
          md5(array_join(transform(col("hist"), v => v.cast("string")), ","))
            .as("hist_md5"))
    }, oracle = MultimodalSql.binaryFileIngest),

    // Feature extraction over the decoded raster (normalized histogram):
    // scalar summary columns only — the driver sorts rows before
    // hashing, and pandas can't sort array cells.
    GateRow("multimodal_features", ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withToyRaster(t(s, dir, "documents"), "text"), "doc_id")
        .select(col("doc_id"), lit(MultimodalOps.FeatureDim).as("dim"),
          round(element_at(col("hist"), 1).cast("double") /
            col("n_px").cast("double"), 9).as("f_first"),
          round(aggregate(
            transform(col("hist"), v =>
              v.cast("double") / col("n_px").cast("double")),
            lit(0.0), (a, x) => a + x), 6).as("f_l1"))),
      oracle = MultimodalSql.multimodalFeatures),

    // ---- multimodal frame sampling (oracle-checked via frame lengths:
    // the sliced payload bytes themselves are summarized as octet counts
    // so the output stays scalar) ----
    GateRow("multimodal_frames", ((s, dir) =>
      MultimodalOps.frameSample(
        MultimodalOps.withBinaryColumn(t(s, dir, "documents"), "text"),
        "doc_id", frameBytes = 256, every = 2)
        .select(col("doc_id"), col("frame_no"),
          octet_length(col("frame_bytes")).as("frame_len"))),
      oracle = MultimodalSql.multimodalFrames),
  )
}

/** DuckDB oracle builders that only the multimodal rows use. */
object MultimodalSql {

  /** GRB1 raster pixels, rebuilt at hex level with the SAME derivation
    * as MultimodalOps.withToyRaster (dims from text length, pixels tile
    * the utf-8 hex + trailing space), then bucketed by high nibble —
    * what decodeFeatures' raster histogram computes after parsing the
    * binary header. Shared by multimodal_decode / multimodal_features. */
  private def grb1Ctes(where: String = "TRUE"): String =
    s"""d AS (SELECT doc_id, hex(encode(text)) || '20' AS hsrc,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents
      |  WHERE $where),
      |dims AS (SELECT doc_id, CAST(n % 13 + 4 AS INTEGER) AS w,
      |  CAST(n % 11 + 3 AS INTEGER) AS h, hsrc FROM d),
      |pix AS (SELECT doc_id, w, h, CAST(w * h AS BIGINT) AS npx,
      |  rpad(hsrc, 2 * w * h, hsrc) AS ph FROM dims),
      |byt AS (SELECT doc_id, ('0x' || substr(ph, 2 * i - 1, 1))::INTEGER AS bucket
      |  FROM (SELECT doc_id, ph, unnest(generate_series(1, npx)) AS i FROM pix)),
      |cnt AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM byt GROUP BY doc_id, bucket),
      |grid AS (SELECT doc_id, unnest(generate_series(0, 15)) AS bucket FROM pix),
      |fh AS (SELECT g.doc_id, g.bucket, coalesce(cnt.c, 0) AS c
      |  FROM grid g LEFT JOIN cnt ON g.doc_id = cnt.doc_id AND g.bucket = cnt.bucket),
      |hist AS (SELECT doc_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY bucket) AS hs
      |  FROM fh GROUP BY doc_id)""".stripMargin

  /** Decoded GRB1 header + raster-histogram digest
    * (MultimodalOps.decodeFeatures on withToyRaster payloads). */
  val multimodalDecode: String =
    s"""WITH ${grb1Ctes()}
       |SELECT p.doc_id, p.w AS width, p.h AS height, p.npx AS n_px,
       |  md5(h.hs) AS hist_md5
       |FROM pix p JOIN hist h ON p.doc_id = h.doc_id""".stripMargin

  /** Planted-file ingestion (Ingest.writeBinaryFiles → binaryFiles →
    * decode): the GRB1 derivation restricted to the planted sample;
    * file_len = 8-byte header + raster. */
  val binaryFileIngest: String =
    s"""WITH ${grb1Ctes("doc_id % 50 = 0")}
       |SELECT p.doc_id, 8 + p.npx AS file_len, p.w AS width, p.h AS height,
       |  p.npx AS n_px, md5(h.hs) AS hist_md5
       |FROM pix p JOIN hist h ON p.doc_id = h.doc_id""".stripMargin

  /** Normalized-histogram features over the decoded raster; the L1 fold
    * adds the 16 features in bucket order (absent buckets exact 0.0). */
  val multimodalFeatures: String =
    s"""WITH ${grb1Ctes()}
       |SELECT f.doc_id, 16 AS dim,
       |  round(CAST(max(CASE WHEN f.bucket = 0 THEN f.c END) AS DOUBLE)
       |    / CAST(max(p.npx) AS DOUBLE), 9) AS f_first,
       |  round(list_reduce(
       |    list(CAST(f.c AS DOUBLE) / CAST(p.npx AS DOUBLE) ORDER BY f.bucket),
       |    (a, b) -> a + b), 6) AS f_l1
       |FROM fh f JOIN pix p ON f.doc_id = p.doc_id
       |GROUP BY f.doc_id""".stripMargin

  /** Nearest-neighbor payload resize (MultimodalOps.resizeNearest,
    * srcW=16 → 8x8): same floor index map over the hex-pair raster. */
  val multimodalResize: String =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS h,
      |    octet_length(encode(text)) AS n FROM documents),
      |f AS (SELECT doc_id, h, n // 16 AS src_h FROM d WHERE n >= 16),
      |px AS (SELECT doc_id, i,
      |    ('0x' || substr(h,
      |      CAST((((i // 8) * src_h) // 8) * 16 + ((i % 8) * 16) // 8 AS INT) * 2 + 1,
      |      2))::INT AS v
      |  FROM f, (SELECT unnest(range(0, 64)) AS i) g)
      |SELECT doc_id, 8 AS dst_w, 8 AS dst_h,
      |  md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS raster_md5,
      |  CAST(SUM(v) AS DOUBLE) / CAST(64 AS DOUBLE) AS mean_px
      |FROM px GROUP BY doc_id""".stripMargin

  /** Binary payload metadata (MultimodalOps.withBinaryColumn): utf-8
    * byte length drives the deterministic fake dimensions. */
  val multimodalMeta: String =
    """SELECT doc_id, 'fake/rgb8' AS format,
      |  CAST((octet_length(encode(text)) % 640) + 16 AS INTEGER) AS width,
      |  CAST(((octet_length(encode(text)) * 7) % 480) + 16 AS INTEGER) AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |FROM documents""".stripMargin

  /** Frame sampling lengths: every 2nd 256-byte chunk of the utf-8
    * payload; Spark `sequence` includes its stop, DuckDB `range`
    * excludes it — hence the +1. */
  val multimodalFrames: String =
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
      |f AS (SELECT doc_id, len,
      |  unnest(range(0, greatest(CAST(len // 256 AS BIGINT) - 1, 0) + 1, 2)) AS frame_no
      |  FROM d)
      |SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
      |  CAST(least(256, len - frame_no * 256) AS INTEGER) AS frame_len
      |FROM f""".stripMargin
}
