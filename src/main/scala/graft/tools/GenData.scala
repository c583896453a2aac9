package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.ParquetSchema

/** Deterministic synthetic-data generator for SCALE testing beyond the
  * driver-provided sf0.1 (TESTDATA.md): same schemas, same value
  * domains and similar distributions, any target scale factor —
  * `runMain graft.tools.GenData <outDir> <mult>` writes `mult`x the
  * sf0.1 row counts (mult=10 == "sf1").
  *
  * Everything is a pure column function of `spark.range` ids
  * (xxhash64-seeded) — no driver-side RNG state, so generation is
  * distributed, reproducible, and independent of partitioning. The
  * document vocabulary is lifted from the real sf0.1 corpus so text
  * statistics (token frequencies, tile dictionaries, shingle space)
  * stay comparable.
  *
  * NOT a replacement for the driver's testdata (the oracle gate keys on
  * those exact bytes) — this exists for SCALING.md's sf0.1 -> sf1
  * runtime-ratio measurements. */
object GenData {

  /** Bump on ANY change to the generated distributions (word/zipf
    * inverse-CDF, value ranges, row-count formulas): the stamp is
    * written to `<out>/_GEN_VERSION` and `run_scaling.sh` refuses to
    * reuse a cached scaled corpus whose stamp mismatches — otherwise a
    * ledger run after a generator fix would compare a fresh base scale
    * against a stale scaled corpus and measure the distribution change,
    * not scaling. */
  val GeneratorVersion = 2 // v2: zipf rank = floor(V^u), rank-1 head restored

  /** Uniform double in [0, 1) from (id, seed) — 20 bits of hash. */
  private def u(id: Column, seed: Int): Column =
    pmod(xxhash64(id, lit(seed)), lit(1048576L)).cast("double") / 1048576.0

  private def uniform(id: Column, seed: Int, lo: Double, hi: Double): Column =
    round(u(id, seed) * (hi - lo) + lo, 2)

  private def pick(id: Column, seed: Int, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*),
      (pmod(xxhash64(id, lit(seed)), lit(choices.size.toLong)) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_testdata/sf1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val zipfVocab = if (args.length > 3) args(3).toInt else 0
    val heapsBeta = if (args.length > 4) args(4).toDouble else 0.0
    val tables = if (args.length > 5) args(5).split(",").toSet else Set.empty[String]
    val spark =
      graft.ToolSession.local(graft.ToolSession.cpus(), logLevel = "WARN")
    try generate(spark, src, out, mult, zipfVocab, heapsBeta, tables)
    finally spark.stop()
  }

  /** `heapsBeta > 0` turns on DIVERSITY SCALING (requires zipfVocab > 0):
    * the lesson of the first 100x decade, named twice in SCALING.md, is
    * that a fixed-diversity generator saturates its value spaces and the
    * second decade then measures the GENERATOR's degeneracy, not the
    * operator (the jaccard fixture's shingle space saturated at ~30k and
    * df grew ∝ n; contiguous Supplier#%09d serials densify their digit
    * neighborhoods so edit-distance output grows ~log²n per row). Under
    * Heaps' law (V(n) = K·n^β, β ≈ 0.4-0.6 on real text) vocabulary
    * GROWS with the corpus, so:
    *   - the zipf vocabulary becomes V = round(zipfVocab · mult^β) —
    *     zipfVocab is the mult = 1 reference vocabulary;
    *   - supplier names hash-scatter over the full 9-digit space instead
    *     of counting up from 0, keeping digit-neighborhood density
    *     ∝ n/10⁹ (a real directory's name space widens with n; the
    *     ~n²·162/10⁹ expected cross-match count stays negligible until
    *     n ~ 10⁷, and s_suppkey — everything joins on it — is untouched).
    * `tables` non-empty restricts generation to the named tables (the
    * diversity-scaled ledger reads documents + supplier only; skipping a
    * 60M-row lineitem nobody reads is most of the wall). Both parameters
    * are part of the [[stamp]], so a cached corpus from different
    * settings is never silently reused. */
  def generate(spark: SparkSession, src: String, out: String, mult: Int,
      zipfVocab: Int = 0, heapsBeta: Double = 0.0,
      tables: Set[String] = Set.empty): Unit = {
    require(heapsBeta == 0.0 || zipfVocab > 0,
      "heapsBeta requires a zipf vocabulary (zipfVocab > 0)")
    val vocabEff =
      if (heapsBeta > 0) math.max(2L, math.round(
        zipfVocab * math.pow(mult.toDouble, heapsBeta)))
      else zipfVocab.toLong
    def want(name: String): Boolean = tables.isEmpty || tables(name)
    def w(df: DataFrame, name: String, parts: Int): Unit = if (want(name)) {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gendata] $name: ${ParquetSchema.read(spark, s"$out/$name.parquet").count()} rows")
    }
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrd = 150000L * mult
    val nLine = 600000L * mult
    val nEvt = 100000L * mult
    val nDoc = 5000L * mult
    val nEmb = 2000L * mult

    // Fixed-cardinality dims: copy verbatim (region/nation don't scale).
    if (want("region")) ParquetSchema.read(spark, s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
    if (want("nation")) ParquetSchema.read(spark, s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")

    val cust = spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25L)).cast("int").as("c_nationkey"),
      uniform(col("id"), 2, -999.99, 9999.99).as("c_acctbal"),
      pick(col("id"), 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    w(cust, "customer", 4 * mult / 10 + 1)

    val supp = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d",
        if (heapsBeta > 0) pmod(xxhash64(col("id"), lit(41)), lit(1000000000L))
        else col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit(4)), lit(25L)).cast("int").as("s_nationkey"),
      uniform(col("id"), 5, -999.99, 9999.99).as("s_acctbal"))
    w(supp, "supplier", 1)

    val adjectives = Seq("large", "small", "hot", "cold", "blue", "red",
      "green", "dark", "light", "heavy")
    val nouns = Seq("ring", "bolt", "screw", "plate", "gear", "wheel",
      "pipe", "valve", "wire", "rod")
    val part = spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(col("id"), 6, adjectives),
        pick(col("id"), 7, nouns)).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(8)), lit(25L)) + 1).cast("string"))
        .as("p_brand"),
      pick(col("id"), 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")).as("p_type"),
      (pmod(xxhash64(col("id"), lit(10)), lit(50L)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + col("id") % 1000 * 0.1 +
        pmod(xxhash64(col("id"), lit(11)), lit(100000L)) / 100.0, 2)
        .as("p_retailprice"))
    w(part, "part", 4 * mult / 10 + 1)

    // Orders over the 1995-01-01 .. 2001-08-01 day range (date-granular).
    val ordBase = to_timestamp(lit("1995-01-01"))
    val ord = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(12)), lit(nCust)).as("o_custkey"),
      pick(col("id"), 13, Seq("O", "O", "F", "F", "P")).as("o_orderstatus"),
      uniform(col("id"), 14, 1000.0, 500000.0).as("o_totalprice"),
      timestamp_add("DAY",
        pmod(xxhash64(col("id"), lit(15)), lit(2404L)).cast("int"), ordBase)
        .as("o_orderdate"),
      pick(col("id"), 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    w(ord, "orders", 8 * mult / 10 + 2)

    // Lineitem: ~4 lines/order via orderkey = id div 4 + spread, shipdate
    // = orderdate + 1..95 days (re-derived from the same day hash).
    val li0 = spark.range(nLine).select(
      col("id"),
      pmod(xxhash64(col("id"), lit(17)), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(18)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(19)), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(20)), lit(7L)) + 1).cast("int")
        .as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(21)), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      uniform(col("id"), 22, 900.0, 105000.0).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(23)), lit(11L)).cast("double") / 100.0)
        .as("l_discount"),
      (pmod(xxhash64(col("id"), lit(24)), lit(9L)).cast("double") / 100.0)
        .as("l_tax"),
      pick(col("id"), 25, Seq("N", "N", "A", "R")).as("l_returnflag"),
      pick(col("id"), 26, Seq("O", "F")).as("l_linestatus"))
    val li = li0.select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"),
      timestamp_add("DAY",
        (pmod(xxhash64(col("l_orderkey"), lit(15)), lit(2404L)) +
          pmod(xxhash64(col("id"), lit(27)), lit(95L)) + 1).cast("int"),
        ordBase).as("l_shipdate"))
    w(li, "lineitem", 16 * mult / 10 + 2)

    // Events: 30 days of 2024-01 at microsecond granularity, users are
    // a tenth of the customer count, value ~ |N(50, ~50)|-ish skew via
    // a squared uniform, props a tiny JSON.
    val evtBase = to_timestamp(lit("2024-01-01"))
    val evt = spark.range(nEvt).select(
      col("id").as("event_id"),
      timestamp_add("SECOND",
        pmod(xxhash64(col("id"), lit(28)), lit(2592000L)).cast("int"),
        evtBase).as("ts"),
      pmod(xxhash64(col("id"), lit(29)), lit(nCust / 10)).as("user_id"),
      pick(col("id"), 30, Seq("view", "click", "purchase", "signup",
        "error")).as("event_type"),
      round(u(col("id"), 31) * u(col("id"), 32) * 560.0, 4).as("value"),
      format_string("{\"k\": %d}",
        pmod(xxhash64(col("id"), lit(33)), lit(100L))).as("props"))
    w(evt, "events", 4 * mult / 10 + 1)

    // Documents: word salads. Default mode draws from the REAL sf0.1
    // vocabulary so token/tile/shingle statistics match the driver
    // corpus. `zipfVocab > 0` switches to a SYNTHETIC zipfian
    // vocabulary of that size: word rank r = V^u for hash-uniform
    // u ∈ [0,1) inverts the zipf(s≈1) CDF (H_r/H_V ≈ ln r / ln V), so
    // p(rank r) ∝ 1/r — the realistic-corpus regime (vocab ≫ docs,
    // long tail of rare words) where sub-quadratic candidate schemes
    // (shingle banding, posting lists) are honest rather than
    // degenerate. Words are "w<rank>"; everything stays a pure column
    // function of (id, position).
    val nWords = (pmod(xxhash64(col("id"), lit(34)), lit(41L)) + 30L)
    // floor, not ceil: pow(V,u) >= 1 always, so floor still yields a
    // valid rank and — unlike ceil — gives rank 1 (the zipf head,
    // p ≈ 1/ln V) its full mass. With ceil, rank 1 only occurred when
    // the 2^20-bucket hash was exactly 0 (p ≈ 1e-6) and the head's mass
    // leaked into rank 2+.
    def zipfWord(j: Column): Column =
      concat(lit("w"), least(lit(vocabEff),
        floor(pow(lit(vocabEff.toDouble),
          pmod(xxhash64(col("id"), j, lit(35)), lit(1048576L)).cast("double")
            / 1048576.0)).cast("long")).cast("string"))
    val wordAt: Column => Column = if (zipfVocab > 0) zipfWord else {
      val vocab = ParquetSchema.read(spark, s"$src/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .distinct().orderBy(col("w"))
        .collect().map(_.getString(0))
      require(vocab.nonEmpty, "sf0.1 documents vocabulary is empty?")
      val vocabArr = array(vocab.map(lit).toIndexedSeq: _*)
      j => element_at(vocabArr,
        (pmod(xxhash64(col("id"), j, lit(35)), lit(vocab.length.toLong)) + 1)
          .cast("int"))
    }
    val doc = spark.range(nDoc).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(1L), nWords), j =>
        wordAt(j)), " ").as("text"),
      pick(col("id"), 36, Seq("en", "en", "en", "de", "fr", "es", "zh"))
        .as("lang"),
      concat(lit("src"),
        pmod(xxhash64(col("id"), lit(37)), lit(20L)).cast("string"))
        .as("source"))
    w(doc.withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 2 * mult / 10 + 1)

    // Embeddings: 64-dim float vectors clustered around 10 label
    // centers (center +- noise), domain ~ [-0.58, 0.58] like sf0.1.
    val dims = sequence(lit(1), lit(64))
    val label = pmod(xxhash64(col("id"), lit(38)), lit(10L))
    val emb = spark.range(nEmb).select(
      col("id").as("vec_id"),
      transform(dims, d =>
        ((pmod(xxhash64(label, d, lit(39)), lit(1048576L)).cast("double")
            / 1048576.0 - 0.5) * 0.6 +
          (pmod(xxhash64(col("id"), d, lit(40)), lit(1048576L)).cast("double")
            / 1048576.0 - 0.5) * 0.5).cast("float")).as("embedding"),
      label.cast("int").as("label"))
    w(emb, "embeddings", 2 * mult / 10 + 1)
    // Version + parameter stamp LAST — a partially-written corpus
    // (crash mid-gen) never carries a valid stamp, so the reuse check
    // regenerates it. The stamp records the generation PARAMETERS too:
    // a cached corpus built at a different mult / source / vocab is as
    // wrong to reuse as one from an older generator. Written through
    // the Hadoop FS like every table above, so non-local out URIs
    // (hdfs://, s3a://) stamp correctly.
    val stampText = stamp(mult, src, zipfVocab, heapsBeta, tables)
    val p = new org.apache.hadoop.fs.Path(s"$out/_GEN_VERSION")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(p, true)
    try os.write((stampText + "\n").getBytes("UTF-8")) finally os.close()
    println(s"[gendata] wrote ${out} at ${mult}x sf0.1 ($stampText)")
  }

  /** Stamp line `_GEN_VERSION` carries: generator version + the exact
    * generation parameters. `run_scaling.sh` rebuilds the expected line
    * from its own arguments and regenerates on ANY mismatch. The heaps /
    * tables suffixes appear only when non-default, so stamps written by
    * older rounds' default-mode corpora still compare equal. */
  def stamp(mult: Int, src: String, zipfVocab: Int,
      heapsBeta: Double = 0.0, tables: Set[String] = Set.empty): String =
    s"v$GeneratorVersion mult=$mult src=$src zipf=$zipfVocab" +
      (if (heapsBeta > 0) s" heaps=$heapsBeta" else "") +
      (if (tables.nonEmpty) s" tables=${tables.toSeq.sorted.mkString(",")}" else "")
}
