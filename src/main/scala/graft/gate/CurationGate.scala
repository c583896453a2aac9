package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Web-curation rows: HTML cleaning, boilerplate scrub, URL
  * canonicalization, domain caps, PII scrub, and the heuristic and
  * trained quality gates. */
object CurationGate {
  def rows: Seq[GateRow] = Seq(
    // Per-LANGUAGE quality gating: each language keeps its docs above its
    // OWN p40 quality threshold — quality distributions differ across
    // languages, so one global cutoff over- or under-prunes (the standard
    // per-language calibration). Exact interpolated percentile, broadcast
    // thresholds, corpus scanned once.
    GateRow("quality_gate_by_lang", { (s, dir) =>
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      val thr = scored.groupBy(col("lang"))
        .agg(percentile(col("q"), lit(0.4)).as("q40"))
      scored.join(broadcast(thr), "lang")
        .filter(col("q") >= col("q40"))
        .select(col("doc_id"), col("lang"))
    }, oracle = CurationSql.qualityGateByLang),

    // End-to-end WEB pipeline, oracle-checked as one query: planted
    // markup+footer pages -> HTML strip -> corpus-frequency boilerplate
    // scrub -> quality gate on the cleaned text -> per-source yield
    // (docs + BPE token budget). The round-5 cleaning ops composed the
    // way a crawl-ingest job runs them.
    GateRow("web_pipeline", { (s, dir) =>
      import graft.functions.TextFunctions
      val cleaned = webCleaned(s, dir)
      val scrubbed = TextOps.boilerplateScrubText(cleaned, "doc_id", "text",
          BoilerTileWidth, BoilerMinDf, Some(webBoilerDict(s, dir)))
        .select(col("doc_id"), col("clean_text").as("text"))
      scrubbed
        .filter(TextFunctions.qualityScore(col("text")) >= WebQualityMin)
        .join(cleaned.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.bpeTokenCount(col("text")).cast("long"))
            .as("total_tokens"))
    }, oracle = CurationSql.webPipeline(BoilerFooter, BoilerTileWidth,
      BoilerMinDf, WebQualityMin, graft.functions.TextFunctions.BpeTokenRe)),

    // PII card-number scan with Luhn validation (regex alone
    // false-positives on arbitrary 16-digit runs): every 11th doc gets a
    // Luhn-valid planted number, every 13th an invalid one — only the
    // valid ones count as findings; output keeps just the masked tail.
    GateRow("pii_luhn_cards", { (s, dir) =>
      import graft.functions.TextFunctions
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit(" card 4539148803436467")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" card 4539148803436468")).otherwise(lit("")))
          .as("text"))
      planted
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[0-9]{16}"), lit(0)))
            .as("num"))
        .select(col("doc_id"), col("num"),
          TextFunctions.luhnValid(col("num")).as("ok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
          max(when(col("ok"), concat(lit("****"), substring(col("num"), 13, 4))))
            .as("masked"))
    }, oracle = CurationSql.piiLuhnCards),

    // HTML stripping on a planted-markup corpus: even docs get wrapped in
    // tags + entities, the cleaner recovers text (+ the unescaped link
    // text); odd docs pass through untouched.
    GateRow("clean_html", { (s, dir) =>
      import graft.functions.TextFunctions
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<div class=\"post\"><p>"), col("text"),
            lit("</p>&nbsp;<a href=\"#\">Read&amp;more</a></div>")))
          .otherwise(col("text")).as("html"))
      planted.select(col("doc_id"),
        length(col("html")).as("n_raw"),
        md5(TextFunctions.cleanHtml(col("html"))).as("clean_md5"),
        length(TextFunctions.cleanHtml(col("html"))).as("n_clean"))
    }, oracle = CurationSql.cleanHtml),

    // Line-level boilerplate removal (C4/RefinedWeb cleaning pass) on a
    // planted corpus: every document gets the same 20-token footer, the
    // scrub detects tiles shared by >= minDf docs and reconstructs each
    // document from its surviving tiles.
    GateRow("boilerplate_scrub", { (s, dir) =>
      TextOps.boilerplateScrub(plantedBoilerCorpus(s, dir), "doc_id", "text",
        BoilerTileWidth, BoilerMinDf, Some(plantedBoilerDict(s, dir)))
    }, oracle = CurationSql.boilerplateScrub(BoilerFooter, BoilerTileWidth, BoilerMinDf)),

    // The dictionary-training half of the scrub as its own oracle-checked
    // query (the bpe_train_dict / pq_train_codebooks pattern): every tile
    // of the planted footer crosses minDf, nothing organic does at
    // df >= 20, and the oracle replays the identical tile construction.
    GateRow("boilerplate_dict_train", { (s, dir) =>
      TextOps.boilerplateDict(plantedBoilerCorpus(s, dir), "doc_id", "text",
        BoilerTileWidth, BoilerMinDf)
    }, oracle = CurationSql.boilerplateDictTrain(BoilerFooter, BoilerTileWidth, BoilerMinDf)),

    // URL canonicalization — the key derivation for URL-level exact
    // dedup (every crawl pipeline's first pass). Pure regexp projection.
    GateRow("url_canonicalize", { (s, dir) =>
      docsWithUrls(s, dir).select(col("doc_id"), col("url"),
        operators.CurationOps.canonicalizeUrl(col("url")).as("canonical_url"))
    }, oracle = CurationSql.urlCanonicalize),

    // URL-level exact dedup over the canonical form: the four surface
    // variants of every logical page converge to one canonical URL;
    // meaningful ?q= params survive and stay part of the key.
    GateRow("url_dedup", { (s, dir) =>
      docsWithUrls(s, dir)
        .select(col("doc_id"),
          operators.CurationOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_id"))
    }, oracle = CurationSql.urlDedup),

    // Per-domain cap (RefinedWeb source balancing): each source keeps
    // its DomainCap best docs by quality (ties by doc_id). The
    // rank-limit filter runs as WindowGroupLimit(Partial) below the
    // exchange — map-side pruning to O(domains * cap) per partition.
    GateRow("domain_cap_sample", { (s, dir) =>
      import graft.functions.TextFunctions
      // Score BEFORE ranking: with qualityScore(text) as the window
      // order expression the full text column would travel through the
      // domain exchange; projected to (id, domain, score) the shuffle
      // carries ~24 bytes/doc and column pruning reaches the scan.
      operators.CurationOps.domainCap(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            TextFunctions.qualityScore(col("text")).as("__q")),
          "doc_id", "source", col("__q"), DomainCap)
        .select(col("doc_id"), col("source"), col("rank_in_domain"))
    }, oracle = CurationSql.domainCapSample(DomainCap)),

    // The full crawl-curation pipeline as ONE DAG — the RefinedWeb
    // recipe end-to-end: URL-canonical dedup (cheapest filter first) →
    // boilerplate scrub against the PERSISTED dictionary artifact
    // (trained on the full corpus snapshot, applied to the kept subset —
    // the train-once/scrub-many split) → heuristic quality gate on the
    // scrubbed text → per-domain cap → per-source doc/token yield.
    // Token counts are computed per-doc BEFORE the domain window so the
    // rank exchange carries (id, source, q, n_toks), never text.
    GateRow("crawl_curation_pipeline", { (s, dir) =>
      import graft.functions.TextFunctions
      // keep is ids-only and feeds TWO branches (scrub input + the
      // source re-join) — materialize it once or the canonicalization
      // and keep-list aggregation run twice.
      val keep = docsWithUrls(s, dir)
        .select(col("doc_id"),
          operators.CurationOps.canonicalizeUrl(col("url")).as("cu"))
        .groupBy(col("cu")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).localCheckpoint(true)
      val kept = t(s, dir, "documents").join(keep, "doc_id")
        .select(col("doc_id"), col("source"),
          concat_ws(" ", col("text"), lit(BoilerFooter)).as("text"))
      val scrubbed = TextOps.boilerplateScrubText(
          kept.select(col("doc_id"), col("text")), "doc_id", "text",
          BoilerTileWidth, BoilerMinDf, Some(plantedBoilerDict(s, dir)))
        .select(col("doc_id"), col("clean_text"))
      val gated = scrubbed
        .join(kept.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("clean_text")).as("__q"),
          size(TextFunctions.tokens(col("clean_text"))).cast("long")
            .as("__ntok"))
        .filter(col("__q") >= WebQualityMin)
      operators.CurationOps.domainCap(gated, "doc_id", "source",
          col("__q"), DomainCap)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
    }, oracle = CurationSql.crawlCurationPipeline(BoilerFooter,
      BoilerTileWidth, BoilerMinDf, WebQualityMin, DomainCap)),

    GateRow("quality_filter", ((s, dir) =>
      // Keep only documents above the quality bar — the filter predicate
      // is the same pure projection the oracle recomputes.
      t(s, dir, "documents")
        .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= QualityMin)
        .select(col("doc_id"), col("lang"), col("source"))),
      oracle = CurationSql.qualityFilter(QualityMin)),

    // TRAINED quality model (fastText-shaped: hashed 1-/2-gram bag +
    // hard-sigmoid logistic regression, Q16 integer training — see
    // QualityModelOps): trains once on the spam-planted corpus (every
    // doc paired with a junk-appended copy at +20000000, label 0),
    // persists the weight table in the model store, returns it.
    GateRow("quality_train_model", { (s, dir) =>
      qualityWeights(s, dir).orderBy(col("bucket"))
    }, oracle = CurationSql.qualityTrainModel(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps)),

    // The trained gate applied to the planted corpus: per-doc Q16 score
    // under the persisted weights, kept = score >= 0. Label recovery is
    // the planted-spec contract; this query is the production shape
    // (read artifact, one feature join, one aggregation).
    GateRow("quality_model_filter", { (s, dir) =>
      val scored = QualityModelOps.scores(
        QualityModelOps.hashedFeatures(spamPlantedDocs(s, dir), "doc_id", "text"),
        qualityWeights(s, dir), "doc_id")
      scored.select(col("doc_id"), col("score"),
        when(col("score") >= 0, 1).otherwise(0).as("kept"))
    }, oracle = CurationSql.qualityModelFilter(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps)),

    // The SAMPLED training path: identical Q16 recurrence on the
    // deterministic pair-stable 1-in-QmSampleMod sample — the
    // bounded-cost twin for corpora where full-batch training dominates
    // (measured 208 s one-time at 1 M docs in the 100x ledger; sample
    // cost drops by the mod).
    GateRow("quality_train_sampled", { (s, dir) =>
      qualityWeightsSampled(s, dir).orderBy(col("bucket"))
    }, oracle = CurationSql.qualityTrainSampled(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps, QmSampleMod)),

    // The sampled-vs-full gate agreement MEASURED on the full corpus as
    // one row of integer counts (the ANN recall-contract pattern):
    // justifies the sampled path with a number, not a docstring claim.
    GateRow("quality_sampled_agreement", { (s, dir) =>
      // Feature-hash the corpus ONCE for both scorers (narrow
      // (id, features) rows; the shingle-once pattern).
      val feats = QualityModelOps.hashedFeatures(
        spamPlantedDocs(s, dir), "doc_id", "text").localCheckpoint(true)
      val full = QualityModelOps.scores(feats, qualityWeights(s, dir), "doc_id")
        .withColumnRenamed("score", "score_full")
      val smp = QualityModelOps.scores(feats, qualityWeightsSampled(s, dir), "doc_id")
        .withColumnRenamed("score", "score_sampled")
      full.join(smp, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score_full") >= 0, 1L).otherwise(0L)).as("n_kept_full"),
          sum(when(col("score_sampled") >= 0, 1L).otherwise(0L)).as("n_kept_sampled"),
          sum(when((col("score_full") >= 0) === (col("score_sampled") >= 0), 1L)
            .otherwise(0L)).as("n_agree"))
    }, oracle = CurationSql.qualitySampledAgreement(SpamTokens,
      QualityModelOps.NumBuckets, QmSteps, QmSampleMod), contract = true),

    // Corpus quality deciles — the "train on the top-N quality buckets"
    // primitive, via the distributed global ntile (no single-partition
    // window).
    GateRow("quality_deciles", { (s, dir) =>
      val scored = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      AnalyticOps.globalNtile(scored, 10,
        Seq(col("quality"), col("doc_id")), "decile")
        .select(col("doc_id"), col("decile"))
    }, oracle = CurationSql.qualityDeciles),

    GateRow("scrub_pii", { (s, dir) =>
      // Deterministically plant an email + phone per doc, then scrub both
      // (the real-corpus op; planted so the testdata exercises the regexes).
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact: user"), col("doc_id"), lit("@example.com tel +1-555-000"),
          col("doc_id") % 10000).as("text"))
      planted.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+?\\d[\\d-]{7,}", "<PHONE>").as("text_scrubbed"))
    }, oracle = CurationSql.scrubPii),

    // End-to-end corpus assembly pipeline, oracle-checked as a WHOLE:
    // mixture sample → exact dedup (min id per content hash) → quality
    // gate → per-source doc and token totals. The composability proof
    // for the LLM-pipeline operator family.
    GateRow("corpus_pipeline", { (s, dir) =>
      val rate = typedLit(Map("src0" -> 300L, "src2" -> 800L,
        "src3" -> 500L, "src4" -> 0L))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1000L))
      val kept = t(s, dir, "documents")
        .filter(h < coalesce(element_at(rate, col("source")), lit(1000L)))
      val dedup = kept.groupBy(md5(col("text")).as("__fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      kept.join(dedup, "doc_id")
        .filter(graft.functions.TextFunctions.qualityScore(col("text")) >=
          QualityMin)
        .select(col("source"),
          graft.functions.TextFunctions.bpeTokenCount(col("text"))
            .as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
    }, oracle = CurationSql.corpusPipeline(QualityMin,
      graft.functions.TextFunctions.BpeTokenRe)),
  )

  /** The web-pipeline crawl corpus after HTML strip (shared by the
    * pipeline query and its boilerplate-dictionary trainer). */
  private def webCleaned(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val raw = t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat_ws(" ",
        when(col("doc_id") % 2 === 0,
          concat(lit("<div class=\"post\"><p>"), col("text"),
            lit("</p>&nbsp;<a href=\"#\">Read&amp;more</a></div>")))
          .otherwise(col("text")),
        lit(BoilerFooter)).as("html"))
    raw.select(col("doc_id"), col("source"),
      TextFunctions.cleanHtml(col("html")).as("text"))
  }

  /** Corpus-frequency boilerplate dictionary artifacts (tile_hash, df) —
    * trained once per corpus snapshot, scrubbed-against many times
    * ([[TextOps.boilerplateDict]]); deterministic projections of
    * documents.parquet, so the corpus fingerprint keys them exactly. */
  private def webBoilerDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"boiler_dict_web_w${BoilerTileWidth}_df$BoilerMinDf",
      "documents")(TextOps.boilerplateDict(webCleaned(s, dir),
      "doc_id", "text", BoilerTileWidth, BoilerMinDf))

  private def plantedBoilerCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat_ws(" ", col("text"), lit(BoilerFooter)).as("text"))

  private def plantedBoilerDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"boiler_dict_planted_w${BoilerTileWidth}_df$BoilerMinDf",
      "documents")(TextOps.boilerplateDict(plantedBoilerCorpus(s, dir),
      "doc_id", "text", BoilerTileWidth, BoilerMinDf))

  /** Messy-URL synthesis shared by url_canonicalize / url_dedup: four
    * surface variants per logical page (doc_id div 4) — mixed-case
    * scheme/host with default port, missing www, trailing slash,
    * tracking params + fragment — and 1-in-5 pages carry a meaningful
    * `?q=` param that must SURVIVE canonicalization while the tracking
    * noise around it is stripped. The oracle rebuilds the identical
    * strings, so hash agreement proves the whole canonicalizer. */
  private def docsWithUrls(s: SparkSession, dir: String): DataFrame = {
    val p = expr("doc_id div 4")
    val hs = (p % 20).cast("string")
    val ps = p.cast("string")
    val keep = when(p % 5 === 0, concat(lit("?q=w"), (p % 7).cast("string")))
      .otherwise(lit(""))
    val base = concat(lit("https://www.src"), hs, lit(".example.com/page/"), ps)
    val v = col("doc_id") % 4
    val url = when(v === 0, concat(base, keep))
      .when(v === 1, concat(lit("HTTPS://WWW.Src"), hs,
        lit(".Example.COM:443/page/"), ps, keep))
      .when(v === 2, concat(lit("https://src"), hs,
        lit(".example.com/page/"), ps, lit("/"), keep))
      .otherwise(concat(base,
        when(keep === "", lit("?utm_source=feed&fbclid=f"))
          .otherwise(concat(keep, lit("&utm_source=feed&fbclid=f"))),
        ps, lit("#sec")))
    t(s, dir, "documents").select(col("doc_id"), url.as("url"))
  }

  /** Spam-planted training corpus for the trained quality model: every
    * document (label 1) paired with a junk-suffixed copy at
    * doc_id + 20000000 (label 0) — balanced classes, and the clean/spam
    * twins share their base text so non-spam feature buckets cancel
    * exactly in the first gradient step. */
  private[graft] def spamPlantedDocs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    base.unionByName(base.select(
      (col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" " + SpamTokens)).as("text")))
  }

  private[graft] def spamLabels(s: SparkSession, dir: String): DataFrame =
    spamPlantedDocs(s, dir).select(col("doc_id"),
      when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y"))

  /** Trained quality-gate weights artifact (bucket, w) — Q16 longs.
    * The planted spam lexicon is part of the training definition, so
    * its digest is part of the artifact key. */
  private def qualityWeights(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"quality_lr_d${QualityModelOps.NumBuckets}_s${QmSteps}_" +
          org.apache.commons.codec.digest.DigestUtils.md5Hex(SpamTokens)
            .take(8), "documents")(
      QualityModelOps.train(s,
        QualityModelOps.hashedFeatures(spamPlantedDocs(s, dir), "doc_id", "text"),
        spamLabels(s, dir), "doc_id", QmSteps))

  /** Deterministic pair-stable 1-in-[[QmSampleMod]] sample of the
    * spam-planted corpus: the sampling key is the BASE id
    * (doc_id % 20000000 — an original and its spam copy share it), so
    * the sample keeps whole label pairs and stays balanced. This is the
    * bounded-sample training path the 100x ledger motivates (full-batch
    * train measured 208 s one-time at 1 M docs; sample cost drops by
    * the mod while gate agreement is MEASURED in-gate, not assumed —
    * `quality_sampled_agreement`). */
  private def spamSampledDocs(s: SparkSession, dir: String): DataFrame =
    spamPlantedDocs(s, dir).filter(
      graft.functions.TextFunctions.hash60(
        (col("doc_id") % 20000000L).cast("string")) % QmSampleMod === 0)

  /** Sample-trained quality weights — identical recurrence, sampled
    * corpus, its own ModelStore artifact (the sample mod is part of the
    * training definition, so it is part of the key). */
  private def qualityWeightsSampled(s: SparkSession, dir: String): DataFrame =
    model(s, dir,
        s"quality_lr_d${QualityModelOps.NumBuckets}_s${QmSteps}_m${QmSampleMod}_" +
          org.apache.commons.codec.digest.DigestUtils.md5Hex(SpamTokens)
            .take(8), "documents")(
      QualityModelOps.train(s,
        QualityModelOps.hashedFeatures(spamSampledDocs(s, dir), "doc_id", "text"),
        spamSampledDocs(s, dir).select(col("doc_id"),
          when(col("doc_id") >= 20000000L, 0L).otherwise(1L).as("y")),
        "doc_id", QmSteps))

  // Quality scores on the synthetic corpus span ~0.195-0.385 (median
  // ~0.253): 0.26 keeps a nonempty ~30% subset, so the filter predicate
  // is genuinely exercised by the oracle gate (round-1 ADVICE).
  val QualityMin = 0.26

  // Trained quality model: gradient steps + the spam lexicon the bad
  // twins get suffixed with (lowercase ASCII — normalization-stable).
  val QmSteps = 6

  // Sampled-train path: 1-in-QmSampleMod pair-stable doc sample. 16 is
  // the measured knee of the cold-train sample curve at 1M planted docs
  // (QUALITY_SAMPLE_CURVE.json):
  // full 145.9s / 1-in-4 29.5s @ 99.9942% / 1-in-16 13.6s @ 99.9946% /
  // 1-in-64 12.1s @ 99.9300% keep-agreement vs the full model — 1-in-16
  // matches 1-in-4's agreement at 2.2x less train cost, and 1-in-64
  // buys almost nothing further while agreement drops 10x.
  val QmSampleMod = 16
  val SpamTokens = Seq.fill(4)(
    "buy cheap pills casino winner click free bonus prize deal")
    .mkString(" ")

  // Boilerplate scrub: 8-token tiles; a tile appearing in >= 20 distinct
  // docs is boilerplate. The planted footer lands in every doc, so its
  // interior tiles cross the threshold in every alignment class.
  val BoilerTileWidth = 8
  val BoilerMinDf = 20

  // web_pipeline quality gate over the SCRUBBED text (distribution
  // shifts vs the raw corpus once the footer is gone).
  val WebQualityMin = 0.25
  val BoilerFooter = "all rights reserved contact us at example dot com " +
    "terms of service apply subscribe to our newsletter for updates today"

  // Per-domain document cap (RefinedWeb-style source balancing).
  val DomainCap = 25
}

/** DuckDB oracle builders that only the curation rows use. */
object CurationSql {
  import graft.Oracles._
  import graft.functions.TextFunctions.StopEn

  /** End-to-end web pipeline (clean_html → boilerplate scrub → quality
    * gate → per-source yield), composed from the same stage SQL the
    * individual oracles use. */
  def webPipeline(footer: String, width: Int, minDf: Int,
      minQuality: Double, bpeRe: String): String =
    s"""WITH raw AS (SELECT doc_id, source,
       |    (CASE WHEN doc_id % 2 = 0
       |       THEN '<div class="post"><p>' || text ||
       |            '</p>&nbsp;<a href="#">Read&amp;more</a></div>'
       |       ELSE text END) || ' ' || '${q(footer)}' AS html
       |  FROM documents),
       |c AS (SELECT doc_id, source,
       |  trim(regexp_replace(
       |    replace(replace(replace(replace(replace(replace(
       |      regexp_replace(regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
       |        '</?[a-zA-Z!?][^>]*>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |    '\\s+', ' ', 'g')) AS text
       |  FROM raw),
       |t AS (SELECT doc_id, $norm AS nrm FROM c),
       |s2 AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM t),
       |tl AS (SELECT doc_id, i AS seg_idx,
       |    array_to_string(list_slice(tk, i * $width + 1, i * $width + $width), ' ') AS seg_text
       |  FROM s2, LATERAL (SELECT unnest(range(0, (len(tk) + ${width - 1}) // $width)) AS i) g),
       |h AS (SELECT doc_id, seg_idx, seg_text, ${hash60("seg_text")} AS hh FROM tl),
       |boiler AS (SELECT hh FROM (SELECT DISTINCT hh, doc_id FROM h)
       |  GROUP BY hh HAVING count(*) >= $minDf),
       |kept AS (SELECT * FROM h WHERE hh NOT IN (SELECT hh FROM boiler)),
       |rec AS (SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_idx) AS text
       |  FROM kept GROUP BY doc_id),
       |recon AS (SELECT c.doc_id, c.source, COALESCE(rec.text, '') AS text
       |  FROM c LEFT JOIN rec ON c.doc_id = rec.doc_id),
       |q AS (SELECT doc_id, source, text, ${toks("text")} AS tk FROM recon)
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '${q(bpeRe)}'))) AS BIGINT) AS total_tokens
       |FROM q
       |WHERE ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) >= $minQuality
       |GROUP BY source""".stripMargin

  /** Per-language quality gate (gate row `quality_gate_by_lang`):
    * textStats' quality expression, per-language p40 threshold. */
  val qualityGateByLang: String =
    s"""WITH t AS (SELECT doc_id, lang, ${toks("text")} AS tk FROM documents),
       |q AS (SELECT doc_id, lang,
       |  ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS q
       |  FROM t),
       |thr AS (SELECT lang, quantile_cont(q, 0.4) AS q40 FROM q GROUP BY lang)
       |SELECT q.doc_id, q.lang FROM q JOIN thr ON q.lang = thr.lang
       |WHERE q.q >= thr.q40""".stripMargin

  /** Luhn-validated card scan (TextFunctions.luhnValid on the planted
    * corpus): same integer fold — double every second digit from the
    * right, subtract 9 above 9, sum % 10. */
  val piiLuhnCards: String = {
    val luhn =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(num) + 1), i ->
        |      CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN substr(reverse(num), i, 1)::BIGINT * 2 > 9
        |          THEN substr(reverse(num), i, 1)::BIGINT * 2 - 9
        |          ELSE substr(reverse(num), i, 1)::BIGINT * 2 END
        |      ELSE substr(reverse(num), i, 1)::BIGINT END)),
        |    (a, x) -> a + x) % 10 = 0""".stripMargin
    s"""WITH d AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 11 = 0 THEN ' card 4539148803436467' ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 THEN ' card 4539148803436468' ELSE '' END
       |    AS text FROM documents),
       |n AS (SELECT doc_id, unnest(regexp_extract_all(text, '[0-9]{16}')) AS num FROM d),
       |v AS (SELECT doc_id, num, $luhn AS ok FROM n)
       |SELECT doc_id, count(*) AS n_candidates,
       |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       |  max(CASE WHEN ok THEN '****' || substr(num, 13, 4) END) AS masked
       |FROM v GROUP BY doc_id""".stripMargin
  }

  /** HTML cleaning (TextFunctions.cleanHtml on the planted-markup
    * corpus): tag strip, entity unescape (&amp; last), whitespace
    * collapse — replace() replaces all occurrences in both engines. */
  val cleanHtml: String =
    s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
       |    THEN '<div class="post"><p>' || text ||
       |         '</p>&nbsp;<a href="#">Read&amp;more</a></div>'
       |    ELSE text END AS html FROM documents),
       |c AS (SELECT doc_id, html,
       |  trim(regexp_replace(
       |    replace(replace(replace(replace(replace(replace(
       |      regexp_replace(regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
       |        '</?[a-zA-Z!?][^>]*>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |    '\\s+', ' ', 'g')) AS clean
       |  FROM d)
       |SELECT doc_id, length(html) AS n_raw,
       |  md5(clean) AS clean_md5, length(clean) AS n_clean
       |FROM c""".stripMargin

  /** Boilerplate scrub (TextOps.boilerplateScrub on the planted-footer
    * corpus): fixed-width token tiles, document-frequency threshold,
    * reconstruct from surviving tiles in order. Same hash60 tile keys
    * as the Spark side. */
  def boilerplateScrub(footer: String, width: Int, minDf: Int): String =
    s"""WITH d AS (SELECT doc_id, text || ' ' || '${q(footer)}' AS text FROM documents),
       |t AS (SELECT doc_id, $norm AS nrm FROM d),
       |s AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM t),
       |tl AS (SELECT doc_id, i AS seg_idx,
       |    array_to_string(list_slice(tk, i * $width + 1, i * $width + $width), ' ') AS seg_text
       |  FROM s, LATERAL (SELECT unnest(range(0, (len(tk) + ${width - 1}) // $width)) AS i) g),
       |h AS (SELECT doc_id, seg_idx, seg_text, ${hash60("seg_text")} AS hh FROM tl),
       |boiler AS (SELECT hh FROM (SELECT DISTINCT hh, doc_id FROM h)
       |  GROUP BY hh HAVING count(*) >= $minDf),
       |kept AS (SELECT * FROM h WHERE hh NOT IN (SELECT hh FROM boiler)),
       |ka AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean
       |  FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_tiles FROM h GROUP BY doc_id)
       |SELECT tot.doc_id AS doc_id, n_tiles,
       |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       |  md5(COALESCE(clean, '')) AS clean_md5
       |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id""".stripMargin

  /** Boilerplate-dictionary training (TextOps.boilerplateDict on the
    * planted-footer corpus): the document-frequency half of
    * [[boilerplateScrub]], surfaced as its own artifact table. */
  def boilerplateDictTrain(footer: String, width: Int, minDf: Int): String =
    s"""WITH d AS (SELECT doc_id, text || ' ' || '${q(footer)}' AS text FROM documents),
       |t AS (SELECT doc_id, $norm AS nrm FROM d),
       |s AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM t),
       |tl AS (SELECT doc_id,
       |    array_to_string(list_slice(tk, i * $width + 1, i * $width + $width), ' ') AS seg_text
       |  FROM s, LATERAL (SELECT unnest(range(0, (len(tk) + ${width - 1}) // $width)) AS i) g),
       |h AS (SELECT doc_id, ${hash60("seg_text")} AS tile_hash FROM tl)
       |SELECT tile_hash, count(*) AS df
       |FROM (SELECT DISTINCT tile_hash, doc_id FROM h)
       |GROUP BY tile_hash HAVING count(*) >= $minDf""".stripMargin

  /** Messy-URL synthesis + canonicalization CTE chain shared by
    * [[urlCanonicalize]]/[[urlDedup]] — byte-identical URL strings to
    * CurationGate.docsWithUrls, then the same no-lookaround regex steps as
    * CurationOps.canonicalizeUrl (RE2 here, Java regex there; DuckDB
    * regexp_replace needs the explicit 'g' Spark applies by default). */
  private val urlCtes: String =
    raw"""g AS (SELECT doc_id, doc_id // 4 AS p, (doc_id // 4) % 20 AS h,
       |    doc_id % 4 AS v FROM documents),
       |k AS (SELECT doc_id, p, h, v,
       |    CASE WHEN p % 5 = 0 THEN '?q=w' || CAST(p % 7 AS VARCHAR) ELSE '' END AS keep,
       |    'https://www.src' || CAST(h AS VARCHAR) || '.example.com/page/' ||
       |      CAST(p AS VARCHAR) AS base FROM g),
       |u AS (SELECT doc_id, CASE
       |    WHEN v = 0 THEN base || keep
       |    WHEN v = 1 THEN 'HTTPS://WWW.Src' || CAST(h AS VARCHAR) ||
       |      '.Example.COM:443/page/' || CAST(p AS VARCHAR) || keep
       |    WHEN v = 2 THEN 'https://src' || CAST(h AS VARCHAR) ||
       |      '.example.com/page/' || CAST(p AS VARCHAR) || '/' || keep
       |    ELSE base || CASE WHEN keep = '' THEN '?utm_source=feed&fbclid=f'
       |      ELSE keep || '&utm_source=feed&fbclid=f' END ||
       |      CAST(p AS VARCHAR) || '#sec' END AS url FROM k),
       |c1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag FROM u),
       |c2 AS (SELECT doc_id, url,
       |    lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth,
       |    regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
       |  FROM c1),
       |c3 AS (SELECT doc_id, url, scheme, auth AS host_raw,
       |    regexp_replace(regexp_replace(auth, '^(www\.)+', ''), '(:443|:80)$$', '') AS host,
       |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '') AS path,
       |    regexp_extract(rest, '(\?.*)$$', 1) AS query FROM c2),
       |c4 AS (SELECT doc_id, url, scheme, host_raw, host, path,
       |    regexp_replace(regexp_replace(
       |      regexp_replace(query, '&(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&]*', '', 'g'),
       |      '^\?(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&]*', '?', 'g'),
       |    '^\?&', '?', 'g') AS q3 FROM c3),
       |canon AS (SELECT doc_id, url, CASE WHEN scheme = '' OR host_raw = ''
       |    THEN url ELSE scheme || '://' || host || path ||
       |      CASE WHEN q3 IN ('?', '') THEN '' ELSE q3 END END AS canonical_url
       |  FROM c4)""".stripMargin

  val urlCanonicalize: String =
    s"""WITH $urlCtes
       |SELECT doc_id, url, canonical_url FROM canon""".stripMargin

  val urlDedup: String =
    s"""WITH $urlCtes
       |SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS keep_id
       |FROM canon GROUP BY canonical_url""".stripMargin

  /** Per-domain cap (CurationOps.domainCap over source, quality-ordered,
    * doc_id ties): textStats' quality expression verbatim. */
  def domainCapSample(cap: Int): String =
    s"""WITH t AS (SELECT doc_id, source, ${toks("text")} AS tk FROM documents),
       |q AS (SELECT doc_id, source,
       |    ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |      + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |      + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS quality
       |  FROM t),
       |r AS (SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank_in_domain
       |  FROM q)
       |SELECT doc_id, source, rank_in_domain FROM r WHERE rank_in_domain <= $cap""".stripMargin

  /** End-to-end crawl curation (gate row `crawl_curation_pipeline`):
    * URL-canonical keep list → footer corpus → full-corpus boilerplate
    * dictionary (the artifact, trained on ALL docs) → scrub the KEPT
    * subset against it → quality gate → per-source rank cap → yield. */
  def crawlCurationPipeline(footer: String, width: Int, minDf: Int,
      qMin: Double, cap: Int): String =
    s"""WITH $urlCtes,
       |keep AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
       |ad AS (SELECT doc_id, text || ' ' || '${q(footer)}' AS text FROM documents),
       |anrm AS (SELECT doc_id, $norm AS nrm FROM ad),
       |asp AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM anrm),
       |atl AS (SELECT doc_id,
       |    array_to_string(list_slice(tk, i * $width + 1, i * $width + $width), ' ') AS seg_text
       |  FROM asp, LATERAL (SELECT unnest(range(0, (len(tk) + ${width - 1}) // $width)) AS i) g2),
       |ah AS (SELECT doc_id, ${hash60("seg_text")} AS hh FROM atl),
       |boiler AS (SELECT hh FROM (SELECT DISTINCT hh, doc_id FROM ah)
       |  GROUP BY hh HAVING count(*) >= $minDf),
       |bd AS (SELECT ad.doc_id, d0.source, ad.text
       |  FROM ad JOIN keep USING (doc_id) JOIN documents d0 ON d0.doc_id = ad.doc_id),
       |bt AS (SELECT doc_id, $norm AS nrm FROM bd),
       |bs AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM bt),
       |btl AS (SELECT doc_id, i AS seg_idx,
       |    array_to_string(list_slice(tk, i * $width + 1, i * $width + $width), ' ') AS seg_text
       |  FROM bs, LATERAL (SELECT unnest(range(0, (len(tk) + ${width - 1}) // $width)) AS i) g3),
       |bh AS (SELECT doc_id, seg_idx, seg_text, ${hash60("seg_text")} AS hh FROM btl),
       |bkept AS (SELECT * FROM bh WHERE hh NOT IN (SELECT hh FROM boiler)),
       |bka AS (SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean
       |  FROM bkept GROUP BY doc_id),
       |cl AS (SELECT bd.doc_id, bd.source, COALESCE(bka.clean, '') AS clean
       |  FROM bd LEFT JOIN bka ON bd.doc_id = bka.doc_id),
       |qx AS (SELECT doc_id, source, ${toks("clean")} AS tk2, clean FROM cl),
       |qq AS (SELECT doc_id, source, len(tk2) AS ntok,
       |    ((0.4 * (CAST(${hits("tk2", StopEn)} AS DOUBLE) / CAST(len(tk2) AS DOUBLE)))
       |      + (0.3 * least(1.0, CAST(len(tk2) AS DOUBLE) / 200.0)))
       |      + (0.3 * (CAST(len(list_distinct(tk2)) AS DOUBLE) / CAST(len(tk2) AS DOUBLE))) AS qv
       |  FROM qx),
       |gated AS (SELECT * FROM qq WHERE qv >= $qMin),
       |rk AS (SELECT doc_id, source, ntok,
       |    row_number() OVER (PARTITION BY source ORDER BY qv DESC, doc_id) AS r
       |  FROM gated)
       |SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM rk WHERE r <= $cap GROUP BY source""".stripMargin

  /** Quality-bar filter: recomputes the identical parenthesized double
    * expression as TextFunctions.qualityScore. Threshold is passed in
    * from the single source of truth (CurationGate.QualityMin). */
  def qualityFilter(minQuality: Double): String =
    s"""WITH t AS (SELECT doc_id, lang, source, ${toks("text")} AS tk FROM documents)
       |SELECT doc_id, lang, source FROM t
       |WHERE ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) >= $minQuality""".stripMargin

  /** End-to-end corpus assembly (mixture sample → exact dedup → quality
    * gate → per-source token budget) — the composed form of
    * mixture_sample + dedup_exact + quality_filter + token_counts, so
    * the chain is oracle-checked as a WHOLE, not just per stage. */
  def corpusPipeline(minQuality: Double, bpeRe: String): String =
    s"""WITH kept AS (SELECT doc_id, source, text FROM documents
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 1000 <
       |    CASE source WHEN 'src0' THEN 300 WHEN 'src2' THEN 800
       |      WHEN 'src3' THEN 500 WHEN 'src4' THEN 0 ELSE 1000 END),
       |dd AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
       |d2 AS (SELECT k.doc_id, k.source, k.text
       |  FROM kept k JOIN dd ON k.doc_id = dd.doc_id),
       |q AS (SELECT doc_id, source, text, ${toks("text")} AS tk FROM d2),
       |fin AS (SELECT source,
       |  len(regexp_extract_all(text, '${q(bpeRe)}')) AS n_tokens
       |  FROM q
       |  WHERE ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    >= $minQuality)
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM fin GROUP BY source""".stripMargin

  /** PII scrub over deterministically planted email/phone. DuckDB
    * regexp_replace needs the 'g' flag; RE2 and Java agree on these
    * patterns. */
  val scrubPii: String =
    raw"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
         |        '@example.com tel +1-555-000' || CAST(doc_id % 10000 AS VARCHAR),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\+?\d[\d-]{7,}', '<PHONE>', 'g') AS text_scrubbed
         |FROM documents""".stripMargin

  /** Quality deciles via ntile over the identical double score. */
  val qualityDeciles: String =
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS tk FROM documents),
       |q AS (SELECT doc_id,
       |  ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS quality
       |FROM t)
       |SELECT doc_id, ntile(10) OVER (ORDER BY quality, doc_id) AS decile FROM q""".stripMargin

  /** Shared CTE prefix of the trained-quality-model oracles
    * (QualityModelOps): spam-planted corpus + labels, hashed 1-/2-gram
    * features, and the unrolled Q16 hard-sigmoid logistic-regression
    * chain w0..w`steps` — the SAME integer recurrence as
    * QualityModelOps.train, stage by stage (truncating `//` == Spark
    * `div`; every SUM cast to BIGINT so DuckDB's HUGEINT promotion
    * can't leak into the hash). */
  private def qualityModelCtes(spam: String, buckets: Int,
      steps: Int, p: String = "", sampleMod: Int = 1): String = {
    val stages = (1 to steps).map { t =>
      s"""${p}z$t AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS z
         |  FROM ${p}f f JOIN ${p}w${t - 1} w USING (bucket) GROUP BY f.doc_id),
         |${p}r$t AS (SELECT l.doc_id,
         |    LEAST(GREATEST(32768 + z // 4, 0), 65536) - l.y * 65536 AS r
         |  FROM ${p}z$t JOIN ${p}l l USING (doc_id)),
         |${p}g$t AS (SELECT bucket, CAST(SUM(f.x * r.r) AS BIGINT) AS g
         |  FROM ${p}f f JOIN ${p}r$t r USING (doc_id) GROUP BY bucket),
         |${p}w$t AS MATERIALIZED (SELECT w.bucket,
         |    w.w - COALESCE(g.g, 0) // (4 * (SELECT count(*) FROM ${p}l)) AS w
         |  FROM ${p}w${t - 1} w LEFT JOIN ${p}g$t g USING (bucket))""".stripMargin
    }.mkString(",\n")
    // sampleMod > 1: deterministic 1-in-mod doc sample, keyed on the
    // PAIR-STABLE base id (an original and its +20000000 spam copy
    // share doc_id % 20000000), so the sampled training corpus keeps
    // whole label pairs and stays balanced — mirrors CurationGate
    // .spamSampledDocs exactly.
    val sample = if (sampleMod <= 1) ""
    else s"""
       |  WHERE ${hash60("CAST(doc_id % 20000000 AS VARCHAR)")}
       |    % $sampleMod = 0""".stripMargin
    s"""${p}pc AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 20000000, text || ' ${q(spam)}' FROM documents)$sample),
       |${p}l AS (SELECT doc_id,
       |  CASE WHEN doc_id >= 20000000 THEN 0 ELSE 1 END AS y FROM ${p}pc),
       |${p}s0 AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
       |    AS tk FROM ${p}pc),
       |${p}gr AS (SELECT doc_id, unnest(tk) AS g FROM ${p}s0
       |  UNION ALL
       |  SELECT doc_id, unnest(CASE WHEN len(tk) <= 1 THEN tk
       |    ELSE list_transform(generate_series(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i + 1]) END) AS g FROM ${p}s0),
       |${p}f AS MATERIALIZED (
       |  SELECT doc_id, ${hash60("g")} % $buckets AS bucket,
       |    CAST(count(*) AS BIGINT) AS x FROM ${p}gr GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, -1 AS bucket, CAST(1 AS BIGINT) AS x FROM ${p}pc),
       |${p}w0 AS (SELECT i AS bucket, CAST(0 AS BIGINT) AS w FROM
       |  (SELECT unnest(generate_series(-1, ${buckets - 1})) AS i)),
       |$stages""".stripMargin
  }

  /** Trained quality-model weights (gate row `quality_train_model`). */
  def qualityTrainModel(spam: String, buckets: Int, steps: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps)}
       |SELECT bucket, w FROM w$steps""".stripMargin

  /** Trained gate applied to the planted corpus (gate row
    * `quality_model_filter`): Q16 score + kept flag. */
  def qualityModelFilter(spam: String, buckets: Int, steps: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps)},
       |sc AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS score
       |  FROM f JOIN w$steps w USING (bucket) GROUP BY f.doc_id)
       |SELECT doc_id, score,
       |  CASE WHEN score >= 0 THEN 1 ELSE 0 END AS kept
       |FROM sc""".stripMargin

  /** Sample-trained quality weights (gate row `quality_train_sampled`):
    * the identical Q16 recurrence trained on the deterministic
    * pair-stable 1-in-`sampleMod` doc sample — the bounded-sample scale
    * path for corpora where full-batch training cost dominates. */
  def qualityTrainSampled(spam: String, buckets: Int, steps: Int,
      sampleMod: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps, "", sampleMod)}
       |SELECT bucket, w FROM w$steps""".stripMargin

  /** Agreement of the sample-trained gate with the full-trained gate on
    * the FULL planted corpus (gate row `quality_sampled_agreement`):
    * one row of integer counts — the in-gate quality measurement that
    * justifies the sampled training path (same pattern as the ANN
    * recall-contract rows). */
  def qualitySampledAgreement(spam: String, buckets: Int, steps: Int,
      sampleMod: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps)},
       |${qualityModelCtes(spam, buckets, steps, "smp_", sampleMod)},
       |scf AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS score_full
       |  FROM f JOIN w$steps w USING (bucket) GROUP BY f.doc_id),
       |scs AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS score_sampled
       |  FROM f JOIN smp_w$steps w USING (bucket) GROUP BY f.doc_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN score_full >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept_full,
       |  CAST(SUM(CASE WHEN score_sampled >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept_sampled,
       |  CAST(SUM(CASE WHEN (score_full >= 0) = (score_sampled >= 0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |FROM scf JOIN scs USING (doc_id)""".stripMargin
}
