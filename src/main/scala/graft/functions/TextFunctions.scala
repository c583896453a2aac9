package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis primitives for large-scale training-data
  * pipelines (north-star extensions; the reference itself has no scalar
  * function library — SURVEY.md §2.7).
  *
  * Every function here is a pure projection built from codegen'd Spark SQL
  * functions — no UDFs, no shuffles — so they stay inside whole-stage
  * codegen and scale linearly with the scan. Each has an exactly-equivalent
  * DuckDB formulation (used by the gate oracle SQL in [[graft.gate]]):
  * hashes derive from `md5` hex (identical in both engines) and all float
  * arithmetic is written as explicitly-parenthesized double ops so both
  * engines execute the same IEEE sequence.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword pre-tokenization regex: letter runs, digit runs,
    * and single punctuation marks — the coarse split BPE tokenizers apply
    * before merges. Valid in both Java regex and RE2 (DuckDB oracle). */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token count under the BPE-ish pre-tokenizer (LLM-budget estimator:
    * counts subword units rather than whitespace words). Codegen'd
    * match counting ([[graft.expressions.RegexpCountAll]]) — the
    * `size(regexp_extract_all(...))` form materializes every match just
    * to take the list's length. */
  def bpeTokenCount(text: Column): Column =
    graft.expressions.GraftFunctions.regexpCount(text, BpeTokenRe)

  /** Count of tokens that appear in `words` (a small reference list).
    * Codegen'd set probe ([[graft.expressions.StringSetHitCount]]) —
    * the `size(filter(toks, t -> array_contains(dict, t)))` form runs
    * an interpreted lambda per token. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    graft.expressions.GraftFunctions.hitCount(toks, words)

  /** Small per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately tiny: language ID at 100 TB must
    * stay a pure projection. */
  val StopEn = Seq("the", "a", "an", "and", "of", "to", "in", "is", "that", "it", "for", "on")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu", "den", "von")
  val StopFr = Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour", "pas", "des")
  val StopEs = Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "que", "por", "con")

  /** Count of CJK codepoints (zh detector). */
  def cjkCount(text: Column): Column =
    length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))

  /** Heuristic language ID: CJK presence → zh, else argmax of stopword
    * hits with a fixed tie-break chain (en ≥ de ≥ es ≥ fr). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = hitCount(toks, StopEn)
    val de = hitCount(toks, StopDe)
    val es = hitCount(toks, StopEs)
    val fr = hitCount(toks, StopFr)
    when(cjkCount(text) > 0, "zh")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Quality score in [0,1]: weighted mix of stopword ratio, length
    * saturation, and lexical diversity. Parenthesization is part of the
    * contract (oracle executes the identical double-op sequence). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val stopRatio = hitCount(toks, StopEn).cast("double") / n
    val lenSat = least(lit(1.0), n / lit(200.0))
    val diversity = size(array_distinct(toks)).cast("double") / n
    (lit(0.4) * stopRatio + lit(0.3) * lenSat) + lit(0.3) * diversity
  }

  /** HTML-to-text cleaning — the markup-stripping pass of web-corpus
    * ingestion: drop comments (non-greedy, dotall — comments are the one
    * construct whose body legally contains `>`), drop tags, unescape the
    * common entities (`&amp;` last, so entity-encoded entities can't
    * double-unescape into markup), collapse whitespace. Pure
    * regexp/replace projection: runs at scan speed inside codegen, and
    * each step has an exact oracle-dialect twin.
    *
    * The tag pattern requires the char after `<` to open a real markup
    * construct (`[a-zA-Z!/?]` — element, `!DOCTYPE`, close tag, PI), so
    * prose like `a < b and c > d` or `i <3 u` survives untouched — with
    * the naive `<[^>]*>` a plain-text doc with two comparison signs
    * silently loses everything between them (adversarial-fixture spec).
    * Remaining documented limitation of any regex stripper: a `>` inside
    * a quoted attribute value closes the tag early. */
  def cleanHtml(text: Column): Column = {
    val noComments = regexp_replace(text, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "</?[a-zA-Z!?][^>]*>", " ")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Luhn checksum validity of a digit string — the check that separates
    * real card numbers from random 16-digit runs in PII scans (regex
    * alone false-positives on order ids, hashes, phone groups). From
    * the rightmost digit: double every second, subtract 9 above 9, sum
    * divisible by 10. Pure integer fold — exact in any engine. */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(digits)
    val total = aggregate(
      sequence(lit(1), length(digits)),
      lit(0L),
      (acc, i) => {
        val d = substr(rev, i, lit(1)).cast("long")
        val dd = when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    total % 10 === 0
  }

  /** Canonical form for fingerprinting: lower-cased, whitespace collapsed. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact-duplicate fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** 60-bit integer hash of a string via md5 (first 15 hex digits).
    * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`. */
  def hash60(s: Column): Column =
    // Codegen digest-byte read ([[graft.expressions.Md5PrefixLong]]) —
    // the conv(substring(md5(s), 1, 15), 16, 10) composition built and
    // re-parsed the 32-char hex string per row.
    graft.expressions.GraftFunctions.md5PrefixLong(s, 15)

  /** 48-bit variant (12 hex digits) — used by SimHash so per-bit shifts
    * stay clear of the sign bit. */
  def hash48(s: Column): Column =
    graft.expressions.GraftFunctions.md5PrefixLong(s, 12)

  /** Adjacent word-bigram shingles ("w1 w2") of the normalized text —
    * the shingling unit for MinHash/Jaccard dedup. Single-token docs
    * yield one degenerate shingle (the token itself) so no doc drops out.
    *
    * Built as `zip_with` over two slices of the token array, which binds
    * the tokenization ONCE per row — the earlier
    * `transform(sequence, i -> element_at(toks, i))` form re-evaluated
    * the whole normalize+split per element (2n regex splits per doc). */
  def wordBigrams(text: Column): Column =
    // Codegen'd pair walk ([[graft.expressions.WordBigramStrings]]) —
    // the composed zip_with(slice, slice, concat) form ran an
    // interpreted lambda per pair at 2.6x the tokenization cost.
    graft.expressions.GraftFunctions.wordBigramStrings(tokens(normalized(text)))

  /** Winnowing-style content fingerprint: minimum hash60 over the doc's
    * bigram shingles — one 60-bit "representative shingle" per document
    * (rolling-hash fingerprint family; pure projection + array fold). */
  def minShingleHash(text: Column): Column =
    // The K=1 identity case of the codegen'd MinHash kernel (a=1, b=0,
    // modulus > 2^60 leaves md5-prefix-15 values unchanged) — the
    // composed array_min(transform(...)) ran an interpreted md5 lambda
    // per shingle.
    element_at(graft.expressions.GraftFunctions.minhashSigs(
      wordBigrams(text), Array(1L), Array(0L), Long.MaxValue), 1)
}
