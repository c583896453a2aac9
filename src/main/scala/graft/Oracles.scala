package graft

/** DuckDB SQL builders that two or more gate families use (a family's
  * own builders are its `graft.gate.<Family>Sql`). Every oracle is the
  * dialect translation of the EXACT op semantics in graft.operators — same
  * md5-derived hashes, same explicitly-parenthesized double arithmetic,
  * same tie-breaks — so the driver's hash compare matches bit-for-bit.
  * MinHash coefficients are inlined from [[DedupOps.HashCoeffs]] (single
  * source of truth).
  *
  * Dialect notes: DuckDB `regexp_replace` needs the 'g' flag (Spark
  * replaces all by default); `('0x'||hex)::BIGINT` ≡ Spark
  * `conv(hex,16,10)`; `list_reduce(list_transform(...))` folds left like
  * Spark `aggregate(transform(...))`.
  */
object Oracles {

  // Normalized text + whitespace tokens (TextFunctions.normalized/tokens).
  private[graft] val norm = raw"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
  private[graft] def toks(c: String) = raw"regexp_split_to_array(trim($c), '\s+')"

  /** Escape a Scala string for embedding in a single-quoted SQL literal —
    * a guard on the shared constants (footer text, regexes): today none
    * contains a quote, but an added apostrophe must not silently break
    * the generated oracle (round-5 ADVICE). */
  private[graft] def q(s: String) = s.replace("'", "''")

  private[graft] def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  private[graft] def hits(tk: String, words: Seq[String]) =
    s"len(list_filter($tk, t -> list_contains(${inList(words)}, t)))"

  private[graft] def hash60(s: String) = s"('0x' || substr(md5($s), 1, 15))::BIGINT"

  /** Word-bigram shingle list of the normalized text (TextFunctions
    * .wordBigrams): single-token docs degrade to the token itself. */
  private[graft] val bigramsCte =
    s"""t AS (SELECT doc_id, $norm AS nrm FROM documents),
       |s AS (SELECT doc_id, nrm, string_split(nrm, ' ') AS tk FROM t),
       |bg AS (SELECT doc_id, nrm, CASE WHEN len(tk) <= 1 THEN tk
       |  ELSE list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1]) END AS sh
       |FROM s)""".stripMargin
}
