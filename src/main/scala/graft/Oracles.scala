package graft

import graft.operators.DedupOps

/** DuckDB oracle SQL for the extension operators. Each string is the
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
  private val norm = raw"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
  private def toks(c: String) = raw"regexp_split_to_array(trim($c), '\s+')"

  /** Escape a Scala string for embedding in a single-quoted SQL literal —
    * a guard on the shared constants (footer text, regexes): today none
    * contains a quote, but an added apostrophe must not silently break
    * the generated oracle (round-5 ADVICE). */
  private def q(s: String) = s.replace("'", "''")

  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  private def hits(tk: String, words: Seq[String]) =
    s"len(list_filter($tk, t -> list_contains(${inList(words)}, t)))"

  import graft.functions.TextFunctions.{StopEn, StopDe, StopEs, StopFr}

  val textStats: String =
    s"""WITH t AS (SELECT doc_id, text, ${toks("text")} AS tk FROM documents)
       |SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(tk) AS n_tokens,
       |  len(list_distinct(tk)) AS n_distinct_tokens,
       |  ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS quality
       |FROM t""".stripMargin

  val langId: String =
    s"""WITH t AS (SELECT doc_id, text, ${toks("text")} AS tk FROM documents),
       |h AS (SELECT doc_id, text,
       |  ${hits("tk", StopEn)} AS en, ${hits("tk", StopDe)} AS de,
       |  ${hits("tk", StopEs)} AS es, ${hits("tk", StopFr)} AS fr
       |FROM t)
       |SELECT doc_id, CASE
       |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |  WHEN en >= de AND en >= es AND en >= fr THEN 'en'
       |  WHEN de >= es AND de >= fr THEN 'de'
       |  WHEN es >= fr THEN 'es'
       |  ELSE 'fr' END AS lang_pred
       |FROM h""".stripMargin

  private def hash60(s: String) = s"('0x' || substr(md5($s), 1, 15))::BIGINT"
  private def hash48(s: String) = s"('0x' || substr(md5($s), 1, 12))::BIGINT"

  // ---- trained BPE (TextOps.bpeTrain) -----------------------------------

  /** Unrolled BPE-training CTE chain — the SAME recurrence as
    * [[graft.operators.TextOps.bpeTrain]], stage by stage (the
    * hilbert2SqlCtes can't-drift pattern): `w0` is the per-character
    * symbolization of the corpus word dictionary; each stage extracts
    * adjacent symbol pairs, picks the argmax pair (count DESC, pair
    * string ASC — the delimiter sorts below every symbol char, so pair-
    * string order == (a,b) order), and applies the merge as the same
    * leftmost non-overlapping `replace(' a b ', ' ab ')`. The sentinel
    * `chr(2)` pair keeps an exhausted round total, mirroring
    * TextOps.BpeSentinelPair. */
  def bpeDictCtes(merges: Int): String = {
    // Each w{i-1} feeds BOTH its stage's pair-argmax and its rewrite;
    // MATERIALIZED pins linear evaluation (inlining would recompute the
    // corpus scan 2^merges times).
    val head =
      s"""wd AS (SELECT unnest(string_split($norm, ' ')) AS word FROM documents),
         |w0 AS MATERIALIZED (SELECT word, count(*) AS cnt,
         |  ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
         |  FROM wd GROUP BY word)""".stripMargin
    val stages = (1 to merges).map { i =>
      s"""p$i AS (SELECT pr, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(generate_series(1, len(sy) - 1),
         |      j -> sy[j] || ' ' || sy[j + 1])) AS pr
         |    FROM (SELECT cnt, string_split(trim(s), ' ') AS sy FROM w${i - 1}))
         |  GROUP BY pr),
         |b$i AS (SELECT pr FROM (
         |    SELECT pr, n FROM p$i
         |    UNION ALL SELECT chr(2) || ' ' || chr(2), -1)
         |  ORDER BY n DESC, pr LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, cnt,
         |  replace(s, ' ' || b.pr || ' ', ' ' || replace(b.pr, ' ', '') || ' ') AS s
         |  FROM w${i - 1}, b$i b)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  /** Per-doc trained-BPE token counts (TextOps.bpeTokenCounts): per-word
    * symbol count read off the trained dictionary (spaces minus one),
    * joined back to the exploded corpus. */
  def bpeTokenCounts(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN dict USING (word) GROUP BY doc_id""".stripMargin

  /** Tokenizer fertility per source (SparkEntry
    * `bpe_compression_by_source`): trained-BPE token totals vs utf-8
    * byte totals, exact integers. */
  def bpeCompressionBySource(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN dict USING (word) GROUP BY doc_id),
       |b AS (SELECT doc_id, source,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents)
       |SELECT source, CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(nb) AS BIGINT) AS n_bytes
       |FROM tok JOIN b USING (doc_id) GROUP BY source""".stripMargin

  /** Token-budget head (SparkEntry `token_budget_head`): the quality
    * expression is textStats', the token counts are the trained-BPE
    * dict's, the cumsum is a plain window (the Spark side's distributed
    * prefix sum equals it exactly — long addition is associative). */
  def tokenBudgetHead(merges: Int, budget: Long): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN dict USING (word) GROUP BY doc_id),
       |tq AS (SELECT doc_id, text, ${toks("text")} AS tk FROM documents),
       |qual AS (SELECT doc_id,
       |  ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    AS quality
       |  FROM tq),
       |cum AS (SELECT q.doc_id, t.n_bpe_tokens,
       |  SUM(t.n_bpe_tokens) OVER (ORDER BY q.quality DESC, q.doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tokens_cum
       |  FROM qual q JOIN tok t ON q.doc_id = t.doc_id)
       |SELECT doc_id, n_bpe_tokens, CAST(tokens_cum AS BIGINT) AS tokens_cum
       |FROM cum WHERE tokens_cum <= $budget""".stripMargin

  /** Greedy sequence packing by TRUE trained-BPE token budget
    * (SparkEntry `bpe_sequence_packing`): running pre-sum of per-doc BPE
    * tokens within source, integer-divided into `budget`-token bins. */
  def bpeSequencePacking(merges: Int, budget: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN dict USING (word) GROUP BY doc_id)
       |SELECT d.doc_id, d.source, t.n_bpe_tokens,
       |  CAST(COALESCE(SUM(t.n_bpe_tokens + 1) OVER (
       |    PARTITION BY d.source ORDER BY d.doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $budget
       |    AS BIGINT) AS pack_id
       |FROM documents d JOIN tok t ON d.doc_id = t.doc_id""".stripMargin

  /** Full BPE token SEQUENCE per document (TextOps.bpeTokenizeWith,
    * SparkEntry `bpe_tokenize`): per-word trained symbolizations joined
    * back in word order (ordinality index), space-joined, md5'd. */
  def bpeTokenize(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word, trim(s) AS syms FROM w$merges),
       |sw AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
       |dw AS (SELECT doc_id, i AS pos, tk[i] AS word
       |  FROM sw, unnest(generate_series(1, len(tk))) AS t(i)),
       |ws AS (SELECT doc_id, pos, syms,
       |    len(string_split(syms, ' ')) AS n_sym
       |  FROM dw JOIN dict USING (word))
       |SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS toks_md5
       |FROM ws GROUP BY doc_id""".stripMargin

  /** Byte-fallback token counts (TextOps.bpeTokenCountsWith's left-join
    * path, SparkEntry `bpe_token_counts_oov`): the corpus-trained dict
    * applied to a planted-OOV corpus — unknown words charge one token
    * per UTF-8 byte (`strlen` = Spark `octet_length`). */
  def bpeTokenCountsOov(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |pd AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' naïve café zürich' ELSE '' END
       |    AS text
       |  FROM documents),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM pd)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(SUM(COALESCE(n_sym, strlen(word))) AS BIGINT) AS n_bpe_tokens
       |FROM dw LEFT JOIN dict USING (word) GROUP BY doc_id""".stripMargin

  // ---- KMV / sampled sketches (SketchOps) -------------------------------

  /** KMV bottom-k distinct estimate (SketchOps.kmvDistinct): same 60-bit
    * md5 hashes, same DISTINCT + rank ≤ k sketch, same truncating-integer
    * estimator `(k-1) * (2^60 // kth)` — nothing floating-point enters
    * the hashed output. */
  def kmvDistinctUsers(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |  ${hash60("CAST(user_id AS VARCHAR)")} AS hkey FROM events
       |  WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, hkey,
       |  rank() OVER (PARTITION BY event_type ORDER BY hkey) AS rk FROM h),
       |b AS (SELECT event_type, count(*) AS n_kept, max(hkey) AS kth
       |  FROM r WHERE rk <= $k GROUP BY event_type)
       |SELECT event_type,
       |  CASE WHEN n_kept < $k THEN n_kept
       |       ELSE ${k - 1} * (1152921504606846976 // kth) END AS users_est
       |FROM b""".stripMargin

  /** KMV rollup (SketchOps.kmvRollup): per-(type, day) bottom-k partials,
    * merged per type by distinct-union + re-rank IN THE SAME HASH SPACE —
    * the lossless KMV merge. */
  def kmvSketchRollup(k: Int): String =
    s"""WITH h AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS day,
       |  ${hash60("CAST(user_id AS VARCHAR)")} AS hkey FROM events
       |  WHERE user_id IS NOT NULL),
       |d AS (SELECT event_type, day, hkey, rank() OVER (
       |  PARTITION BY event_type, day ORDER BY hkey) AS rk FROM h),
       |daily AS (SELECT event_type, day, hkey FROM d WHERE rk <= $k),
       |u AS (SELECT DISTINCT event_type, hkey FROM daily),
       |r AS (SELECT event_type, hkey,
       |  rank() OVER (PARTITION BY event_type ORDER BY hkey) AS rk FROM u),
       |b AS (SELECT event_type, count(*) AS n_kept, max(hkey) AS kth
       |  FROM r WHERE rk <= $k GROUP BY event_type),
       |nd AS (SELECT event_type, count(DISTINCT day) AS n_days
       |  FROM daily GROUP BY event_type)
       |SELECT b.event_type,
       |  CASE WHEN n_kept < $k THEN n_kept
       |       ELSE ${k - 1} * (1152921504606846976 // kth) END AS users_est,
       |  nd.n_days
       |FROM b JOIN nd ON b.event_type = nd.event_type""".stripMargin

  /** Hash-sampled exact percentiles (SketchOps.sampledPercentiles): the
    * 1-in-mod md5 row sample, then DuckDB quantile_cont ≡ Spark
    * percentile (bit-identical interpolation — winsorized_values
    * precedent). */
  def sampledPercentilesValue(mod: Int): String =
    s"""WITH s AS (SELECT event_type, value FROM events
       |  WHERE ${hash60("CAST(event_id AS VARCHAR)")} % $mod = 0)
       |SELECT event_type,
       |  quantile_cont(value, 0.5) AS p50_sampled,
       |  quantile_cont(value, 0.95) AS p95_sampled
       |FROM s GROUP BY event_type""".stripMargin

  /** Word-bigram shingle list of the normalized text (TextFunctions
    * .wordBigrams): single-token docs degrade to the token itself. */
  private val bigramsCte =
    s"""t AS (SELECT doc_id, $norm AS nrm FROM documents),
       |s AS (SELECT doc_id, nrm, string_split(nrm, ' ') AS tk FROM t),
       |bg AS (SELECT doc_id, nrm, CASE WHEN len(tk) <= 1 THEN tk
       |  ELSE list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1]) END AS sh
       |FROM s)""".stripMargin

  val fingerprints: String =
    s"""WITH $bigramsCte
       |SELECT doc_id, md5(nrm) AS fp_md5,
       |  list_min(list_transform(sh, x -> ${hash60("x")})) AS fp_minshingle
       |FROM bg""".stripMargin

  val dedupExactDocs: String =
    s"""SELECT doc_id, text, lang, source, n_chars FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY md5($norm) ORDER BY doc_id) AS rn
       |  FROM documents) WHERE rn = 1""".stripMargin

  private val coeffValues = DedupOps.HashCoeffs.zipWithIndex
    .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
    .mkString(", ")

  /** Planted near-duplicate corpus for the dedup demonstrations: every
    * 10th document plus an 80%-prefix truncated copy at doc_id+10000000
    * (bigram Jaccard orig↔copy ≈ 0.8; unrelated pairs ≤ ~0.15). Identical
    * construction on the Spark side (SparkEntry.plantedDocs). */
  val plantedDocs: String =
    """SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, substr(text, 1, (length(text) * 4) // 5)
      |  FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Realistic-vocabulary remap of [[plantedDocs]] (SparkEntry
    * .realisticVocabDocs): token j -> 'w' || (hash60(prev_cur) % 4096),
    * prev = '^' for j = 1 — byte-identical md5 arithmetic to the Spark
    * projection, applied to the same normalized token stream. */
  val realisticPlantedDocs: String =
    s"""SELECT doc_id, array_to_string(list_transform(
       |    generate_series(1, len(t)),
       |    i -> 'w' || (${hash60(
              "(CASE WHEN i = 1 THEN '^' ELSE t[i-1] END) || '_' || t[i]")} % 4096)),
       |  ' ') AS text
       |FROM (SELECT doc_id, string_split($norm, ' ') AS t
       |      FROM ($plantedDocs) p0) tk""".stripMargin

  def minhashPairs(t0Sql: String, minEst: Double,
      r: Int = DedupOps.R): String =
    s"""WITH t0 AS ($t0Sql),
       |c(i, a, b) AS (SELECT * FROM (VALUES $coeffValues)),
       |${sigCtes("", "t0", r)},
       |pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT p.id_a, p.id_b,
       |  CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / ${DedupOps.K}.0 AS est_jaccard
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.id_a
       |JOIN sig sb ON sb.doc_id = p.id_b AND sb.i = sa.i
       |GROUP BY p.id_a, p.id_b
       |HAVING est_jaccard >= $minEst""".stripMargin

  /** MinHash signature + banding CTE chain over `srcCte`, every CTE
    * name prefixed so two corpora can coexist in one WITH (the
    * incremental against-corpus oracle). Same construction as
    * [[minhashPairs]]' chain; requires the shared `c(i, a, b)`
    * coefficient CTE in scope. */
  private def sigCtes(p: String, srcCte: String,
      r: Int = DedupOps.R): String =
    s"""${p}t AS (SELECT doc_id, $norm AS nrm FROM $srcCte),
       |${p}s AS (SELECT doc_id, string_split(nrm, ' ') AS tk FROM ${p}t),
       |${p}bg AS (SELECT doc_id, CASE WHEN len(tk) <= 1 THEN tk
       |  ELSE list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1]) END AS sh
       |  FROM ${p}s),
       |${p}sh AS (SELECT DISTINCT doc_id, (${hash60("x")} % ${DedupOps.P}) AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS x FROM ${p}bg)),
       |${p}sig AS (SELECT doc_id, i, min((a * h + b) % ${DedupOps.P}) AS mh
       |  FROM ${p}sh, c GROUP BY doc_id, i),
       |${p}bk AS (SELECT doc_id, (i // $r) AS band,
       |    string_agg(mh::VARCHAR, '_' ORDER BY i) AS bkey
       |  FROM ${p}sig GROUP BY doc_id, band)""".stripMargin

  /** Bucket-population ledger (SparkEntry `dedup_lsh_bucket_ledger`):
    * the measured evidence that DedupOps.MaxBucket is dormant on the
    * gate corpus — same banding chain as [[minhashPairs]], one bucket
    * groupBy, one single-row count/max aggregate. The oracle buckets on
    * the string band key where Spark buckets on xxhash64 of it; the
    * POPULATIONS compare equal because the hash is injective on the
    * observed keys (a collision would only merge two buckets —
    * ~|buckets|²/2⁶⁵ odds — and the ledger would catch it as a
    * max_bucket mismatch). */
  def lshBucketLedger(t0Sql: String, cap: Int,
      r: Int = DedupOps.R): String =
    s"""WITH t0 AS ($t0Sql),
       |c(i, a, b) AS (SELECT * FROM (VALUES $coeffValues)),
       |${sigCtes("", "t0", r)},
       |sz AS (SELECT band, bkey, count(*) AS n FROM bk GROUP BY band, bkey)
       |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(max(n) AS BIGINT) AS max_bucket,
       |  CAST(count(CASE WHEN n > $cap THEN 1 END) AS BIGINT) AS n_over_cap
       |FROM sz""".stripMargin

  /** Incremental against-corpus candidates (SparkEntry
    * `dedup_incremental_candidates`): arrivals banded against the
    * corpus signatures; est_jaccard from the two signature chains. */
  def dedupIncrementalCandidates(minEst: Double): String =
    s"""WITH corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |arriv0 AS (SELECT doc_id + 10000000 AS doc_id,
       |  substr(text, 1, (length(text) * 4) // 5) AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |c(i, a, b) AS (SELECT * FROM (VALUES $coeffValues)),
       |${sigCtes("cc_", "corpus0")},
       |${sigCtes("nn_", "arriv0")},
       |pairs AS (SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS new_id
       |  FROM cc_bk x JOIN nn_bk y ON x.band = y.band AND x.bkey = y.bkey)
       |SELECT p.corpus_id, p.new_id,
       |  CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / ${DedupOps.K}.0 AS est_jaccard
       |FROM pairs p
       |JOIN cc_sig sa ON sa.doc_id = p.corpus_id
       |JOIN nn_sig sb ON sb.doc_id = p.new_id AND sb.i = sa.i
       |GROUP BY p.corpus_id, p.new_id
       |HAVING est_jaccard >= $minEst""".stripMargin

  /** MinHash candidate-generation recall vs exact Jaccard truth at
    * `minJaccard` (SparkEntry `dedup_minhash_recall`): the two green
    * chains ([[minhashPairs]]' banding, [[ngramJaccard]]'s exact pairs)
    * share one shingle prefix; counts only, so the measurement is
    * integer-exact. */
  def dedupMinhashRecall(t0Sql: String, minJaccard: Double,
      r: Int = DedupOps.R, sampleMod: Int = 1): String = {
    // The exact-Jaccard truth side is Θ(n²) by contract, so past sf1
    // the measurement is taken on a deterministic 1-in-`sampleMod` doc
    // sample. The sampling key is the PAIR-STABLE base id
    // (doc_id % 10000000): a planted copy and its original share the
    // key, so sampling keeps whole pairs and recall on the sample is
    // unbiased for recall on the corpus (truth cost drops mod²).
    val t0 = if (sampleMod <= 1) t0Sql
    else s"""SELECT * FROM ($t0Sql)
            |  WHERE ${hash60("CAST(doc_id % 10000000 AS VARCHAR)")}
            |    % $sampleMod = 0""".stripMargin
    s"""WITH t0 AS ($t0),
       |c(i, a, b) AS (SELECT * FROM (VALUES $coeffValues)),
       |${sigCtes("", "t0", r)},
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id),
       |shd AS (SELECT DISTINCT doc_id, x AS s
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS x FROM bg)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT id_a, id_b FROM common
       |  JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(c AS DOUBLE) / CAST((na.n + nb.n) - c AS DOUBLE) >= $minJaccard),
       |hit AS (SELECT t.id_a FROM truth t JOIN cand USING (id_a, id_b))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_candidates,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin
  }

  /** Keep list after near-dedup: corpus minus every id_b of a
    * thresholded candidate pair (lowest-id representative survives). */
  /** Exact substring dedup (DedupOps.duplicateSpans): content-defined
    * chunking — boundary where the hash60 of the `window`-token span
    * ending at i ≡ 0 (mod `divisor`) — then chunk-hash equality across
    * documents. Parallel unnest zips starts/ends positionally (the
    * PostgreSQL semantic DuckDB follows); the CASE guard mirrors the
    * Spark side's lazy CaseWhen keeping list_slice off non-positive
    * starts. */
  private def cdcChunkCtes(t0Sql: String, window: Int, divisor: Int): String =
    s"""t0 AS ($t0Sql),
       |t AS (SELECT doc_id, string_split($norm, ' ') AS toks
       |  FROM (SELECT doc_id, text FROM t0)),
       |b AS (SELECT doc_id, toks, len(toks) AS n,
       |  list_filter(generate_series(1, len(toks)), i ->
       |    CASE WHEN i >= $window THEN
       |      ('0x' || substr(md5(array_to_string(
       |        list_slice(toks, i - ${window - 1}, i), ' ')), 1, 15))::BIGINT
       |        % $divisor = 0
       |    ELSE false END) AS bnd
       |  FROM t),
       |c AS (SELECT doc_id, toks,
       |    unnest(list_prepend(1, list_transform(bnd, x -> x + 1))) AS s,
       |    unnest(list_append(bnd, n)) AS e
       |  FROM b),
       |ch AS (SELECT doc_id, s AS start_tok, (e - s) + 1 AS chunk_len,
       |    ('0x' || substr(md5(array_to_string(
       |      list_slice(toks, s, e), ' ')), 1, 15))::BIGINT AS chash
       |  FROM c WHERE e >= s)""".stripMargin

  def dedupSubstring(t0Sql: String, window: Int, divisor: Int): String =
    s"""WITH ${cdcChunkCtes(t0Sql, window, divisor)},
       |d AS (SELECT chash, count(DISTINCT doc_id) AS n_docs
       |  FROM ch GROUP BY chash HAVING count(DISTINCT doc_id) >= 2)
       |SELECT ch.doc_id, ch.start_tok, ch.chunk_len, ch.chash, d.n_docs
       |FROM ch JOIN d USING (chash)""".stripMargin

  /** Substring REMOVAL (DedupOps.scrubDuplicateSpans): reconstruct each
    * document from its non-duplicated chunks in start order — the Lee
    * et al. span-removal step, chunk-granular. The CASE yields an empty
    * list for dup chunks, so flatten skips them with no null handling. */
  def scrubSubstring(t0Sql: String, window: Int, divisor: Int,
      minDocs: Int): String =
    s"""WITH ${cdcChunkCtes(t0Sql, window, divisor)},
       |d AS (SELECT chash FROM ch GROUP BY chash
       |  HAVING count(DISTINCT doc_id) >= $minDocs),
       |fl AS (SELECT ch.doc_id, ch.start_tok, ch.chunk_len,
       |    (d.chash IS NOT NULL) AS dup
       |  FROM ch LEFT JOIN d USING (chash))
       |SELECT fl.doc_id, count(*) AS n_chunks,
       |  CAST(count(CASE WHEN NOT dup THEN 1 END) AS BIGINT) AS n_kept,
       |  md5(COALESCE(array_to_string(flatten(list(
       |      CASE WHEN NOT dup
       |        THEN list_slice(t.toks, start_tok, start_tok + chunk_len - 1)
       |        ELSE [] END
       |      ORDER BY start_tok)), ' '), '')) AS clean_md5
       |FROM fl JOIN t ON fl.doc_id = t.doc_id
       |GROUP BY fl.doc_id""".stripMargin

  def dedupNearKeep(t0Sql: String, minEst: Double): String =
    s"""SELECT doc_id FROM ($t0Sql) d
       |WHERE doc_id NOT IN (SELECT id_b FROM (
       |${minhashPairs(t0Sql, minEst)}
       |) p)""".stripMargin

  /** Verified near-dedup keep: a doc is dropped only when an est-passing
    * MinHash pair ALSO passes the exact shingle-Jaccard check at the
    * same threshold — DuckDB replays both the banded estimator
    * ([[minhashPairs]]) and the exact truth ([[ngramJaccard]]) and
    * intersects the pair sets, mirroring
    * DedupOps.exactShingleJaccard-verified keeps. */
  def dedupNearKeepVerified(t0Sql: String, minEst: Double): String =
    s"""SELECT doc_id FROM ($t0Sql) d
       |WHERE doc_id NOT IN (
       |  SELECT p.id_b FROM (
       |${minhashPairs(t0Sql, minEst)}
       |  ) p JOIN (
       |${ngramJaccard(t0Sql, minEst)}
       |  ) j ON j.id_a = p.id_a AND j.id_b = p.id_b)""".stripMargin

  /** Connected components of a candidate-pair graph as a recursive
    * transitive closure: walk(v, lab) enumerates every vertex reachable
    * from v, and the component label is the minimum (planted clusters
    * are tiny, so the closure is bounded). Mirrors
    * DedupOps.connectedComponents' min-label fixpoint. `pairsSql` must
    * yield (id_a, id_b) — exact-Jaccard for the truth form, banded
    * MinHash for the scale form the pipeline entries run. */
  def ccComponentsFrom(t0Sql: String, pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (
       |$pairsSql
       |),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT doc_id AS v FROM ($t0Sql)),
       |walk(v, lab) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT w.v, e.dst FROM walk w JOIN edges e ON w.lab = e.src
       |)
       |SELECT v AS doc_id, MIN(lab) AS component FROM walk GROUP BY v""".stripMargin

  def ccComponents(t0Sql: String, minJaccard: Double): String =
    ccComponentsFrom(t0Sql, ngramJaccard(t0Sql, minJaccard))

  /** Scale-path CC: components over the banded-MinHash candidate graph
    * ([[minhashPairs]]), the same edges the Spark entries feed from
    * DedupOps.minhashCandidates. Banding is r=4 (8 bands of K=32) —
    * since r18 also the PRODUCTION default (DedupOps.Bands): measured
    * 96.4% recall / zero false candidates on the zipfian
    * realistic-vocabulary fixture, vs 42% at the r=8 contrast
    * banding — the est_jaccard >= minEst filter supplies the
    * precision, so the wider banding costs only bucket-join fan-out. */
  val CcR: Int = 4
  def ccComponentsBanded(t0Sql: String, minEst: Double): String =
    ccComponentsFrom(t0Sql, minhashPairs(t0Sql, minEst, CcR))

  def ccKeep(t0Sql: String, minJaccard: Double): String =
    s"""SELECT doc_id FROM (
       |${ccComponents(t0Sql, minJaccard)}
       |) c WHERE component = doc_id""".stripMargin

  def ccKeepBanded(t0Sql: String, minEst: Double): String =
    s"""SELECT doc_id FROM (
       |${ccComponentsBanded(t0Sql, minEst)}
       |) c WHERE component = doc_id""".stripMargin

  /** Quality-weighted cluster collapse (DedupOps.keepClusterBest): the
    * CC labels joined with the text_stats quality expression, one
    * row_number per component ordered (quality DESC, doc_id). */
  def ccKeepBestFrom(t0Sql: String, ccSql: String): String =
    s"""SELECT doc_id, component FROM (
       |  SELECT c.doc_id, c.component, row_number() OVER (
       |      PARTITION BY c.component ORDER BY q.q DESC, c.doc_id) AS r
       |  FROM (
       |$ccSql
       |  ) c JOIN (
       |    SELECT doc_id,
       |      ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |        + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |        + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS q
       |    FROM (SELECT doc_id, ${toks("text")} AS tk FROM ($t0Sql))
       |  ) q USING (doc_id)) WHERE r = 1""".stripMargin

  def ccKeepBest(t0Sql: String, minJaccard: Double): String =
    ccKeepBestFrom(t0Sql, ccComponents(t0Sql, minJaccard))

  def ccKeepBestBanded(t0Sql: String, minEst: Double): String =
    ccKeepBestFrom(t0Sql, ccComponentsBanded(t0Sql, minEst))

  val docsWithEmbeddings: String =
    """SELECT doc_id, lang, n_chars, label,
      |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS emb_norm
      |FROM documents
      |JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings)
      |  ON doc_id = vec_id""".stripMargin

  /** Temperature mixture sampling (alpha=0.5): Z folded in sorted source
    * order, integer 2^20-th thresholds, md5 per-row keep test. */
  val mixtureTemperature: String =
    s"""WITH bys AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
       |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n_src AS DOUBLE)) ORDER BY source)), (a, x) -> a + x) AS z,
       |  CAST(SUM(n_src) AS BIGINT) AS n_total FROM bys),
       |r AS (SELECT source, n_src,
       |    CAST(floor(least(CAST(1 AS DOUBLE),
       |      (CAST(0.5 AS DOUBLE) * CAST(n_total AS DOUBLE) * sqrt(CAST(n_src AS DOUBLE))) /
       |      (z * CAST(n_src AS DOUBLE))) * CAST(1048576 AS DOUBLE)) AS BIGINT) AS thr
       |  FROM bys, z)
       |SELECT d.source, min(r.n_src) AS n_src, min(r.thr) AS thr,
       |  count(*) AS n_kept
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${hash60("CAST(d.doc_id AS VARCHAR)")} % 1048576 < r.thr
       |GROUP BY d.source""".stripMargin

  val stratifiedSplitCounts: String =
    s"""SELECT lang,
       |  CASE WHEN ${hash60("CAST(doc_id AS VARCHAR)")} % 10 < 8
       |    THEN 'train' ELSE 'eval' END AS split,
       |  count(*) AS n
       |FROM documents GROUP BY lang, split""".stripMargin

  def ngramJaccard(t0Sql: String, minJaccard: Double): String =
    s"""WITH t0 AS ($t0Sql),
       |${bigramsCte.replace("FROM documents", "FROM t0")},
       |shd AS (SELECT DISTINCT doc_id, x AS s
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS x FROM bg)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(c AS DOUBLE) / CAST((na.n + nb.n) - c AS DOUBLE) AS jaccard
       |FROM common
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE CAST(c AS DOUBLE) / CAST((na.n + nb.n) - c AS DOUBLE) >= $minJaccard""".stripMargin

  /** Shingle-df ledger (SparkEntry `jaccard_df_ledger`): the measured
    * evidence that DedupOps.JaccardMaxDf is dormant on the gate corpus —
    * same distinct-shingle chain as [[ngramJaccard]], one df groupBy,
    * one single-row aggregate, plus the per-doc degraded count (docs
    * whose ⌊(1−t)·n⌋+1 rarest-first prefix needs an over-cap shingle).
    * The oracle counts df on the string shingles where Spark counts on
    * xxhash64 of them; the same injectivity argument as
    * [[lshBucketLedger]] applies (a collision would merge two df rows
    * and surface as a max_df/n_shingles mismatch). */
  def jaccardDfLedger(t0Sql: String, minJaccard: Double, cap: Int): String =
    s"""WITH t0 AS ($t0Sql),
       |${bigramsCte.replace("FROM documents", "FROM t0")},
       |shd AS (SELECT DISTINCT doc_id, x AS s
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS x FROM bg)),
       |f AS (SELECT s, count(*) AS df FROM shd GROUP BY s),
       |pd AS (SELECT doc_id, count(*) AS n,
       |    count(CASE WHEN f.df <= $cap THEN 1 END) AS n_under
       |  FROM shd JOIN f USING (s) GROUP BY doc_id),
       |deg AS (SELECT CAST(count(CASE WHEN n_under <
       |    floor((1.0 - $minJaccard) * n + 1e-9) + 1 THEN 1 END) AS BIGINT)
       |    AS n_docs_degraded FROM pd)
       |SELECT CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(max(df) AS BIGINT) AS max_df,
       |  CAST(count(CASE WHEN df > $cap THEN 1 END) AS BIGINT) AS n_over_cap,
       |  (SELECT n_docs_degraded FROM deg) AS n_docs_degraded
       |FROM f""".stripMargin

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

  /** 5-gram decontamination over the planted corpus (every 97th doc
    * carries 120 chars of an eval doc). */
  val decontamination: String =
    raw"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 200 = 0),
         |corpus AS (SELECT d.doc_id,
         |  CASE WHEN d.doc_id % 97 = 0 THEN d.text || ' ' || substr(e.text, 1, 120)
         |       ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ev e ON e.doc_id = (d.doc_id % 3) * 200
         |  WHERE d.doc_id % 200 <> 0),
         |gev AS (SELECT DISTINCT gram FROM (
         |  SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
         |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
         |        FROM ev))),
         |gc AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
         |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
         |        FROM corpus))
         |SELECT DISTINCT doc_id FROM gc JOIN gev USING (gram)""".stripMargin

  /** Per-language quality gate (SparkEntry `quality_gate_by_lang`):
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

  /** Dedup token yield (SparkEntry `dedup_token_yield`): whitespace
    * token counts before/after the cluster-minimum keep list — over the
    * banded-MinHash CC keep list, the form the pipeline runs at scale. */
  def dedupTokenYieldBanded(t0Sql: String, minEst: Double): String =
    s"""WITH tok AS (SELECT doc_id, CAST(len(string_split($norm, ' ')) AS BIGINT) AS nt
       |  FROM (SELECT doc_id, text FROM ($t0Sql))),
       |keep AS (${ccKeepBanded(t0Sql, minEst)}),
       |b AS (SELECT count(*) AS n_docs_before,
       |  CAST(SUM(nt) AS BIGINT) AS tokens_before FROM tok),
       |a AS (SELECT count(*) AS n_docs_after,
       |  CAST(SUM(nt) AS BIGINT) AS tokens_after
       |  FROM tok JOIN keep USING (doc_id))
       |SELECT * FROM b, a""".stripMargin

  /** Mixture epoch planning (SparkEntry `mixture_epochs`): per-source
    * BPE token inventory over the trained dict, weights `idx % 4 + 1`
    * normalized, repeat = ((w/sw)·total)/src_tokens in that op order. */
  def mixtureEpochs(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN dict USING (word) GROUP BY doc_id),
       |src AS (SELECT d.source, count(*) AS n_docs,
       |    CAST(SUM(t.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |    CAST(CAST(substr(d.source, 4) AS INTEGER) % 4 + 1 AS BIGINT) AS w
       |  FROM documents d JOIN tok t ON d.doc_id = t.doc_id
       |  GROUP BY d.source),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
       |  CAST(SUM(w) AS BIGINT) AS sw FROM src)
       |SELECT source, n_docs, n_tokens,
       |  ((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)) * CAST(t AS DOUBLE))
       |    / CAST(n_tokens AS DOUBLE) AS repeat_factor
       |FROM src, tot""".stripMargin

  /** Robust median/MAD anomaly stats (SparkEntry `anomaly_mad_stats`):
    * exact interpolated medians, same 3·1.4826 threshold literal. */
  val anomalyMadStats: String =
    s"""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY event_type),
       |j AS (SELECT e.event_type, e.value, m.med
       |  FROM events e JOIN m USING (event_type)),
       |d AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
       |  FROM j GROUP BY event_type)
       |SELECT j.event_type, count(*) AS n,
       |  count(CASE WHEN abs(j.value - j.med) > ${3.0 * 1.4826} * d.mad
       |    THEN 1 END) AS n_anomalies,
       |  min(j.med) AS med, min(d.mad) AS mad
       |FROM j JOIN d ON j.event_type = d.event_type
       |GROUP BY j.event_type""".stripMargin

  /** Hybrid retrieval, reciprocal-rank fusion (SparkEntry
    * `hybrid_search_rrf`): BM25 ranking nested as a CTE, cosine ranking
    * vs the vec_id=0 probe over the lexical universe, fused with the
    * same two exact divisions. */
  def hybridSearchRrf(terms: Seq[String], k1: Double, b: Double,
      topN: Int): String = {
    def dot(a: String, x: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $x[i]), (a, b) -> a + b)"
    s"""WITH bm AS (${bm25Scores(terms, k1, b)}),
       |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
       |  AS lex_rank FROM bm),
       |pv AS (SELECT embedding::DOUBLE[] AS pvec FROM embeddings WHERE vec_id = 0),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |sim AS (SELECT e.vec_id,
       |    ${dot("e.vec", "pv.pvec")} /
       |      (sqrt(${dot("e.vec", "e.vec")}) * sqrt(${dot("pv.pvec", "pv.pvec")})) AS sim
       |  FROM ev e JOIN lex l ON e.vec_id = l.doc_id, pv),
       |sem AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id)
       |  AS sem_rank FROM sim)
       |SELECT l.doc_id, l.lex_rank, s.sem_rank,
       |  CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lex_rank)
       |    + CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + sem_rank) AS rrf
       |FROM lex l JOIN sem s ON s.vec_id = l.doc_id
       |ORDER BY rrf DESC, l.doc_id LIMIT $topN""".stripMargin
  }

  /** Graded contamination (TextOps.contaminationFraction): distinct
    * per-doc 5-grams left-joined against the eval gram set; same planted
    * corpus as [[decontamination]]. */
  val contaminationFraction: String =
    raw"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 200 = 0),
         |corpus AS (SELECT d.doc_id,
         |  CASE WHEN d.doc_id % 97 = 0 THEN d.text || ' ' || substr(e.text, 1, 120)
         |       ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ev e ON e.doc_id = (d.doc_id % 3) * 200
         |  WHERE d.doc_id % 200 <> 0),
         |gev AS (SELECT DISTINCT gram FROM (
         |  SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
         |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
         |        FROM ev))),
         |gc AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS gram
         |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
         |        FROM corpus)))
         |SELECT gc.doc_id, count(*) AS n_grams, count(gev.gram) AS n_hit,
         |  CAST(count(gev.gram) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac
         |FROM gc LEFT JOIN gev USING (gram)
         |GROUP BY gc.doc_id""".stripMargin

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
    * SparkEntry.docsWithUrls, then the same no-lookaround regex steps as
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

  /** Reproducible shuffle-and-shard export plan (SparkEntry
    * `shuffled_shard_plan`): seeded md5 order key, global rank, equal
    * document shards with token budgets. */
  def shuffledShardPlan(shardSize: Int): String =
    s"""WITH k AS (SELECT doc_id,
       |    ${hash60("'shard-seed-7:' || CAST(doc_id AS VARCHAR)")} AS hk,
       |    len(${toks("text")}) AS ntok
       |  FROM documents),
       |r AS (SELECT doc_id, ntok,
       |    row_number() OVER (ORDER BY hk, doc_id) AS rnk FROM k)
       |SELECT (rnk - 1) // $shardSize AS shard_id,
       |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM r GROUP BY shard_id""".stripMargin

  /** Token-granular sequence packing (SparkEntry `sequence_pack_plan`):
    * seeded-order prefix sum of token counts, each doc's span located
    * against the fixed S-token grid — integer-exact window sum. */
  def sequencePackPlan(seqLen: Int): String =
    s"""WITH k AS (SELECT doc_id,
       |    ${hash60("'pack-seed-7:' || CAST(doc_id AS VARCHAR)")} AS hk,
       |    CAST(len(${toks("text")}) AS BIGINT) AS nt
       |  FROM documents),
       |c AS (SELECT doc_id, nt, SUM(nt) OVER (
       |    ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM k)
       |SELECT doc_id, nt,
       |  CAST((cum - nt) // $seqLen AS BIGINT) AS start_pack,
       |  CAST((cum - nt) % $seqLen AS BIGINT) AS pack_off,
       |  CAST(((cum - 1) // $seqLen) - ((cum - nt) // $seqLen) + 1 AS BIGINT)
       |    AS n_spans
       |FROM c""".stripMargin

  /** BPE-budget twin of [[sequencePackPlan]] (SparkEntry
    * `sequence_pack_plan_bpe`): token counts from the trained merge
    * dict chain, then the identical grid arithmetic. */
  def sequencePackPlanBpe(merges: Int, seqLen: Int): String =
    s"""WITH ${bpeDictCtes(merges)},
       |dict AS (SELECT word,
       |  length(s) - length(replace(s, ' ', '')) - 1 AS n_sym FROM w$merges),
       |dw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS nt
       |  FROM dw JOIN dict USING (word) GROUP BY doc_id),
       |k AS (SELECT doc_id,
       |    ${hash60("'pack-seed-7:' || CAST(doc_id AS VARCHAR)")} AS hk,
       |    nt FROM tok),
       |c AS (SELECT doc_id, nt, SUM(nt) OVER (
       |    ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM k)
       |SELECT doc_id, nt,
       |  CAST((cum - nt) // $seqLen AS BIGINT) AS start_pack,
       |  CAST((cum - nt) % $seqLen AS BIGINT) AS pack_off,
       |  CAST(((cum - 1) // $seqLen) - ((cum - nt) // $seqLen) + 1 AS BIGINT)
       |    AS n_spans
       |FROM c""".stripMargin

  /** End-to-end crawl curation (SparkEntry `crawl_curation_pipeline`):
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

  /** Add-one-smoothed bigram LM score per document
    * (TextOps.bigramLmScores): 2^30 fixed-point transition
    * probabilities, one final double division. */
  val bigramLmScores: String =
    s"""WITH $bigramsCte,
       |b AS (SELECT doc_id, unnest(sh) AS bg FROM bg),
       |pair AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
       |pw AS (SELECT bg, c2, string_split(bg, ' ')[1] AS w1 FROM pair),
       |ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM pw GROUP BY w1),
       |voc AS (SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(tk) AS w FROM s)),
       |probs AS (SELECT bg,
       |    ((c2 + 1) * 1073741824) // (c1 + (SELECT v FROM voc)) AS p_fp
       |  FROM pw JOIN ctx USING (w1)),
       |sc AS (SELECT doc_id, p_fp FROM b JOIN probs USING (bg))
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(SUM(p_fp) AS DOUBLE) /
       |    CAST(count(*) * 1073741824 AS DOUBLE) AS lm_score
       |FROM sc GROUP BY doc_id""".stripMargin

  /** BM25, rational-idf form (TextOps.bm25Scores): exact odds-ratio idf
    * (no ln — not bit-stable across engines), doc-length normalization,
    * per-doc fold in sorted term order. All constants cast to DOUBLE so
    * DuckDB's DECIMAL literals can't double-round. */
  def bm25Scores(terms: Seq[String], k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
       |d AS (SELECT doc_id, len(tk) AS dl, tk FROM t),
       |tf0 AS (SELECT doc_id, dl, term,
       |    len(list_filter(tk, x -> x = term)) AS tf
       |  FROM d, (SELECT unnest($termList) AS term) q),
       |tf AS (SELECT * FROM tf0 WHERE tf > 0),
       |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d),
       |c AS (SELECT tf.doc_id, tf.term,
       |    (CAST(2 * st.n_docs - 2 * dfc.df + 1 AS DOUBLE) /
       |      CAST(2 * dfc.df + 1 AS DOUBLE)) *
       |    ((CAST(tf.tf AS DOUBLE) * CAST(${k1 + 1} AS DOUBLE)) /
       |     (CAST(tf.tf AS DOUBLE) + CAST($k1 AS DOUBLE) *
       |      (CAST(${1.0 - b} AS DOUBLE) + CAST($b AS DOUBLE) *
       |       (CAST(tf.dl AS DOUBLE) /
       |        (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))
       |    AS comp
       |  FROM tf JOIN dfc USING (term), st)
       |SELECT doc_id, count(*) AS n_hits,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(comp ORDER BY term)), (a, x) -> a + x) AS bm25
       |FROM c GROUP BY doc_id""".stripMargin
  }

  /** Max-bigram repetition share per document (Gopher-style quality
    * signal). */
  val repetitionScores: String =
    s"""WITH $bigramsCte,
       |b AS (SELECT doc_id, unnest(sh) AS bg FROM bg),
       |tf AS (SELECT doc_id, b.bg AS g, count(*) AS tf FROM b GROUP BY doc_id, b.bg)
       |SELECT doc_id, CAST(max(tf) AS BIGINT) AS max_tf,
       |  CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       |  CAST(max(tf) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS rep_ratio
       |FROM tf GROUP BY doc_id""".stripMargin

  /** Per-token 48-bit hashes (doc_id, h), tokens WITH multiplicity. */
  private val simhashSigCte =
    s"""tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tkn
       |  FROM (SELECT doc_id, $norm AS nrm FROM documents)),
       |hh AS (SELECT doc_id, ${hash48("tkn")} AS h FROM tok),
       |bits AS (SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS v
       |  FROM hh, (SELECT unnest(generate_series(0, ${DedupOps.SimBits - 1})) AS j)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  val simhash: String =
    s"""WITH $simhashSigCte
       |SELECT doc_id, simhash FROM sig""".stripMargin

  /** Chunk-population + group ledger (SparkEntry `simhash_bucket_ledger`):
    * the measured evidence that DedupOps.SimMaxBucket's variant rescue is
    * dormant on the gate corpus — same signature chain as [[simhash]];
    * bucket columns count DISTINCT simhashes per (c, chunk) band (the
    * post-round-16 join-work driver), group columns count members per
    * identical simhash. Unlike the MinHash ledger there is no
    * hash-injectivity caveat: both sides bucket on the literal 12-bit
    * chunk value. */
  def simhashBucketLedger(cap: Int, vcap: Int): String =
    s"""WITH $simhashSigCte,
       |ds AS (SELECT DISTINCT simhash FROM sig),
       |chunks AS (SELECT simhash, c, (simhash >> (c * 12)) & 4095 AS chunk
       |  FROM ds, (SELECT unnest([0, 1, 2, 3]) AS c)),
       |b1 AS (SELECT *, count(*) OVER (PARTITION BY c, chunk) AS k FROM chunks),
       |sz AS (SELECT c, chunk, count(*) AS n FROM chunks GROUP BY c, chunk),
       |gz AS (SELECT simhash, count(*) AS m FROM sig GROUP BY simhash),
       |vk AS (SELECT b.simhash, b.c, b.chunk, o.c2,
       |    xor((b.simhash >> (o.c2 * 12)) & 4095, f.flip) AS vkey
       |  FROM (SELECT * FROM b1 WHERE k > $cap) b,
       |    (SELECT unnest([0, 1, 2, 3]) AS c2) o,
       |    (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]) AS flip) f
       |  WHERE o.c2 <> b.c),
       |vz AS (SELECT c, chunk, c2, vkey, count(*) AS vn FROM vk
       |  GROUP BY c, chunk, c2, vkey)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_buckets,
       |  (SELECT CAST(max(n) AS BIGINT) FROM sz) AS max_bucket,
       |  (SELECT CAST(count(CASE WHEN n > $cap THEN 1 END) AS BIGINT) FROM sz) AS n_over_cap,
       |  (SELECT CAST(max(m) AS BIGINT) FROM gz) AS max_group,
       |  (SELECT CAST(count(CASE WHEN m > $cap THEN 1 END) AS BIGINT) FROM gz) AS n_over_cap_groups,
       |  (SELECT CAST(count(*) AS BIGINT) FROM vz) AS n_vkey_buckets,
       |  (SELECT coalesce(CAST(max(vn) AS BIGINT), 0) FROM vz) AS max_vkey_bucket,
       |  (SELECT CAST(count(CASE WHEN vn > $vcap THEN 1 END) AS BIGINT) FROM vz) AS n_over_variant_cap""".stripMargin

  /** The capped-candidate pipeline of
    * [[graft.operators.DedupOps.simhashCandidates]] replayed verbatim as
    * CTEs ending in `cand(id_a, id_b, hamming)`: distinct-simhash
    * (c, chunk) banding with cliques up to `cap`; 1-bit-flip variant
    * equi-join rescue for over-cap buckets (exact by pigeonhole for
    * maxHamming <= 8); Manku-Jindal-Ullman sorted windows of width `w`
    * for variant buckets over `vcap`; identical-simhash groups as
    * intra-group cliques up to `cap`, id-ordered path beyond. Any drift
    * in ANY stage breaks the gate hash — the can't-drift pattern.
    *
    * `escalateBudget` > 0 replays the r20 budgeted variant-stage
    * auto-escalation verbatim ([[graft.operators.DedupOps
    * .escalationCut]]): the over-`vcap` bucket-size histogram, the
    * cumulative clique-work prefix sum in ascending size order, and
    * the size cut admitting whole classes while Σ nb·vn·(vn−1)/2 fits
    * budget × (distinct signatures) — vn·(vn−1) is even, so the
    * integer halving is exact in both engines. The effective cap the
    * clique/window split reads is then the CUT, not `vcap`, exactly
    * as the Spark pipeline computes it. */
  private def simhashCandCtes(maxHamming: Int, cap: String, vcap: String,
      w: Int, escalateBudget: Long = 0L): String = {
    // One sorted order per SimVariantRotations bit-rotation (MJU
    // permuted orders), leads 1..w under each; the 48-bit rotate is the
    // same masked-shift arithmetic as the Spark side (exact on BIGINT,
    // values < 2^48). least/greatest normalize: a rotated-order lead
    // can be smaller in raw value.
    val winSelects = (for {
      r <- graft.operators.DedupOps.SimVariantRotations
      i <- 1 to w
    } yield {
      val rot =
        if (r == 0) "simhash"
        else s"(((simhash & ${(1L << (48 - r)) - 1}) << $r) | (simhash >> ${48 - r}))"
      s"""SELECT least(simhash, nx) AS sa, greatest(simhash, nx) AS sb FROM (
         |      SELECT simhash, lead(simhash, $i)
         |        OVER (PARTITION BY c, chunk, c2, vkey ORDER BY $rot, simhash) AS nx
         |      FROM vover) WHERE nx IS NOT NULL""".stripMargin
    }).mkString("\n    UNION ALL ")
    // Budgeted-escalation twin CTEs (r20): one histogram row per
    // distinct over-cap bucket size, cumulative work in ascending size
    // order (the window's default RANGE frame — sizes are distinct, so
    // it is the running prefix sum), and the prefix cut. coalesce
    // handles the empty histogram (nothing over-cap => cut = vcap),
    // the same dormant short-circuit the Spark side takes.
    val escCtes =
      if (escalateBudget <= 0L) ""
      else s"""
         |ehist AS (SELECT vn, count(*) AS nb FROM (
         |    SELECT DISTINCT c, chunk, c2, vkey, vn FROM vkn
         |    WHERE vn > $vcap)
         |  GROUP BY vn),
         |ecum AS (SELECT vn, sum(nb * ((vn * (vn - 1)) // 2))
         |    OVER (ORDER BY vn) AS cw FROM ehist),
         |ecut AS (SELECT coalesce((SELECT max(vn) FROM ecum
         |    WHERE cw <= $escalateBudget * (SELECT count(*) FROM ds)),
         |  $vcap) AS cut),""".stripMargin
    val effCap =
      if (escalateBudget <= 0L) vcap else "(SELECT cut FROM ecut)"
    s"""ds AS (SELECT DISTINCT simhash FROM sig),
       |dch AS (SELECT simhash, c, (simhash >> (c * 12)) & 4095 AS chunk
       |  FROM ds, (SELECT unnest([0, 1, 2, 3]) AS c)),
       |b1 AS (SELECT *, count(*) OVER (PARTITION BY c, chunk) AS k FROM dch),
       |cl AS (SELECT x.simhash AS sa, y.simhash AS sb
       |  FROM (SELECT * FROM b1 WHERE k <= $cap) x
       |  JOIN (SELECT * FROM b1 WHERE k <= $cap) y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.simhash < y.simhash),
       |vk AS (SELECT b.simhash, b.c, b.chunk, o.c2,
       |    xor((b.simhash >> (o.c2 * 12)) & 4095, f.flip) AS vkey
       |  FROM (SELECT * FROM b1 WHERE k > $cap) b,
       |    (SELECT unnest([0, 1, 2, 3]) AS c2) o,
       |    (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]) AS flip) f
       |  WHERE o.c2 <> b.c),
       |vkn AS (SELECT *, count(*) OVER (PARTITION BY c, chunk, c2, vkey) AS vn
       |  FROM vk),$escCtes
       |vcl AS (SELECT x.simhash AS sa, y.simhash AS sb
       |  FROM (SELECT * FROM vkn WHERE vn <= $effCap) x
       |  JOIN (SELECT * FROM vkn WHERE vn <= $effCap) y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.c2 = y.c2
       |      AND x.vkey = y.vkey AND x.simhash < y.simhash),
       |vover AS (SELECT * FROM vkn WHERE vn > $effCap),
       |vwin AS (SELECT sa, sb FROM ($winSelects) WHERE sb IS NOT NULL),
       |sp AS (SELECT DISTINCT sa, sb FROM
       |    (SELECT * FROM cl UNION ALL SELECT * FROM vcl
       |     UNION ALL SELECT * FROM vwin)
       |  WHERE bit_count(xor(sa, sb)) <= $maxHamming),
       |crossp AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
       |    greatest(a.doc_id, b.doc_id) AS id_b,
       |    bit_count(xor(sp.sa, sp.sb)) AS hamming
       |  FROM sp JOIN sig a ON a.simhash = sp.sa
       |    JOIN sig b ON b.simhash = sp.sb),
       |gm AS (SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS m,
       |    lead(doc_id) OVER (PARTITION BY simhash ORDER BY doc_id) AS nx
       |  FROM sig),
       |intra AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, 0 AS hamming
       |  FROM (SELECT * FROM gm WHERE m <= $cap) x
       |  JOIN (SELECT * FROM gm WHERE m <= $cap) y
       |    ON x.simhash = y.simhash AND x.doc_id < y.doc_id
       |  UNION ALL
       |  SELECT doc_id, nx, 0 FROM gm WHERE m > $cap AND nx IS NOT NULL),
       |cand AS (SELECT id_a, id_b, hamming FROM crossp
       |  UNION ALL SELECT id_a, id_b, hamming FROM intra)""".stripMargin
  }

  /** SimHash recall contract under a FIRING level-1 cap (SparkEntry
    * `simhash_recall`): the exact member-level clique and the full
    * capped pipeline ([[simhashCandCtes]] — distinct-sim banding,
    * variant-join rescue at the production variantCap, window degrade,
    * group expansion) both replayed verbatim, then one row of
    * (n_exact, n_capped, n_hit). With the variant guard dormant the
    * rescue is EXACT by pigeonhole, so the contract pins
    * n_hit = n_capped = n_exact while 100+ level-1 buckets fire. */
  def simhashRecall(maxHamming: Int, cap: Int,
      vcap: Int = graft.operators.DedupOps.SimMaxBucket,
      escalateBudget: Long = 0L): String =
    s"""WITH $simhashSigCte,
       |${simhashCandCtes(maxHamming, cap.toString, vcap.toString,
           graft.operators.DedupOps.SimVariantWindow, escalateBudget)},
       |cp AS (SELECT id_a, id_b, hamming FROM cand),
       |ex AS (SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
       |  FROM (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |      x.simhash AS sa, y.simhash AS sb
       |    FROM (SELECT doc_id, simhash, c,
       |        (simhash >> (c * 12)) & 4095 AS chunk
       |      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS c)) x
       |    JOIN (SELECT doc_id, simhash, c,
       |        (simhash >> (c * 12)) & 4095 AS chunk
       |      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS c)) y
       |      ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
       |  WHERE bit_count(xor(sa, sb)) <= $maxHamming)
       |SELECT
       |  (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM cp) AS n_capped,
       |  (SELECT count(*) FROM (
       |    SELECT * FROM ex INTERSECT SELECT * FROM cp)) AS n_hit""".stripMargin

  def simhashNearDup(maxHamming: Int): String =
    s"""WITH $simhashSigCte,
       |chunks AS (SELECT doc_id, simhash, c, (simhash >> (c * 12)) & 4095 AS chunk
       |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS c)),
       |pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= $maxHamming""".stripMargin

  /** Sequential-fold cosine knn (SimilarityOps.bruteForceKnn). */
  def knnBruteForce(probeEvery: Int, k: Int): String = {
    val dotPN = "list_reduce(list_transform(generate_series(1, 64), i -> p.pvec[i] * n.vec[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (SELECT vec_id AS probe_id, vec AS pvec, nrm AS pnrm
       |  FROM n WHERE vec_id % $probeEvery = 0),
       |s AS (SELECT p.probe_id, n.vec_id,
       |    $dotPN / (p.pnrm * n.nrm) AS sim
       |  FROM p, n WHERE n.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** [[knnBruteForce]] over an EXPLICIT probe source (`(vec_id, vec
    * DOUBLE[])`): the truth side of the off-manifold recall contract.
    * Probe norms are folded from the probe vectors directly — for
    * in-corpus probes this is the identical IEEE sequence the shared-n
    * form computes. */
  def knnBruteForceFrom(probesSql: String, k: Int): String = {
    val dotPN = "list_reduce(list_transform(generate_series(1, 64), i -> p.pvec[i] * n.vec[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |pv AS ($probesSql),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (SELECT vec_id AS probe_id, vec AS pvec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS pnrm
       |  FROM pv),
       |s AS (SELECT p.probe_id, n.vec_id,
       |    $dotPN / (p.pnrm * n.nrm) AS sim
       |  FROM p, n WHERE n.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** IVF knn (SimilarityOps.ivfKnn): the oracle reproduces the EXACT
    * bucketing — bounded md5-hash centroid sample (same
    * `('0x'||substr(md5,1,15))::BIGINT % (N div C)` arithmetic), rank-1
    * nearest-centroid assignment, nprobe probe buckets, fold-ordered
    * cosine re-rank with the same (sim DESC, id) tie-break. */
  /** IVF sampling step mirroring [[graft.operators.SimilarityOps
    * .ivfCentroids]]: fixed targetC when positive, else the scale-aware
    * C = max(4, ⌈√N⌉) (√/⌈⌉ are IEEE-exact in both engines, so the same
    * count yields the same C). */
  private def ivfStepSql(countSql: String, targetC: Int): String =
    if (targetC > 0) s"greatest($countSql // $targetC, 1)"
    else s"greatest($countSql // greatest(4, " +
      s"CAST(ceil(sqrt(CAST($countSql AS DOUBLE))) AS BIGINT)), 1)"

  def knnIvf(probeEvery: Int, k: Int, targetC: Int, nprobe: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM v),
       |c AS (SELECT vec_id AS cent_id, vec AS cent_vec, nrm AS cnrm FROM n
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql("(SELECT count(*) FROM v)", targetC)} = 0),
       |caw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${dot("n.vec", "c.cent_vec")} / (n.nrm * c.cnrm) AS csim
       |  FROM n, c),
       |ca AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM caw) WHERE crank = 1),
       |pw AS (SELECT p.vec_id AS probe_id, p.vec AS pvec, p.nrm AS pnrm, c.cent_id,
       |    ${dot("p.vec", "c.cent_vec")} / (p.nrm * c.cnrm) AS csim
       |  FROM (SELECT * FROM n WHERE vec_id % $probeEvery = 0) p, c),
       |pb AS (SELECT probe_id, pvec, pnrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM pw) WHERE crank <= $nprobe),
       |s AS (SELECT pb.probe_id, ca.vec_id,
       |    ${dot("pb.pvec", "ca.vec")} / (pb.pnrm * ca.nrm) AS sim
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** LSH knn (SimilarityOps.lshKnn): sign-bit bucketing against the
    * md5-derived hyperplanes — the plane constants are embedded from the
    * SAME [[graft.operators.SimilarityOps.lshPlanes]] call, each float
    * widened to double and rendered via a round-tripping string cast
    * (`CAST('<shortest-repr>' AS DOUBLE)`, never a bare decimal literal,
    * which DuckDB would type DECIMAL and double-round) — then 1-bit
    * multiprobe and the same fold-ordered cosine re-rank. */
  def knnLsh(probeEvery: Int, k: Int, nPlanes: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    val planeRows = graft.operators.SimilarityOps.lshPlanes(nPlanes)
      .zipWithIndex.map { case (row, p) =>
        row.map(f => s"CAST('${f.toDouble}' AS DOUBLE)")
          .mkString(s"($p, [", ", ", "])")
      }.mkString(",\n  ")
    s"""WITH pl AS (SELECT * FROM (VALUES
       |  $planeRows) t(p, pvec)),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM v),
       |bk AS (SELECT n.vec_id,
       |    CAST(SUM(CASE WHEN ${dot("n.vec", "pl.pvec")} > 0.0
       |      THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY n.vec_id),
       |b AS (SELECT n.vec_id, n.vec, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id)),
       |pb AS (SELECT vec_id AS probe_id, vec AS pvec, nrm AS pnrm,
       |    unnest(list_prepend(bucket, list_transform(
       |      generate_series(0, ${nPlanes - 1}),
       |      p -> xor(bucket, 1::BIGINT << p)))) AS bucket
       |  FROM b WHERE vec_id % $probeEvery = 0),
       |s AS (SELECT pb.probe_id, b.vec_id,
       |    ${dot("pb.pvec", "b.vec")} / (pb.pnrm * b.nrm) AS sim
       |  FROM b JOIN pb USING (bucket)
       |  WHERE b.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  val tumbling1h: String =
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       |  count(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  def sessionize(gapMinutes: Int): String =
    s"""WITH g AS (SELECT user_id, ts, event_id,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM f)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(ts) AS session_start, max(ts) AS session_end
       |FROM s GROUP BY user_id, session_seq""".stripMargin

  /** Session-scoped conversion over per-event session labels. */
  def sessionConversion(gapMinutes: Int): String =
    s"""WITH g AS (SELECT user_id, ts, event_id, event_type,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id, event_type,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts, event_type,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM f)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
       |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
       |  (min(CASE WHEN event_type = 'click' THEN ts END)
       |     < min(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
       |FROM s GROUP BY user_id, session_seq""".stripMargin

  /** Union + last_value as-of join (AnalyticOps.asofJoin): purchases pick
    * the most recent click at ts ≤ theirs, clicks sorting first on ties. */
  val asofClickPurchase: String =
    s"""WITH u AS (
       |  SELECT user_id, ts, 1 AS side, event_id AS lid, NULL::BIGINT AS rid
       |    FROM events WHERE event_type = 'purchase'
       |  UNION ALL
       |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS lid, event_id AS rid
       |    FROM events WHERE event_type = 'click'),
       |w AS (SELECT user_id, ts, side, lid,
       |  last_value(rid IGNORE NULLS) OVER (PARTITION BY user_id
       |    ORDER BY ts, side, rid ROWS UNBOUNDED PRECEDING) AS asof_rid
       |  FROM u)
       |SELECT lid AS event_id, user_id, ts, asof_rid AS asof_event_id
       |FROM w WHERE side = 1""".stripMargin

  /** Shared gap-sessionization CTE chain → `sess(user_id, st, en)`. */
  private def sessCtes(gapMinutes: Int): String =
    s"""g AS (SELECT user_id, ts, event_id,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (SELECT user_id, ts, event_id,
       |  CASE WHEN prev_ts IS NULL
       |    OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |s AS (SELECT user_id, ts,
       |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS seq
       |  FROM f),
       |sess AS (SELECT user_id, min(ts) AS st, max(ts) AS en
       |  FROM s GROUP BY user_id, seq)""".stripMargin

  /** Session-overlap pairs (range × range) — the oracle verifies the
    * raw overlap predicate the bucketed join candidates are checked
    * against. */
  def sessionOverlapPairs(gapMinutes: Int): String =
    s"""WITH ${sessCtes(gapMinutes)}
       |SELECT a.user_id AS user_a, a.st AS start_a,
       |  b.user_id AS user_b, b.st AS start_b
       |FROM sess a JOIN sess b
       |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en""".stripMargin

  /** The bounded top-k overlap chain (AnalyticOps.topKOverlapsPerSession
    * replayed verbatim): per-bucket candidates pruned to the `candM`
    * longest sessions (longest-first, (user, start) tie-break — part of
    * the operator's deterministic semantics, so replayable at any
    * scale), pairs deduped across buckets, exact-verified, scored by
    * floored-second intersection, ranked per session. Second-floor
    * arithmetic is epoch_us // 1000000 on both sides (Spark
    * unix_timestamp floors to seconds; date_diff('second') would match
    * too but the // form keeps every intermediate an exact BIGINT). */
  private def topkOverlapCtes(p: String, bucketSec: Long,
      candM: String): String = {
    def floorSec(c: String) = s"(epoch_us($c) // 1000000)"
    def bucket(c: String) = s"(${floorSec(c)} // $bucketSec)"
    s"""${p}bl AS (SELECT user_id AS user_a, st AS start_a, en AS end_a,
       |  unnest(generate_series(${bucket("st")}, ${bucket("en")})) AS b
       |  FROM sess),
       |${p}br0 AS (SELECT user_id AS user_b, st AS start_b, en AS end_b,
       |  ${floorSec("en")} - ${floorSec("st")} AS len,
       |  unnest(generate_series(${bucket("st")}, ${bucket("en")})) AS b
       |  FROM sess),
       |${p}br AS (SELECT user_b, start_b, end_b, b FROM (
       |  SELECT *, row_number() OVER (PARTITION BY b
       |    ORDER BY len DESC, user_b, start_b) AS r
       |  FROM ${p}br0) WHERE r <= $candM),
       |${p}cand AS (SELECT DISTINCT user_a, start_a, end_a, user_b, start_b, end_b
       |  FROM ${p}bl JOIN ${p}br ON ${p}bl.b = ${p}br.b AND user_a <> user_b),
       |${p}ov AS (SELECT user_a, start_a, user_b, start_b,
       |    ${floorSec("least(end_a, end_b)")} -
       |      ${floorSec("greatest(start_a, start_b)")} AS overlap_sec
       |  FROM ${p}cand WHERE start_a <= end_b AND start_b <= end_a),
       |${p}tk AS (SELECT user_a AS user_id, start_a AS session_start,
       |    user_b AS partner_user, start_b AS partner_start, overlap_sec,
       |    row_number() OVER (PARTITION BY user_a, start_a
       |      ORDER BY overlap_sec DESC, user_b, start_b) AS rank
       |  FROM ${p}ov)""".stripMargin
  }

  def sessionTopkOverlaps(gapMinutes: Int, k: Int, bucketSec: Long,
      candM: Int): String =
    s"""WITH ${sessCtes(gapMinutes)},
       |${topkOverlapCtes("", bucketSec, candM.toString)}
       |SELECT * FROM tk WHERE rank <= $k""".stripMargin

  /** Recall contract of the bounded form vs the exact all-candidates
    * form (same chain, candidate filter disabled): one row of counts. */
  def sessionTopkRecall(gapMinutes: Int, k: Int, bucketSec: Long,
      candM: Int): String =
    s"""WITH ${sessCtes(gapMinutes)},
       |${topkOverlapCtes("b", bucketSec, candM.toString)},
       |${topkOverlapCtes("e", bucketSec, "2147483647")}
       |SELECT
       |  (SELECT count(*) FROM etk WHERE rank <= $k) AS n_exact,
       |  (SELECT count(*) FROM btk WHERE rank <= $k) AS n_bounded,
       |  (SELECT count(*) FROM (
       |    SELECT * FROM etk WHERE rank <= $k
       |    INTERSECT
       |    SELECT * FROM btk WHERE rank <= $k)) AS n_hit""".stripMargin

  /** Forward as-of: first click at ts ≥ the purchase's, per user
    * (AnalyticOps.asofJoinForward — left rows sort first on ties). */
  val asofForwardNextClick: String =
    """WITH u AS (
      |  SELECT user_id, ts, 0 AS side, event_id AS lid, NULL::BIGINT AS rid
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS lid, event_id AS rid
      |    FROM events WHERE event_type = 'click'),
      |w AS (SELECT user_id, ts, side, lid,
      |  first_value(rid IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, side, rid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_rid
      |  FROM u)
      |SELECT lid AS event_id, user_id, ts, asof_rid AS asof_event_id
      |FROM w WHERE side = 0""".stripMargin

  /** Tolerance-bounded backward as-of: the matched click must be within
    * 3600 floored seconds before the purchase, else NULL. */
  val asofToleranceClick: String =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS side, event_id AS lid, NULL::BIGINT AS rid
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS lid, event_id AS rid
      |    FROM events WHERE event_type = 'click'),
      |w AS (SELECT user_id, ts, side, lid,
      |  last_value(rid IGNORE NULLS) OVER wp AS asof_rid,
      |  last_value(CASE WHEN rid IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS asof_ts
      |  FROM u
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, side, rid
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT lid AS event_id, user_id, ts,
      |  CASE WHEN date_diff('second', asof_ts, ts) <= 3600 THEN asof_rid END AS asof_event_id
      |FROM w WHERE side = 1""".stripMargin

  /** Point-in-time SCD2 lookup at 1995-06-01 over the merged target. */
  val scd2AsofLookup: String =
    """WITH staged AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    TIMESTAMP '1990-01-01' AS valid_from,
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM staged)
      |      THEN TIMESTAMP '2000-01-01' ELSE NULL END AS valid_to
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U' AS o_orderstatus,
      |    TIMESTAMP '2000-01-01' AS valid_from, NULL AS valid_to
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, o_orderstatus, valid_from FROM merged
      |WHERE valid_from <= TIMESTAMP '1995-06-01'
      |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-01')""".stripMargin

  /** Sliding 1h windows every 30min: each event is in exactly 2 buckets.
    * Integer µs arithmetic (make_timestamp keeps it a naive TIMESTAMP,
    * matching Spark's epoch-aligned window origin). */
  val sliding1h30m: String =
    """SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000) AS window_start,
      |  event_type, count(*) AS n_events
      |FROM events, (SELECT unnest([0, 1]) AS k)
      |GROUP BY 1, 2""".stripMargin

  /** Gap-merge session windows, end = last event + gap. The new-session
    * test is µs-exact (epoch_us difference — date_diff('second') would
    * count boundary crossings, not the true gap). */
  val sessionWindow30m: String =
    """WITH g AS (SELECT user_id, ts, event_id,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT user_id, ts, event_id,
      |  CASE WHEN prev_ts IS NULL
      |    OR (epoch_us(ts) - epoch_us(prev_ts)) >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g),
      |s AS (SELECT user_id, ts,
      |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS seq
      |  FROM f)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, seq""".stripMargin

  /** Bounded interval join: purchase within [click_ts, click_ts + 10min].
    * The 600s bound compares floored epoch seconds on both sides (Spark
    * unix_timestamp ≡ DuckDB date_diff('second')). */
  val intervalJoinClickPurchase: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      |WHERE p.ts >= c.ts AND date_diff('second', c.ts, p.ts) <= 600""".stripMargin

  def topKOrders(k: Int): String =
    s"""SELECT * FROM (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice,
       |    rank() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
       |  FROM orders) WHERE rank <= $k""".stripMargin

  /** Binary payload metadata (MultimodalOps.withBinaryColumn): utf-8
    * byte length drives the deterministic fake dimensions. */
  val multimodalMeta: String =
    """SELECT doc_id, 'fake/rgb8' AS format,
      |  CAST((octet_length(encode(text)) % 640) + 16 AS INTEGER) AS width,
      |  CAST(((octet_length(encode(text)) * 7) % 480) + 16 AS INTEGER) AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |FROM documents""".stripMargin

  val vocabDocFreq: String =
    s"""SELECT tk AS term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
       |FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS tk FROM documents)
       |GROUP BY tk""".stripMargin

  /** L2 normalization: same fold for the norm, same per-element divide.
    * Output is scalar-only (array columns break the driver's pandas
    * sort-before-hash): the norm plus the first/last unit components
    * pin down the whole normalized vector. */
  val embeddingsL2Normalized: String =
    """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |m AS (SELECT vec_id, vec,
      |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
      |  FROM n)
      |SELECT vec_id, nrm AS norm,
      |  vec[1] / nrm AS unit_first,
      |  vec[64] / nrm AS unit_last
      |FROM m""".stripMargin

  /** Quality-bar filter: recomputes the identical parenthesized double
    * expression as TextFunctions.qualityScore. Threshold is passed in
    * from the single source of truth (SparkEntry.QualityMin). */
  def qualityFilter(minQuality: Double): String =
    s"""WITH t AS (SELECT doc_id, lang, source, ${toks("text")} AS tk FROM documents)
       |SELECT doc_id, lang, source FROM t
       |WHERE ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) >= $minQuality""".stripMargin

  /** Derived-partsupp constants — the corpus ships no partsupp table, so
    * the q2/q11/q16 family runs over a DETERMINISTIC derivation (4
    * supplier rows per part, integer-hash spread; cost held in integer
    * CENTS so every downstream aggregate is exact). Shared by the Spark
    * side and the generated CTE below. */
  val PsPerPart = 4
  val PsMulKey = 7919L
  val PsMulI = 104729L
  val PsQtyMulKey = 31L
  val PsQtyMulI = 17L
  val PsQtyMod = 1000L
  val PsCostMulKey = 13L
  val PsCostMulI = 7L
  val PsCostMod = 90000L
  val PsCostBase = 1000L

  /** The partsupp derivation as a DuckDB CTE body (one row per
    * (part, i<PsPerPart)); `ps(ps_partkey, ps_suppkey, ps_availqty,
    * ps_cost_cents)`. */
  def partsuppCte: String =
    s"""ps AS (SELECT p_partkey AS ps_partkey,
       |  (p_partkey * $PsMulKey + i * $PsMulI) %
       |    (SELECT max(s_suppkey) + 1 FROM supplier) AS ps_suppkey,
       |  (p_partkey * $PsQtyMulKey + i * $PsQtyMulI) % $PsQtyMod + 1
       |    AS ps_availqty,
       |  (p_partkey * $PsCostMulKey + i * $PsCostMulI) % $PsCostMod +
       |    $PsCostBase AS ps_cost_cents
       |FROM part, LATERAL (SELECT unnest(range(0, $PsPerPart)) AS i) t)""".stripMargin

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

  val rollupLineitem: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  val joinCustomerOrders: String =
    """SELECT c_nationkey, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey""".stripMargin

  val setOpsCustomers: String =
    """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |high AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT o_custkey AS custkey FROM (
      |  SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM high)
      |UNION ALL
      |SELECT o_custkey AS custkey FROM (
      |  SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM high)""".stripMargin

  val countDistinctExact: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  val scalarFunctions: String =
    """SELECT event_id,
      |  upper(event_type) AS type_upper,
      |  substr(event_type, 1, 3) AS type_prefix,
      |  event_type || ':' || CAST(user_id AS VARCHAR) AS type_user,
      |  year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
      |  abs(value - 50.0) AS dist50,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
      |  levenshtein(event_type, 'click') AS lev_click,
      |  CAST(user_id AS VARCHAR) || '-' || CAST(event_id AS VARCHAR) AS id_pair_str,
      |  greatest(user_id, event_id) AS id_max,
      |  length(props) AS props_len
      |FROM events""".stripMargin

  /** Pivot as conditional aggregation (identical result to Spark's pivot
    * with fixed values; count() over no rows → 0 via the fill). */
  val pivotUserEvents: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin

  val ntileQuartiles: String =
    """SELECT o_orderkey, o_totalprice,
      |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      |FROM orders""".stripMargin

  val top1LatestError: String =
    """SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
      |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin

  val cubeEvents: String =
    """SELECT event_type, hour(ts) AS h, count(*) AS n
      |FROM events GROUP BY CUBE (event_type, hour(ts))""".stripMargin

  val q3ShippingPriority: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderdate, o_orderpriority,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |    rank() OVER (ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) DESC,
      |      o_orderkey) AS rank
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN (SELECT c_custkey FROM customer WHERE c_nationkey < 5) c
      |    ON o_custkey = c_custkey
      |  GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |) WHERE rank <= 10""".stripMargin

  val q6RevenueBand: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin

  val ordersByMonth: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |  count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1""".stripMargin

  val leftJoinCounts: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin

  val fullOuterFlags: String =
    """WITH u AS (SELECT DISTINCT o_custkey AS uk FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |h AS (SELECT DISTINCT o_custkey AS hk FROM orders
      |  WHERE o_orderpriority = '2-HIGH')
      |SELECT coalesce(uk, hk) AS custkey,
      |  uk IS NOT NULL AS has_urgent,
      |  hk IS NOT NULL AS has_high
      |FROM u FULL OUTER JOIN h ON uk = hk""".stripMargin

  val semiAntiOrders: String =
    """SELECT c_custkey, 'has_urgent' AS tag FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT c_custkey, 'no_orders' AS tag FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** lag/lead + running/moving aggregates. Moving average is written as
    * decimal-sum / count (one double division) on both sides so the
    * summation order can't produce differing floats. */
  val windowRunningUser: String =
    """SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_event_id,
      |  lead(event_id) OVER w AS next_event_id,
      |  row_number() OVER w AS seq,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS cum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE)
      |    / CAST(COUNT(*) OVER w3 AS DOUBLE) AS avg3
      |FROM events
      |WINDOW
      |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
      |  wc AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
      |  w3 AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  val errorRateByHour: String =
    """SELECT hour(ts) AS h, count(*) AS n,
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS error_rate
      |FROM events GROUP BY hour(ts)""".stripMargin

  /** Pearson r from exact sums, fixed op order (sx2 VARCHAR-routed: the
    * scale-12 sum exceeds 2^53 scaled units). Spark sum(value*k) where
    * k is BIGINT widens the decimal the same way DuckDB's does. */
  val corrValueK: String =
    """WITH e AS (SELECT value,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
      |a AS (SELECT count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6)) * k) AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx2,
      |  CAST(CAST(SUM(k * k) AS BIGINT) AS DOUBLE) AS sy2
      |FROM e)
      |SELECT n,
      |  (sxy - ((sx * sy) / CAST(n AS DOUBLE)))
      |    / (sqrt(sx2 - ((sx * sx) / CAST(n AS DOUBLE)))
      |       * sqrt(sy2 - ((sy * sy) / CAST(n AS DOUBLE)))) AS corr_vk
      |FROM a""".stripMargin

  val percentRankValues: String =
    """SELECT event_id, event_type,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM events WHERE event_id % 20 = 0
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin

  val groupingSetsEvents: String =
    """SELECT event_type, hour(ts) AS h, count(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), ())""".stripMargin

  val percentilesByType: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.25) AS p25,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.75) AS p75
      |FROM events GROUP BY event_type""".stripMargin

  /** Mean/variance/stddev from exact decimal sums, derived in the same
    * fixed IEEE op order as the Spark query. The scale-12 sum exceeds
    * 2^53 in scaled units, and DuckDB's decimal→double double-rounds
    * (hugeint→double, then /10^scale); casting through VARCHAR forces
    * the single correct rounding Spark's cast performs. */
  val statsMomentsByType: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_v2
      |FROM events GROUP BY event_type)
      |SELECT event_type, n, sum_v / CAST(n AS DOUBLE) AS mean,
      |  (sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0) AS var_v,
      |  sqrt((sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0)) AS std_v
      |FROM a""".stripMargin

  val funnelViewClickPurchase: String =
    """SELECT user_id,
      |  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
      |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
      |  (min(CASE WHEN event_type = 'view' THEN ts END)
      |     < min(CASE WHEN event_type = 'click' THEN ts END))
      |  AND (min(CASE WHEN event_type = 'click' THEN ts END)
      |     < min(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
      |FROM events GROUP BY user_id""".stripMargin

  val retentionCohorts: String =
    """WITH cohort AS (SELECT user_id,
      |  CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events)
      |SELECT cohort_week, active_week, count(DISTINCT active.user_id) AS n_users
      |FROM active JOIN cohort ON active.user_id = cohort.user_id
      |GROUP BY cohort_week, active_week""".stripMargin

  val userEventSequences: String =
    """SELECT user_id,
      |  string_agg(event_type, '->' ORDER BY ts, event_id) AS sequence,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** Word-bigram counts over the NON-normalized text (wordBigrams
    * normalizes internally — lower + whitespace collapse). */
  val bigramCounts: String =
    s"""WITH $bigramsCte,
       |b AS (SELECT doc_id, unnest(sh) AS bigram FROM bg)
       |SELECT bigram, count(DISTINCT doc_id) AS df, count(*) AS tf
       |FROM b GROUP BY bigram HAVING count(DISTINCT doc_id) >= 5""".stripMargin

  /** Corpus-commonness score: mean corpus frequency of a doc's bigrams
    * (exact integer sum, one double division). */
  val docCommonness: String =
    s"""WITH $bigramsCte,
       |b AS (SELECT doc_id, unnest(sh) AS bigram FROM bg),
       |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY bigram)
       |SELECT doc_id,
       |  CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS commonness,
       |  count(*) AS n_bigrams
       |FROM b JOIN c USING (bigram) GROUP BY doc_id""".stripMargin

  /** Duplicate-cluster size distribution over the CC components. */
  def ccClusterSizesFrom(ccSql: String): String =
    s"""SELECT csize, count(*) AS n_clusters FROM (
       |  SELECT component, count(*) AS csize FROM (
       |$ccSql
       |  ) GROUP BY component) GROUP BY csize""".stripMargin

  def ccClusterSizes(t0Sql: String, minJaccard: Double): String =
    ccClusterSizesFrom(ccComponents(t0Sql, minJaccard))

  def ccClusterSizesBanded(t0Sql: String, minEst: Double): String =
    ccClusterSizesFrom(ccComponentsBanded(t0Sql, minEst))

  /** SQL twin of the typed mapGroups digest. */
  val userDigestTyped: String =
    """SELECT user_id, count(*) AS n_events,
      |  min(ts) AS first_ts, max(ts) AS last_ts,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen
      |FROM events GROUP BY user_id""".stripMargin

  val typeUserJaccard: String =
    """WITH s AS (SELECT event_type, count(DISTINCT user_id) AS n FROM events GROUP BY 1),
      |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.n AS n_a, b.n AS n_b
      |  FROM s a JOIN s b ON a.event_type < b.event_type),
      |common AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    count(*) AS common
      |  FROM (SELECT DISTINCT event_type, user_id FROM events) x
      |  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b,
      |  CAST(coalesce(c.common, 0) AS BIGINT) AS common,
      |  CAST(coalesce(c.common, 0) AS DOUBLE)
      |    / CAST((p.n_a + p.n_b) - coalesce(c.common, 0) AS DOUBLE) AS jaccard
      |FROM pairs p LEFT JOIN common c
      |  ON p.type_a = c.type_a AND p.type_b = c.type_b""".stripMargin

  /** DAU + trailing-7d WAU per active day (join form of the same
    * distinct counts). */
  val dauWau: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
      |wau AS (SELECT d2.day, count(DISTINCT d1.user_id) AS wau
      |  FROM ud d1 JOIN (SELECT DISTINCT day FROM ud) d2
      |    ON d2.day >= d1.day AND d2.day <= d1.day + INTERVAL 6 DAY
      |  GROUP BY d2.day)
      |SELECT dau.day AS day, dau, wau FROM dau JOIN wau ON dau.day = wau.day""".stripMargin

  val minmaxByEvents: String =
    """SELECT event_type,
      |  arg_max(user_id, event_id) AS last_user,
      |  arg_min(user_id, event_id) AS first_user,
      |  max(event_id) AS max_event_id
      |FROM events GROUP BY event_type""".stripMargin

  /** Date/time scalar family. DuckDB dayofweek is 0-based (Sunday=0);
    * Spark's is 1-based — hence the +1. Date results are cast to
    * TIMESTAMP on both sides for a uniform compare dtype. */
  val dateFunctionsOrders: String =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS omonth,
      |  quarter(o_orderdate) AS q,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS d30,
      |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS dlast,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
      |FROM orders""".stripMargin

  val regexpExtractProps: String =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
      |FROM events WHERE regexp_matches(props, '"k": [0-9]+')""".stripMargin

  val stringFunctions: String =
    """SELECT event_id,
      |  lpad(event_type, 10, '.') AS padded_l,
      |  rpad(event_type, 10, '.') AS padded_r,
      |  replace(event_type, 'e', '3') AS leeted,
      |  reverse(event_type) AS rev,
      |  substr(event_type, 2, 3) AS mid,
      |  repeat(event_type, 2) AS doubled,
      |  instr(event_type, 'c') AS c_pos,
      |  concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS joined,
      |  ltrim(rtrim(event_type)) AS trimmed,
      |  split_part(props, '{', -1) AS after_brace
      |FROM events""".stripMargin

  /** Array family over whitespace tokens; DuckDB list_position returns
    * NULL where Spark array_position returns 0 — coalesced. */
  val arrayFunctions: String =
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS tk FROM documents)
       |SELECT doc_id,
       |  len(tk) AS n,
       |  array_to_string(tk[1:3], ' ') AS first3,
       |  list_contains(tk, 'the') AS has_the,
       |  coalesce(list_position(tk, 'the'), 0) AS pos_the,
       |  len(list_distinct(tk)) AS n_distinct,
       |  tk[-1] AS last_tok
       |FROM t""".stripMargin

  val bitwiseFunctions: String =
    """SELECT event_id,
      |  event_id & 255 AS lo_byte,
      |  event_id | 4096 AS with_flag,
      |  xor(event_id, user_id) AS xored,
      |  event_id << 3 AS shl3,
      |  event_id >> 2 AS shr2,
      |  bit_count(event_id) AS popcount
      |FROM events""".stripMargin

  /** Quality deciles via ntile over the identical double score. */
  val qualityDeciles: String =
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS tk FROM documents),
       |q AS (SELECT doc_id,
       |  ((0.4 * (CAST(${hits("tk", StopEn)} AS DOUBLE) / CAST(len(tk) AS DOUBLE)))
       |    + (0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 200.0)))
       |    + (0.3 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))) AS quality
       |FROM t)
       |SELECT doc_id, ntile(10) OVER (ORDER BY quality, doc_id) AS decile FROM q""".stripMargin

  /** Per-type z-scores from the exact-decimal moments (same derivation
    * as statsMomentsByType; VARCHAR-routed double cast for the scale-12
    * sum). */
  val standardizedValues: String =
    """WITH a AS (SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_v2
      |FROM events GROUP BY event_type),
      |m AS (SELECT event_type, sum_v / CAST(n AS DOUBLE) AS mean,
      |  sqrt((sum_v2 - ((sum_v * sum_v) / CAST(n AS DOUBLE)))
      |    / (CAST(n AS DOUBLE) - 1.0)) AS std
      |FROM a)
      |SELECT event_id, events.event_type AS event_type,
      |  (value - mean) / std AS z
      |FROM events JOIN m ON events.event_type = m.event_type
      |WHERE event_id % 50 = 0""".stripMargin

  val nullHandling: String =
    """SELECT o_orderkey,
      |  nullif(o_orderstatus, 'O') AS maybe_status,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or,
      |  CASE WHEN o_totalprice > 300000.0 THEN o_totalprice END AS big_or_null,
      |  CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
      |    THEN 1 ELSE 0 END AS has_status,
      |  greatest(o_custkey, o_orderkey % 1000) AS g,
      |  least(o_custkey, o_orderkey % 1000) AS l
      |FROM orders""".stripMargin

  val havingBigCustomers: String =
    """SELECT o_custkey, count(*) AS n_orders, max(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 12""".stripMargin

  def tokenCounts(bpeRe: String): String =
    s"""SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       |  len(regexp_extract_all(text, '${q(bpeRe)}')) AS bpe_tokens
       |FROM documents""".stripMargin

  /** Per-label centroid norms: 2^-24 fixed-point element sums (decimal
    * casts of floats are NOT cross-engine stable; floor(x*2^24) is),
    * then one pos-ordered double fold (DuckDB `list(x ORDER BY pos)` ≡
    * Spark `array_sort(collect_list(struct(pos, x)))`). */
  val labelCentroidNorms: String =
    """WITH e AS (SELECT label, i - 1 AS pos, embedding[i] AS x
      |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
      |s AS (SELECT label, pos,
      |  SUM(CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS s,
      |  count(*) AS n
      |  FROM e GROUP BY label, pos)
      |SELECT label, min(n) AS n_vectors,
      |  sqrt(list_reduce(
      |    list_transform(
      |      list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) ORDER BY pos),
      |      m -> m * m),
      |    (a, b) -> a + b)) AS centroid_norm
      |FROM s GROUP BY label""".stripMargin

  /** Exact all-pairs cosine over the planted embedding corpus (every
    * 20th vector ∪ a copy with the last component zeroed). Same
    * sequential fold as the Spark side. */
  def embeddingNearDup(minSim: Double): String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |pl AS (SELECT vec_id, vec FROM base
       |  UNION ALL
       |  SELECT vec_id + 10000000, list_concat(list_slice(vec, 1, 63), [0.0]) FROM base),
       |n AS (SELECT vec_id, vec,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64), i -> vec[i] * vec[i]), (a, b) -> a + b)) AS nrm
       |  FROM pl),
       |s AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  list_reduce(list_transform(generate_series(1, 64), i -> x.vec[i] * y.vec[i]), (a, b) -> a + b)
       |    / (x.nrm * y.nrm) AS sim
       |  FROM n x JOIN n y ON x.vec_id < y.vec_id)
       |SELECT id_a, id_b, sim FROM s WHERE sim >= $minSim""".stripMargin

  /** SemDeDup keep list (SimilarityOps.semDedup on the planted corpus):
    * same md5-modulo centroid sample and rank-1 assignment as the IVF
    * oracle, then drop rows with a lower-id cluster-mate at cosine ≥
    * threshold. Fold-ordered dots keep every double bit-identical. */
  def semdedupKeep(minSim: Double, targetC: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |pl AS (SELECT vec_id, vec FROM base
       |  UNION ALL
       |  SELECT vec_id + 10000000, list_concat(list_slice(vec, 1, 63), [0.0]) FROM base),
       |n AS (SELECT vec_id, vec,
       |  sqrt(${dot("vec", "vec")}) AS nrm
       |  FROM pl),
       |c AS (SELECT vec_id AS cent_id, vec AS cent_vec, nrm AS cnrm FROM n
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql("(SELECT count(*) FROM pl)", targetC)} = 0),
       |aw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${dot("n.vec", "c.cent_vec")} / (n.nrm * c.cnrm) AS csim
       |  FROM n, c),
       |a AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank
       |  FROM aw) WHERE crank = 1),
       |dropped AS (SELECT DISTINCT x.vec_id
       |  FROM a x JOIN a y ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id
       |  WHERE ${dot("x.vec", "y.vec")} / (x.nrm * y.nrm) >= $minSim)
       |SELECT vec_id, cent_id FROM a
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin
  }

  /** Generalized deterministic-kmeans CTE chain over `v$sfx` (which must
    * provide `(vec_id, vec DOUBLE[dim])`): hash-sample seeds `c0$sfx`,
    * then `iters` unrolled Lloyd iterations — fold-ordered L2 distances,
    * (d2, cent_id) tie-break, 2^24 fixed-point per-dimension means
    * (integer division truncates toward zero in BOTH engines). The
    * suffix keeps several chains composable in one query (the PQ oracle
    * trains one chain per subspace). */
  private def kmeansChain(sfx: String, dim: Int, targetC: Int,
      iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""a$k${sfx}w AS (SELECT v.vec_id, v.vec, c.cent_id,
         |    list_reduce(list_transform(generate_series(1, $dim),
         |      i -> (v.vec[i] - c.cent_vec[i]) * (v.vec[i] - c.cent_vec[i])),
         |      (a, b) -> a + b) AS d2
         |  FROM v$sfx v, c${k - 1}$sfx c),
         |a$k$sfx AS (SELECT vec_id, vec, cent_id FROM (
         |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
         |  FROM a$k${sfx}w) WHERE r = 1),
         |m$k$sfx AS (SELECT cent_id, i AS pos, count(*) AS n,
         |    SUM(CAST(floor(vec[i] * 16777216) AS BIGINT)) AS s
         |  FROM a$k$sfx, (SELECT unnest(generate_series(1, $dim)) AS i) g
         |  GROUP BY cent_id, i),
         |c$k$sfx AS (SELECT cent_id, min(n) AS n_members,
         |    list(CAST(s // n AS DOUBLE) / CAST(16777216 AS DOUBLE) ORDER BY pos)
         |      AS cent_vec
         |  FROM m$k$sfx GROUP BY cent_id)""".stripMargin
    }.mkString(",\n")
    s"""c0$sfx AS (SELECT vec_id AS cent_id, vec AS cent_vec FROM v$sfx
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % ${ivfStepSql(s"(SELECT count(*) FROM v$sfx)", targetC)} = 0),
       |$iterCtes""".stripMargin
  }

  /** The full-vector kmeans CTE list (v, c0..c`iters`) — the shared
    * prefix of every trained-quantizer oracle. Exposed as a value so
    * composing oracles append to it instead of re-parsing rendered SQL
    * (round-5 ADVICE: the old `indexOf("\\nSELECT cent_id")` surgery). */
  /** Scale-aware exact-rerank depth as a DuckDB scalar subquery over
    * the corpus CTE `v` — the SQL restatement of
    * [[graft.operators.SimilarityOps.autoRerankStats]]'s `auto_r`:
    * `greatest(floor, (⌈√N⌉·4) // 3)`. √, ⌈⌉ and integer division are
    * exact in both engines, so the depth the oracle applies equals the
    * engine's at ANY corpus scale (the gate scales sit at the floor;
    * the sf1/100× ledger corpora exercise the √N branch). Pass as the
    * `rerank` argument of the knn generators; fixed-depth callers pass
    * the literal. */
  def autoRerankSql: String =
    s"SELECT greatest(${graft.operators.SimilarityOps.AutoRerankFloor}, " +
      "(cast(ceil(sqrt(cast(count(*) as double))) as bigint) * 4) // 3) FROM v"

  private def kmeansCtePrefix(targetC: Int, iters: Int): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |${kmeansChain("", 64, targetC, iters)}""".stripMargin

  /** Deterministic k-means final centroids (ClusterOps.kmeans). */
  def kmeansCentroids(targetC: Int, iters: Int): String =
    s"""WITH ${kmeansCtePrefix(targetC, iters)}
       |SELECT cent_id, CAST(n_members AS BIGINT) AS n_members,
       |  sqrt(list_reduce(list_transform(generate_series(1, 64),
       |    i -> cent_vec[i] * cent_vec[i]), (a, b) -> a + b)) AS centroid_norm
       |FROM c$iters""".stripMargin

  /** IVF over the trained quantizer (SimilarityOps.ivfKnnTrained): L2
    * rank-1 corpus buckets / rank<=nprobe probe buckets against the
    * final kmeans CTE, fold-ordered cosine re-rank. */
  def knnIvfTrained(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    def d2(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |n AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM v),
       |caw AS (SELECT n.vec_id, n.vec, n.nrm, c.cent_id,
       |    ${d2("n.vec", "c.cent_vec")} AS d2
       |  FROM n, c$iters c),
       |ca AS (SELECT vec_id, vec, nrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |pw AS (SELECT p.vec_id AS probe_id, p.vec AS pvec, p.nrm AS pnrm, c.cent_id,
       |    ${d2("p.vec", "c.cent_vec")} AS d2
       |  FROM (SELECT * FROM n WHERE vec_id % $probeEvery = 0) p, c$iters c),
       |pb AS (SELECT probe_id, pvec, pnrm, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY d2, cent_id) AS cr
       |  FROM pw) WHERE cr <= $nprobe),
       |s AS (SELECT pb.probe_id, ca.vec_id,
       |    ${dot("pb.pvec", "ca.vec")} / (pb.pnrm * ca.nrm) AS sim
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** Per-vector cluster map against the refined centroids
    * (ClusterOps.kmeansAssign after kmeans): one more rank-1 assignment
    * over the final CTE. */
  def kmeansAssignments(targetC: Int, iters: Int): String = {
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |fw AS (SELECT v.vec_id, c.cent_id,
       |    list_reduce(list_transform(generate_series(1, 64),
       |      i -> (v.vec[i] - c.cent_vec[i]) * (v.vec[i] - c.cent_vec[i])),
       |      (a, b) -> a + b) AS d2
       |  FROM v, c$iters c)
       |SELECT vec_id, cent_id, d2 FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
       |  FROM fw) WHERE r = 1""".stripMargin
  }

  /** The gate probes: every `probeEvery`-th corpus vector (what a DuckDB
    * oracle can reproduce from the tables alone). Probe-source SQL must
    * yield `(vec_id, vec DOUBLE[])`. */
  private[graft] def defaultProbesSql(probeEvery: Int): String =
    s"SELECT vec_id, vec FROM v WHERE vec_id % $probeEvery = 0"

  /** The corpus `knn_ivf_incremental` searches: `v` plus the planted
    * arrivals (every 20th vector, last component zeroed, id + 10000000 —
    * the embedding_near_dup planting). Pass as
    * [[knnIvfPqResidualFrom]]'s `codedSql`. */
  val plantedArrivalsCorpusSql: String =
    """SELECT vec_id, vec FROM v
      |UNION ALL SELECT vec_id + 10000000 AS vec_id,
      |  list_concat(list_slice(vec, 1, 63), [0.0]) AS vec
      |  FROM v WHERE vec_id % 20 = 0""".stripMargin

  /** OFF-MANIFOLD recall contract (SparkEntry
    * `knn_offmanifold_recall`): the [[knnPqResidualRecall]] counts over
    * hash-synthesized probes drawn OUTSIDE the corpus distribution
    * (amplitude `amp` × the corpus envelope, md5-derived so both
    * engines synthesize bit-identical floats — every value has ≤ 22
    * significant bits, so the double→float cast is exact). The
    * on-manifold contracts stay green while off-manifold recall
    * collapses across decades (r16's finding); this row makes the
    * production configuration's off-manifold behavior gate-visible at
    * BOTH gate scales — its counts move with any ANN default change. */
  def knnPqResidualRecallOffManifold(nProbes: Int, amp: String, k: Int,
      targetC: Int, iters: Int, nprobe: Int, m: Int, subDim: Int, ks: Int,
      subIters: Int, rerank: String): String = {
    val probes = offManifoldProbesSql(nProbes, amp)
    s"""WITH truth AS (
       |${knnBruteForceFrom(probes, k)}
       |),
       |cand AS (
       |${knnIvfPqResidualFrom(probes, k, targetC, iters, nprobe, m, subDim, ks, subIters, rerank)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_pq,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin
  }

  /** The synthetic off-manifold probe batch: probe p's component d is
    * `((md5_60('omp:p:d') % 2^20) / 2^20 - 0.5) * amp`, cast through
    * FLOAT — the [[graft.SparkEntry.offManifoldProbes]] twin, same
    * hash60 arithmetic as every other md5-derived oracle quantity. Ids
    * live at 900000000+ (disjoint from any corpus id). */
  private def offManifoldProbesSql(nProbes: Int, amp: String): String =
    s"""SELECT pid + 900000000 AS vec_id,
       |  list_transform(generate_series(1, 64), d ->
       |    CAST(CAST(((${hash60(s"'omp:' || pid || ':' || d")} % 1048576)
       |      / 1048576.0 - 0.5) * $amp AS FLOAT) AS DOUBLE)) AS vec
       |  FROM (SELECT unnest(range($nProbes)) AS pid)""".stripMargin

  /** Untrained-IVF twin of [[knnPqResidualRecall]]: recall@k of the
    * sampled-centroid IVF search ([[knnIvf]]) vs brute force. With the
    * scale-aware C = ⌈√N⌉ the probed fraction (nprobe/C) SHRINKS as the
    * corpus grows, so this contract is what shows whether exact re-rank
    * inside fewer, finer cells holds recall across scales. */
  def knnIvfRecall(probeEvery: Int, k: Int, targetC: Int,
      nprobe: Int): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnIvf(probeEvery, k, targetC, nprobe)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_ivf,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** LSH twin of the recall contract over the [[knnLsh]] chain. */
  def knnLshRecall(probeEvery: Int, k: Int, nPlanes: Int): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnLsh(probeEvery, k, nPlanes)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_lsh,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** ANN recall contract (SparkEntry `knn_pq_residual_recall`):
    * recall@k of the IVF-PQ search vs the brute-force truth, as one row
    * of integer counts — the quantizer's recall is MEASURED in-gate, not
    * trusted. Composes the two independently-green chains
    * ([[knnBruteForce]], [[knnIvfPqResidual]]); same pattern as
    * [[dedupMinhashRecall]]. */
  def knnPqResidualRecall(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String): String =
    s"""WITH truth AS (
       |${knnBruteForce(probeEvery, k)}
       |),
       |cand AS (
       |${knnIvfPqResidual(probeEvery, k, targetC, iters, nprobe, m, subDim, ks, subIters, rerank)}
       |),
       |hit AS (SELECT t.probe_id FROM truth t
       |  JOIN cand c USING (probe_id, vec_id))
       |SELECT (SELECT count(*) FROM truth) AS n_true,
       |  (SELECT count(*) FROM cand) AS n_pq,
       |  (SELECT count(*) FROM hit) AS n_hit""".stripMargin

  /** Residual IVF-PQ (SimilarityOps.ivfPqResidualKnn): sub-chains train
    * on `vec − coarse_centroid` residuals (exact IEEE subtractions of
    * exactly-cast doubles), probe LUTs are per (probe, probed cell),
    * ADC folds in subspace order, exact cosine on the shortlist. */
  def knnIvfPqResidual(probeEvery: Int, k: Int, targetC: Int, iters: Int,
      nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String): String =
    knnIvfPqResidualFrom(defaultProbesSql(probeEvery), k, targetC, iters,
      nprobe, m, subDim, ks, subIters, rerank)

  /** [[knnIvfPqResidual]] over an EXPLICIT probe source (the `pv` CTE)
    * and coded corpus (the `va` CTE). The off-manifold recall contract
    * passes hash-synthesized probes; `knn_ivf_incremental` passes
    * [[plantedArrivalsCorpusSql]] as `codedSql` — every quantizer chain
    * still TRAINS on `v` only, while coarse assignment, coding and the
    * exact re-rank read `va`: the SQL restatement of "append without
    * retraining" ([[graft.operators.SimilarityOps.ivfAppend]]).
    * `codedSql` must contain every `v` row, ids unique. */
  def knnIvfPqResidualFrom(probesSql: String, k: Int, targetC: Int,
      iters: Int, nprobe: Int, m: Int, subDim: Int, ks: Int, subIters: Int,
      rerank: String,
      codedSql: String = "SELECT vec_id, vec FROM v"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]), (a, b) -> a + b)"
    def d2(a: String, b: String, dim: Int) =
      s"list_reduce(list_transform(generate_series(1, $dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    val subChains = (0 until m).map { s0 =>
      s"""vas$s0 AS (SELECT vec_id,
         |  list_slice(rvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM car),
         |vs$s0 AS (SELECT * FROM vas$s0
         |  WHERE vec_id IN (SELECT vec_id FROM v)),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val codeCtes = (0 until m).map { s0 =>
      s"""cdw$s0 AS (SELECT v.vec_id, c.cent_id,
         |    ${d2("v.vec", "c.cent_vec", subDim)} AS d2
         |  FROM vas$s0 v, c${subIters}s$s0 c),
         |cd$s0 AS (SELECT vec_id, $s0 AS sub, cent_id AS code FROM (
         |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS r
         |  FROM cdw$s0) WHERE r = 1),
         |lut$s0 AS (SELECT p.probe_id, p.cent_id, $s0 AS sub,
         |    c.cent_id AS code,
         |    ${d2(s"list_slice(p.prvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim})",
               "c.cent_vec", subDim)} AS d2c
         |  FROM pbr p, c${subIters}s$s0 c)""".stripMargin
    }.mkString(",\n")
    val codesUnion = (0 until m).map(s0 => s"SELECT * FROM cd$s0")
      .mkString(" UNION ALL ")
    val lutUnion = (0 until m).map(s0 => s"SELECT * FROM lut$s0")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |pv AS ($probesSql),
       |va AS ($codedSql),
       |caw AS (SELECT v.vec_id, c.cent_id,
       |    ${d2("v.vec", "c.cent_vec", 64)} AS cd2
       |  FROM va v, c$iters c),
       |ca AS (SELECT vec_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY cd2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |car AS (SELECT ca.vec_id, ca.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> v.vec[i] - c.cent_vec[i]) AS rvec
       |  FROM ca JOIN va v ON v.vec_id = ca.vec_id
       |  JOIN c$iters c ON c.cent_id = ca.cent_id),
       |pw AS (SELECT p.vec_id AS probe_id, c.cent_id,
       |    ${d2("p.vec", "c.cent_vec", 64)} AS cd2
       |  FROM pv p, c$iters c),
       |pb AS (SELECT probe_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY cd2, cent_id) AS cr
       |  FROM pw) WHERE cr <= $nprobe),
       |pbr AS (SELECT pb.probe_id, pb.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> pv.vec[i] - c.cent_vec[i]) AS prvec
       |  FROM pb JOIN pv ON pv.vec_id = pb.probe_id
       |  JOIN c$iters c ON c.cent_id = pb.cent_id),
       |$subChains,
       |$codeCtes,
       |codes AS ($codesUnion),
       |luts AS ($lutUnion),
       |cand AS (SELECT pb.probe_id, ca.vec_id, ca.cent_id
       |  FROM ca JOIN pb ON ca.cent_id = pb.cent_id
       |  WHERE ca.vec_id <> pb.probe_id),
       |adc AS (SELECT cp.probe_id, cp.vec_id,
       |    list_reduce(list_prepend(0.0, list(l.d2c ORDER BY l.sub)),
       |      (a, b) -> a + b) AS adc
       |  FROM cand cp
       |  JOIN codes cd ON cd.vec_id = cp.vec_id
       |  JOIN luts l ON l.probe_id = cp.probe_id AND l.cent_id = cp.cent_id
       |    AND l.sub = cd.sub AND l.code = cd.code
       |  GROUP BY cp.probe_id, cp.vec_id),
       |sl AS (SELECT probe_id, vec_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS ar
       |  FROM adc) WHERE ar <= ($rerank)),
       |n AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM va),
       |pn AS (SELECT vec_id, vec, sqrt(${dot("vec", "vec")}) AS nrm FROM pv),
       |s AS (SELECT sl.probe_id, sl.vec_id,
       |    ${dot("p.vec", "x.vec")} / (p.nrm * x.nrm) AS sim
       |  FROM sl JOIN n x ON x.vec_id = sl.vec_id
       |  JOIN pn p ON p.vec_id = sl.probe_id)
       |SELECT probe_id, vec_id, round(sim, 9) AS sim, rank FROM (
       |  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s) WHERE rank <= $k""".stripMargin
  }

  /** Trained-BPE dictionary itself (TextOps.bpeTrain / SparkEntry
    * `bpe_train_dict`): the persisted model-store artifact, compared at
    * full string fidelity — word, corpus count, and the space-delimited
    * symbolization after `merges` rounds. */
  def bpeTrainDict(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)}
       |SELECT word, cnt, s FROM w$merges""".stripMargin

  private def codeNormSelect(subDim: Int): String =
    s"""SELECT sub, cent_id, sqrt(list_reduce(list_transform(
       |    generate_series(1, $subDim), i -> cent_vec[i] * cent_vec[i]),
       |    (a, b) -> a + b)) AS code_norm
       |FROM books""".stripMargin

  /** PQ sub-codebook TRAINING (SimilarityOps.pqCodebooks / SparkEntry
    * `pq_train_codebooks`): one kmeans sub-chain per raw-vector
    * subspace; the artifact's oracle fingerprint is the per-(sub, code)
    * centroid norm. */
  def pqTrainCodebooks(m: Int, subDim: Int, ks: Int,
      subIters: Int): String = {
    val subChains = (0 until m).map { s0 =>
      s"""vs$s0 AS (SELECT vec_id,
         |  list_slice(vec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM v),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s0 =>
      s"SELECT $s0 AS sub, cent_id, cent_vec FROM c${subIters}s$s0")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |$subChains,
       |books AS ($union)
       |${codeNormSelect(subDim)}""".stripMargin
  }

  /** Residual PQ sub-codebook TRAINING (SimilarityOps
    * .pqResidualCodebooks / SparkEntry `pq_train_codebooks_residual`):
    * the sub-chains train on `vec − coarse_centroid` residuals (exact
    * IEEE subtractions) against the SAME coarse kmeans chain the search
    * queries read. */
  def pqTrainCodebooksResidual(targetC: Int, iters: Int, m: Int,
      subDim: Int, ks: Int, subIters: Int): String = {
    def d2(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (a, b) -> a + b)"
    val subChains = (0 until m).map { s0 =>
      s"""vs$s0 AS (SELECT vec_id,
         |  list_slice(rvec, ${s0 * subDim + 1}, ${(s0 + 1) * subDim}) AS vec
         |  FROM car),
         |${kmeansChain(s"s$s0", subDim, ks, subIters)}""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s0 =>
      s"SELECT $s0 AS sub, cent_id, cent_vec FROM c${subIters}s$s0")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtePrefix(targetC, iters)},
       |caw AS (SELECT v.vec_id, c.cent_id,
       |    ${d2("v.vec", "c.cent_vec")} AS cd2
       |  FROM v, c$iters c),
       |ca AS (SELECT vec_id, cent_id FROM (
       |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY cd2, cent_id) AS cr
       |  FROM caw) WHERE cr = 1),
       |car AS (SELECT ca.vec_id, ca.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> v.vec[i] - c.cent_vec[i]) AS rvec
       |  FROM ca JOIN v ON v.vec_id = ca.vec_id
       |  JOIN c$iters c ON c.cent_id = ca.cent_id),
       |$subChains,
       |books AS ($union)
       |${codeNormSelect(subDim)}""".stripMargin
  }

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
    // whole label pairs and stays balanced — mirrors SparkEntry
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

  /** Trained quality-model weights (SparkEntry `quality_train_model`). */
  def qualityTrainModel(spam: String, buckets: Int, steps: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps)}
       |SELECT bucket, w FROM w$steps""".stripMargin

  /** Trained gate applied to the planted corpus (SparkEntry
    * `quality_model_filter`): Q16 score + kept flag. */
  def qualityModelFilter(spam: String, buckets: Int, steps: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps)},
       |sc AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS score
       |  FROM f JOIN w$steps w USING (bucket) GROUP BY f.doc_id)
       |SELECT doc_id, score,
       |  CASE WHEN score >= 0 THEN 1 ELSE 0 END AS kept
       |FROM sc""".stripMargin

  /** Sample-trained quality weights (SparkEntry `quality_train_sampled`):
    * the identical Q16 recurrence trained on the deterministic
    * pair-stable 1-in-`sampleMod` doc sample — the bounded-sample scale
    * path for corpora where full-batch training cost dominates. */
  def qualityTrainSampled(spam: String, buckets: Int, steps: Int,
      sampleMod: Int): String =
    s"""WITH ${qualityModelCtes(spam, buckets, steps, "", sampleMod)}
       |SELECT bucket, w FROM w$steps""".stripMargin

  /** Agreement of the sample-trained gate with the full-trained gate on
    * the FULL planted corpus (SparkEntry `quality_sampled_agreement`):
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

  /** SCD2 merge over a freshly-versioned orders target: replaced
    * current rows close at the effective timestamp; staged rows open
    * there. */
  val loadScd2Merge: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, TIMESTAMP '1990-01-01' AS valid_from,
      |  CASE WHEN o_orderkey IN (SELECT o_orderkey FROM staged)
      |    THEN TIMESTAMP '2000-01-01' ELSE NULL END AS valid_to
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, TIMESTAMP '2000-01-01' AS valid_from,
      |  NULL AS valid_to
      |FROM staged""".stripMargin

  /** Integer-exact tf-idf ranking: score = (tf·N)/df — one double
    * division over exact integers. */
  val tfidfTopTerms: String =
    s"""WITH terms AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT doc_id, tf.term AS term,
       |  CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
       |SELECT doc_id, term, score, rnk FROM (
       |  SELECT *, rank() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
       |  FROM scored) WHERE rnk <= 3""".stripMargin

  val profileOrders: String =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT o_orderstatus) AS d_status,
      |  count(DISTINCT o_orderpriority) AS d_priority,
      |  count(DISTINCT o_custkey) AS d_custkey,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
      |FROM orders""".stripMargin

  val deterministicSample: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ${hash60("CAST(doc_id AS VARCHAR)")} % 10 = 0""".stripMargin

  /** Trailing 7-day revenue per active day via a bounded range join —
    * the oracle twin of the explode + re-aggregate Spark plan. Decimal
    * all the way; one cast to double at the end. */
  val trailing7dRevenue: String =
    """WITH daily AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT d2.day AS day, CAST(SUM(d1.rev) AS DOUBLE) AS rev_7d
      |FROM daily d1 JOIN daily d2
      |  ON d2.day >= d1.day AND d2.day <= d1.day + INTERVAL 6 DAY
      |GROUP BY d2.day""".stripMargin

  /** Salted aggregation result ≡ plain aggregation (decimal addition is
    * associative, so re-merging per-salt partials is exact). */
  val saltedAggEvents: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** q17 shape: per-part average as the filter threshold. Same decimal
    * sums, same double op order (sum/n, 0.2*avg, sum/7.0). */
  val q17SmallQuantity: String =
    """WITH avgq AS (SELECT l_partkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem
      |JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') p
      |  ON l_partkey = p_partkey
      |JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  val supplierNationAcctbal: String =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

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

  val q5NationRevenue: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name <> 'ASIA'
      |GROUP BY n_name""".stripMargin
}
