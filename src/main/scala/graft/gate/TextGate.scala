package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Text-analysis rows: per-document statistics, language id,
  * tokenization, trained BPE, packing and sharding plans, mixture
  * sampling, lexical scoring. */
object TextGate {
  def rows: Seq[GateRow] = Seq(
    GateRow("text_stats", ((s, dir) =>
      TextOps.textStats(t(s, dir, "documents"), "doc_id", "text")),
      oracle = TextSql.textStats),

    GateRow("lang_id", ((s, dir) =>
      TextOps.langIdTable(t(s, dir, "documents"), "doc_id", "text")),
      oracle = TextSql.langId),

    GateRow("fingerprints", ((s, dir) =>
      TextOps.fingerprints(t(s, dir, "documents"), "doc_id", "text")),
      oracle = TextSql.fingerprints),

    // Benchmark decontamination on a planted corpus: every 97th doc has
    // 120 chars of an eval doc appended (no natural 5-gram overlap in
    // the synthetic corpus), and the scan must flag exactly those.
    GateRow("decontamination", { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 200 === 0)
      val corpus = docs.filter(col("doc_id") % 200 =!= 0)
        .withColumn("__ek", (col("doc_id") % 3) * 200)
        .join(evalSet.select(col("doc_id").as("__eid"), col("text").as("__etext")),
          col("__ek") === col("__eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 0,
            concat(col("text"), lit(" "), substring(col("__etext"), 1, 120)))
            .otherwise(col("text")).as("text"))
      TextOps.contaminatedDocs(corpus, evalSet, "doc_id", "text", n = 5)
    }, oracle = TextSql.decontamination),

    // Mixture EPOCH planning — the data-mixing arithmetic (DoReMi-style):
    // given per-source trained-BPE token inventories and target weights
    // (derived deterministically from the source id), the repeat factor
    // is how many epochs of each source fill its share of the total
    // budget. Two tiny aggregations + one broadcast; the corpus is
    // scanned once for counts.
    GateRow("mixture_epochs", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val perSrc = docs.select(col("doc_id"), col("source"))
        .join(TextOps.bpeTokenCountsWith(docs, "doc_id", "text",
            bpeDict(s, dir))
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_tokens"))
        .withColumn("__w",
          expr("CAST(substring(source, 4) AS INT) % 4 + 1").cast("long"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("__tot"),
        sum(col("__w")).as("__sw"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (((col("__w").cast("double") / col("__sw").cast("double")) *
            col("__tot").cast("double")) / col("n_tokens").cast("double"))
            .as("repeat_factor"))
    }, oracle = TextSql.mixtureEpochs(BpeMerges)),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009)
    // — the RAG-curation pattern: rank the corpus lexically (BM25 on the
    // query terms) and semantically (cosine to a probe embedding), fuse
    // as 1/(60+r_lex) + 1/(60+r_sem), keep the top 20.
    //
    // BOUNDED candidate pools, no global sort: each ranker contributes
    // its top-P (TakeOrderedAndProject — per-partition partial top-k),
    // and the EXACT global ranks of the ≤2P pool members come from one
    // shuffle-free counting pass per ranker (ranksByCounting). Exactness
    // for P = 128: every doc outside BOTH pools has lex_rank > P and
    // sem_rank > P, so rrf < 2/(60+P) = 2/188; each of the ≥20 docs
    // with lex_rank ≤ 20 (all in the lex pool, embeddings covering the
    // lexical universe 1:1 here) has rrf ≥ 1/(60+20) = 1/80 > 2/188 —
    // so the true top-20 is inside the pool union (any P ≥ 101 works;
    // the spec proves equality vs the full-rank reference form). Ranks
    // are integers, the fusion is two exact IEEE divisions summed in
    // fixed order — identical bytes to the full ranking.
    GateRow("hybrid_search_rrf", { (s, dir) =>
      val P = 128
      // Both score frames feed three consumers each (pool, candidate
      // join, counting pass): localCheckpoint materializes the narrow
      // (id, score) projection once — one BM25 pass, one embeddings
      // pass — instead of re-deriving the aggregation pipeline per
      // consumer (same trade connectedComponents makes for its edges).
      val bm = TextOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms).select(col("doc_id"), col("bm25"))
        .localCheckpoint(true)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val probe = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("__pvec")))
      val sim = emb
        .join(bm.select(col("doc_id")), col("vec_id") === col("doc_id"))
        .crossJoin(probe)
        .select(col("vec_id").as("doc_id"),
          (SimilarityOps.dot(col("embedding"), col("__pvec")) /
            (SimilarityOps.norm(col("embedding")) *
              SimilarityOps.norm(col("__pvec")))).as("sim"))
        .localCheckpoint(true)
      val lexPool = bm.orderBy(col("bm25").desc, col("doc_id")).limit(P)
        .select(col("doc_id"))
      val semPool = sim.orderBy(col("sim").desc, col("doc_id")).limit(P)
        .select(col("doc_id"))
      val cand = lexPool.unionByName(semPool).distinct()
        .join(bm, "doc_id")
        .join(sim, "doc_id")
      val ranked = AnalyticOps.ranksByCounting(sim, "doc_id", "sim",
        AnalyticOps.ranksByCounting(bm, "doc_id", "bm25", cand, "lex_rank"),
        "sem_rank")
      ranked
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          (lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")) +
            lit(1.0) / (lit(60.0) + col("sem_rank").cast("double")))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    }, oracle = TextSql.hybridSearchRrf(Bm25Terms, 1.2, 0.75, 20)),

    // Graded contamination on the same planted corpus: per-doc fraction
    // of distinct 5-grams shared with the eval set — the thresholdable
    // signal (drop at frac >= x) instead of the binary flag.
    GateRow("contamination_fraction", { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 200 === 0)
      val corpus = docs.filter(col("doc_id") % 200 =!= 0)
        .withColumn("__ek", (col("doc_id") % 3) * 200)
        .join(evalSet.select(col("doc_id").as("__eid"), col("text").as("__etext")),
          col("__ek") === col("__eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 0,
            concat(col("text"), lit(" "), substring(col("__etext"), 1, 120)))
            .otherwise(col("text")).as("text"))
      TextOps.contaminationFraction(corpus, evalSet, "doc_id", "text", n = 5)
    }, oracle = TextSql.contaminationFraction),

    // Gopher-style repetition quality signal: the most frequent bigram's
    // share of each document's bigrams.
    GateRow("repetition_scores", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(max(col("tf")).as("max_tf"), sum(col("tf")).as("n_bigrams"))
        .withColumn("rep_ratio",
          col("max_tf").cast("double") / col("n_bigrams").cast("double"))),
      oracle = TextSql.repetitionScores),

    // KenLM-style corpus LM quality score: mean add-one-smoothed bigram
    // transition probability per document (fixed-point exact).
    GateRow("bigram_lm_scores", ((s, dir) =>
      TextOps.bigramLmScores(t(s, dir, "documents"), "doc_id", "text")),
      oracle = TextSql.bigramLmScores),

    // BM25 retrieval scoring against a fixed query (rational-idf form —
    // see TextOps.bm25Scores for the ln determinism note).
    GateRow("bm25_scores", ((s, dir) =>
      TextOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text", Bm25Terms)),
      oracle = TextSql.bm25Scores(Bm25Terms, 1.2, 0.75)),

    GateRow("vocab_doc_freq", ((s, dir) =>
      // Vocabulary table: document frequency + total term frequency per
      // token (integer-exact; the tf-idf building block). One explode +
      // one shuffle.
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(
            graft.functions.TextFunctions.normalized(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf_total"))),
      oracle = TextSql.vocabDocFreq),

    GateRow("bigram_counts", ((s, dir) =>
      // Corpus n-gram table (language-model counts): word bigrams with
      // document and total frequencies, pruned to df >= 5. Two-level
      // aggregation instead of countDistinct+count in one agg: the
      // (doc_id, bigram) pre-agg collapses within-doc repeats map-side
      // and avoids the Expand (2x shuffle rows) a mixed distinct/plain
      // aggregate plans.
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text"))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"))
        .filter(col("df") >= 5)),
      oracle = TextSql.bigramCounts),

    // Training-data chunking: split each document into fixed-width
    // character windows with overlap (stride < width), the pre-tokenizer
    // segmentation pass. Pure projection (sequence + substring), chunk
    // text summarized as md5 + length so the output stays compact.
    GateRow("doc_chunks", { (s, dir) =>
      val stride = 150
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            greatest(expr(s"(length(text) - 1) div $stride"), lit(0))))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          expr(s"substring(text, chunk_idx * $stride + 1, 200)").as("chunk"))
        .filter(length(col("chunk")) > 0)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
    }, oracle = """WITH c AS (SELECT doc_id, text,
        |  unnest(range(0, greatest((length(text) - 1) // 150, 0) + 1))
        |    AS chunk_idx
        |  FROM documents)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |  length(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200))
        |    AS chunk_len,
        |  md5(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200))
        |    AS chunk_md5
        |FROM c
        |WHERE length(substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)) > 0""".stripMargin),

    // Sequence packing: assign documents to fixed-token-budget packs,
    // greedily in doc_id order WITHIN each source (per-source windows —
    // never a global single-partition cumsum). pack_id = the pack the
    // doc STARTS in: (running-total-before-doc) div budget.
    GateRow("sequence_packing", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.bpeTokenCount(col("text"))
            .as("n_tokens"))
        .withColumn("tokens_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("tokens_before div 2000").as("pack_id"))
    }, oracle = s"""WITH tok AS (SELECT doc_id, source,
         |  len(regexp_extract_all(text,
         |    '${graft.functions.TextFunctions.BpeTokenRe}')) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, source, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
         |    AS BIGINT) AS pack_id
         |FROM tok""".stripMargin),

    // Token-budget head selection — "train on the best documents until
    // the budget is spent": rank the corpus by quality (descending,
    // doc_id tie-break) and keep the prefix whose cumulative trained-BPE
    // token count fits the budget. The cumulative sum is the DISTRIBUTED
    // prefix sum (AnalyticOps.globalRunningSum — range repartition +
    // per-partition offsets), NOT the single-partition global window
    // that dies at 100 TB; integer token counts make every prefix
    // exact, so the oracle's plain window cumsum matches bit-for-bit.
    GateRow("token_budget_head", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality"))
        .join(TextOps.bpeTokenCountsWith(docs, "doc_id", "text",
            bpeDict(s, dir))
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
      AnalyticOps.globalRunningSum(scored,
          Seq(col("quality").desc, col("doc_id")), col("n_bpe_tokens"),
          "tokens_cum")
        .filter(col("tokens_cum") <= TokenBudget)
        .select(col("doc_id"), col("n_bpe_tokens"), col("tokens_cum"))
    }, oracle = TextSql.tokenBudgetHead(BpeMerges, TokenBudget)),

    // Trained-BPE token counts per document — the real-tokenizer upgrade
    // of the regex proxy: a merge table is TRAINED on the corpus
    // (Sennrich-style pair-count iterations, vocabulary-bounded state),
    // and token counts come from the learned symbolization. The oracle
    // replays the identical training recurrence as an unrolled CTE
    // chain (TextSql.bpeDictCtes), so the two engines cannot drift.
    GateRow("bpe_token_counts", ((s, dir) =>
      TextOps.bpeTokenCountsWith(t(s, dir, "documents"), "doc_id", "text",
        bpeDict(s, dir))),
      oracle = TextSql.bpeTokenCounts(BpeMerges)),

    // Tokenizer fertility per source — tokens-per-byte is THE tokenizer
    // quality metric (a domain whose text explodes into symbols wastes
    // budget); reported as exact integer sums so the ratio is computed
    // by the consumer, not hashed as a float.
    GateRow("bpe_compression_by_source", { (s, dir) =>
      val counts = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
        "doc_id", "text", bpeDict(s, dir))
      counts.join(t(s, dir, "documents").select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long").as("__b")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_bpe_tokens")).as("n_tokens"),
          sum(col("__b")).as("n_bytes"))
    }, oracle = TextSql.bpeCompressionBySource(BpeMerges)),

    // Sequence packing re-expressed over TRUE trained-BPE budgets (the
    // packing twin of sequence_packing, which uses the regex proxy):
    // token budgets are the currency of corpus assembly, so the bin
    // arithmetic should run on what the tokenizer will actually emit.
    GateRow("bpe_sequence_packing", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val counts = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
        "doc_id", "text", bpeDict(s, dir))
      // Every packed document is terminated by an <|endoftext|> special
      // token, so its budget cost is n_bpe_tokens + 1 — the separator
      // convention GPT-style packing charges per document boundary.
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(counts.select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .withColumn("tokens_before",
          coalesce(sum(col("n_bpe_tokens") + 1).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          expr(s"tokens_before div $BpePackBudget").as("pack_id"))
    }, oracle = TextSql.bpeSequencePacking(BpeMerges,
      BpePackBudget)),

    // The tokenization ITSELF (not just counts): each doc's full BPE
    // token sequence under the persisted trained dictionary, word order
    // preserved — what a training-data writer emits. Output carries the
    // md5 of the sequence (driver-hash-friendly) plus its length.
    GateRow("bpe_tokenize", { (s, dir) =>
      TextOps.bpeTokenizeWith(t(s, dir, "documents"), "doc_id", "text",
          bpeDict(s, dir))
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(col("toks")).as("toks_md5"))
    }, oracle = TextSql.bpeTokenize(BpeMerges)),

    // Byte-fallback tokenization: the sf-corpus-trained dictionary
    // applied to a corpus with PLANTED out-of-vocabulary words (every
    // 7th doc gets lowercase multibyte tokens the training corpus never
    // saw) — OOV words degrade to one token per UTF-8 byte instead of
    // vanishing from the budget.
    GateRow("bpe_token_counts_oov", { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" naïve café zürich")).otherwise(lit("")))
          .as("text"))
      TextOps.bpeTokenCountsWith(planted, "doc_id", "text", bpeDict(s, dir))
    }, oracle = TextSql.bpeTokenCountsOov(BpeMerges)),

    // Dataset mixture sampling: per-source keep rates applied via a
    // deterministic uniform hash — the "mix web at 30%, books at 100%"
    // step of corpus assembly. Rates inline on both sides.
    GateRow("mixture_sample", { (s, dir) =>
      val rate = typedLit(Map("src0" -> 300L, "src2" -> 800L,
        "src3" -> 500L, "src4" -> 0L))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1000L))
      t(s, dir, "documents")
        .filter(h < coalesce(element_at(rate, col("source")), lit(1000L)))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    }, oracle = """WITH h AS (SELECT source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000 AS hh
        |  FROM documents)
        |SELECT source, count(*) AS n_kept FROM h
        |WHERE hh < CASE source WHEN 'src0' THEN 300 WHEN 'src2' THEN 800
        |  WHEN 'src3' THEN 500 WHEN 'src4' THEN 0 ELSE 1000 END
        |GROUP BY source""".stripMargin),

    // Multinomial temperature sampling (alpha = 0.5 via sqrt — exact in
    // IEEE): per-source keep rate proportional to n^alpha / n, so small
    // sources are up-weighted relative to their share — the multilingual
    // mixture-balancing pass. Z folds the per-source sqrt terms in
    // sorted source order (sum-of-doubles order is part of the
    // contract); thresholds are integer 2^20-ths so the per-row keep
    // test is exact.
    GateRow("mixture_temperature", { (s, dir) =>
      val frac = 0.5
      val docs = t(s, dir, "documents")
      val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val zdf = bySrc.agg(
        aggregate(
          array_sort(collect_list(struct(col("source"),
            sqrt(col("n_src").cast("double")).as("r")))),
          lit(0.0), (a, x) => a + x.getField("r")).as("z"),
        sum(col("n_src")).as("n_total"))
      val rates = bySrc.crossJoin(broadcast(zdf))
        .select(col("source"), col("n_src"),
          floor(least(lit(1.0),
            (lit(frac) * col("n_total").cast("double") *
              sqrt(col("n_src").cast("double"))) /
            (col("z") * col("n_src").cast("double"))) * lit(1048576.0))
            .cast("long").as("thr"))
      val h = pmod(graft.expressions.GraftFunctions.md5PrefixLong(
        col("doc_id").cast("string"), 15), lit(1048576L))
      docs.join(broadcast(rates), "source")
        .filter(h < col("thr"))
        .groupBy(col("source"))
        .agg(min(col("n_src")).as("n_src"), min(col("thr")).as("thr"),
          count(lit(1)).as("n_kept"))
    }, oracle = TextSql.mixtureTemperature),

    // Corpus-commonness score per document: mean corpus frequency of its
    // bigrams — a quality/novelty signal (low = rare vocabulary). The
    // counts dictionary is compact (vocab-scale) so the dictionary join
    // broadcasts under AQE at any corpus size.
    GateRow("doc_commonness", { (s, dir) =>
      // Shingle once (r21): the exploded bigram rows feed the counts
      // dictionary AND the score join — materialized so the
      // tokenize+bigram chain runs one pass, not two.
      val bigr = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.wordBigrams(col("text")))
            .as("bigram")).localCheckpoint(true)
      val counts = bigr.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      bigr.join(counts, "bigram")
        .groupBy(col("doc_id"))
        .agg((sum(col("cnt")).cast("double") /
          count(lit(1)).cast("double")).as("commonness"),
          count(lit(1)).as("n_bigrams"))
    }, oracle = TextSql.docCommonness),

    GateRow("array_functions", { (s, dir) =>
      import graft.functions.TextFunctions.tokens
      t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).as("n"),
          array_join(slice(col("tk"), 1, 3), " ").as("first3"),
          array_contains(col("tk"), "the").as("has_the"),
          array_position(col("tk"), "the").as("pos_the"),
          size(array_distinct(col("tk"))).as("n_distinct"),
          element_at(col("tk"), -1).as("last_tok"))
    }, oracle = TextSql.arrayFunctions),

    GateRow("token_counts", ((s, dir) =>
      // Whitespace vs BPE-ish subword token budgets per document.
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"))),
      oracle = TextSql.tokenCounts(graft.functions.TextFunctions.BpeTokenRe)),

    GateRow("tfidf_top_terms", { (s, dir) =>
      // Top-3 tf-idf terms per document. Score = (tf · N) / df — exact
      // integer product, one double division (ln-free so both engines
      // produce identical bits; the ranking is the same as classic
      // tf·idf at fixed N). N rides along as a broadcast scalar.
      import graft.functions.TextFunctions.{normalized, tokens}
      val docs = t(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(tokens(normalized(col("text")))).as("term"))
      // tf feeds the df dictionary AND the score join (r21): one
      // materialization instead of re-running the explode+groupBy.
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")).localCheckpoint(true)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rnk", rank().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term"))))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rnk"))
    }, oracle = TextSql.tfidfTopTerms),

    // Reproducible global shuffle + fixed-size sharding — the export
    // step of every pretraining pipeline (shuffle the corpus into a
    // deterministic pseudorandom order, cut into equal document
    // shards). Order key = seeded md5 hash, so the permutation is
    // stable across runs, engines, and partitionings; the global rank
    // is the range-partitioned distributed row number (no
    // single-partition window); per-shard token totals are what the
    // writer needs to budget output files.
    GateRow("shuffled_shard_plan", { (s, dir) =>
      import graft.functions.TextFunctions
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.hash60(concat(lit("shard-seed-7:"),
          col("doc_id").cast("string"))).as("__k"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("__ntok"))
      AnalyticOps.globalRowNumber(keyed,
          Seq(col("__k"), col("doc_id")), "rank")
        .select(expr(s"(rank - 1) div $ShardSize").as("shard_id"),
          col("__ntok"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
    }, oracle = TextSql.shuffledShardPlan(ShardSize)),

    // Token-granular sequence packing — the GPT-style pretraining export
    // step (concatenate the corpus in a seeded shuffled order, cut into
    // fixed-seqLen chunks; documents may span pack boundaries). Each
    // doc's token span [cum - nt, cum) is located against the S-token
    // grid with pure integer arithmetic over ONE distributed prefix sum
    // (range-partitioned, per-partition totals — no global window).
    // Unlike shuffled_shard_plan (fixed DOC-count shards), boundaries
    // here are token-exact: start pack, offset within it, and how many
    // packs the doc spans — what a sequence-packing writer consumes.
    GateRow("sequence_pack_plan", { (s, dir) =>
      import graft.functions.TextFunctions
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.hash60(concat(lit("pack-seed-7:"),
          col("doc_id").cast("string"))).as("__k"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      AnalyticOps.globalRunningSum(keyed,
          Seq(col("__k"), col("doc_id")), col("nt"), "cum")
        .select(col("doc_id"), col("nt"),
          expr(s"(cum - nt) div $PackSeqLen").as("start_pack"),
          expr(s"(cum - nt) % $PackSeqLen").as("pack_off"),
          (expr(s"(cum - 1) div $PackSeqLen") -
            expr(s"(cum - nt) div $PackSeqLen") + lit(1L)).as("n_spans"))
    }, oracle = TextSql.sequencePackPlan(PackSeqLen)),

    // The same packing under the TRAINED BPE dictionary — what the
    // export actually budgets with: token counts from the persisted
    // merge dict (train-once artifact), then the identical grid
    // arithmetic. Composes two independently-green chains.
    GateRow("sequence_pack_plan_bpe", { (s, dir) =>
      import graft.functions.TextFunctions
      val nt = TextOps.bpeTokenCountsWith(t(s, dir, "documents"),
          "doc_id", "text", bpeDict(s, dir))
        .select(col("doc_id"),
          TextFunctions.hash60(concat(lit("pack-seed-7:"),
            col("doc_id").cast("string"))).as("__k"),
          col("n_bpe_tokens").as("nt"))
      AnalyticOps.globalRunningSum(nt,
          Seq(col("__k"), col("doc_id")), col("nt"), "cum")
        .select(col("doc_id"), col("nt"),
          expr(s"(cum - nt) div $PackSeqLen").as("start_pack"),
          expr(s"(cum - nt) % $PackSeqLen").as("pack_off"),
          (expr(s"(cum - 1) div $PackSeqLen") -
            expr(s"(cum - nt) div $PackSeqLen") + lit(1L)).as("n_spans"))
    }, oracle = TextSql.sequencePackPlanBpe(BpeMerges, PackSeqLen)),

    GateRow("deterministic_sample", ((s, dir) =>
      // Hash-bucket sampling: reproducible across runs, engines, and
      // partitionings (unlike df.sample) — the train/eval-split
      // primitive. md5-derived bucket so the oracle reproduces it.
      t(s, dir, "documents")
        .filter(pmod(graft.functions.TextFunctions.hash60(
          col("doc_id").cast("string")), lit(10)) === 0)
        .select(col("doc_id"), col("lang"), col("source"))),
      oracle = TextSql.deterministicSample),

    // Stratified deterministic split: hash-bucket train/eval assignment,
    // counted per (language, split) — reproducible across engines and
    // partitionings.
    GateRow("stratified_split_counts", ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("split",
          when(pmod(graft.functions.TextFunctions.hash60(
            col("doc_id").cast("string")), lit(10)) < 8, "train")
          .otherwise("eval"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))),
      oracle = TextSql.stratifiedSplitCounts),

    // Lateral explode with position: first five words per document via
    // posexplode_outer (docs with no tokens would still surface one
    // null row — generator variant coverage).
    GateRow("lateral_explode_words", { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode_outer(slice(split(col("text"), "\\s+"), 1, 5))
            .as(Seq("pos", "word")))
    }, oracle = """WITH ws AS (SELECT doc_id,
        |  list_slice(string_split_regex(text, '\s+'), 1, 5) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS word
        |FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t""".stripMargin),

    // BPE TRAINING query: the trained merge dictionary itself (word,
    // count, symbolization) — persisted once per corpus; the tokenizer
    // queries read it.
    GateRow("bpe_train_dict", { (s, dir) =>
      bpeDict(s, dir).select(col("word"), col("cnt"), col("s"))
    }, oracle = TextSql.bpeTrainDict(BpeMerges)),
  )

  /** Trained-BPE dictionary artifact (word, cnt, symbolization). */
  private def bpeDict(s: SparkSession, dir: String): DataFrame =
    model(s, dir, s"bpe_dict_m$BpeMerges", "documents")(
      TextOps.bpeTrain(t(s, dir, "documents"), "text", BpeMerges))

  // BM25 query (terms from the corpus vocabulary, so df spans a range).
  val Bm25Terms = Seq("spark", "merge", "window", "stream")

  // BPE: merge-table size trained on the corpus; packing budget in
  // trained-BPE tokens. 24 merges is past the point where whole common
  // words fuse to single symbols on the synthetic vocabulary.
  val BpeMerges = 24
  val BpePackBudget = 1500

  // Budget-head selection: keep top-quality docs until this many trained
  // BPE tokens are accumulated (~1/3 of the sf0.01 corpus).
  val TokenBudget = 20000L

  // Documents per export shard (shuffled_shard_plan).
  val ShardSize = 256

  // Fixed token budget per packed training sequence (sequence_pack_plan).
  val PackSeqLen = 512
}

/** DuckDB oracle builders that only the text rows use. */
object TextSql {
  import graft.Oracles._
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

  /** Tokenizer fertility per source (gate row
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

  /** Token-budget head (gate row `token_budget_head`): the quality
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
    * (gate row `bpe_sequence_packing`): running pre-sum of per-doc BPE
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
    * gate row `bpe_tokenize`): per-word trained symbolizations joined
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
    * path, gate row `bpe_token_counts_oov`): the corpus-trained dict
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

  val fingerprints: String =
    s"""WITH $bigramsCte
       |SELECT doc_id, md5(nrm) AS fp_md5,
       |  list_min(list_transform(sh, x -> ${hash60("x")})) AS fp_minshingle
       |FROM bg""".stripMargin

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

  /** Mixture epoch planning (gate row `mixture_epochs`): per-source
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

  /** Hybrid retrieval, reciprocal-rank fusion (gate row
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

  /** Reproducible shuffle-and-shard export plan (gate row
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

  /** Token-granular sequence packing (gate row `sequence_pack_plan`):
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

  /** BPE-budget twin of [[sequencePackPlan]] (gate row
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

  val vocabDocFreq: String =
    s"""SELECT tk AS term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
       |FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS tk FROM documents)
       |GROUP BY tk""".stripMargin

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

  def tokenCounts(bpeRe: String): String =
    s"""SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       |  len(regexp_extract_all(text, '${q(bpeRe)}')) AS bpe_tokens
       |FROM documents""".stripMargin

  /** Trained-BPE dictionary itself (TextOps.bpeTrain / gate row
    * `bpe_train_dict`): the persisted model-store artifact, compared at
    * full string fidelity — word, corpus count, and the space-delimited
    * symbolization after `merges` rounds. */
  def bpeTrainDict(merges: Int): String =
    s"""WITH ${bpeDictCtes(merges)}
       |SELECT word, cnt, s FROM w$merges""".stripMargin

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

  val deterministicSample: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ${hash60("CAST(doc_id AS VARCHAR)")} % 10 = 0""".stripMargin
}
