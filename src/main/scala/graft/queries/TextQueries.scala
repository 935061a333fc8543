package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Shared._

/** Per-document text analytics: stats, token counts, language id,
  * repetition, blocklist and phrase screens, chunking, TF-IDF, the n-gram
  * LM score, normalization, BPE, and document-length quantiles. */
object TextQueries {

  private def textStats(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.textStats(Tables.documents(s, dir)).orderBy("doc_id")

  private val textStatsSql =
    s"""SELECT doc_id,
       | length(text) AS n_chars,
       | len($DuckToks) AS n_tokens,
       | len(list_distinct($DuckToks)) AS n_distinct_tokens,
       | CAST(COALESCE(list_sum(list_transform($DuckToks, t -> length(t))), 0) AS BIGINT) AS total_token_chars,
       | length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       | len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) AS stopword_count,
       | (len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |   AND len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) * 100 >= len($DuckToks) * 2
       |   AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10 <= length(text)) AS quality_ok
       |FROM documents ORDER BY doc_id""".stripMargin


  /** Token counting under whitespace and BPE-ish lexers (LLM budget proxy). */
  private def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.tokenCounts(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qTokenCountsSql =
    s"""SELECT doc_id,
       | len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+')) AS n_bpe_tokens,
       | len($DuckToks) AS n_word_tokens,
       | length(text) AS n_chars,
       | CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+')) > 0
       |      THEN (length(text) * 1000000)
       |           // len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+'))
       |      ELSE 0 END AS chars_per_bpe_micros
       |FROM documents ORDER BY doc_id""".stripMargin

  private def langIdQ(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")

  private val langIdSql = {
    def hits(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($DuckToks, t -> list_contains($arr, t)))"
    }
    val (en, de, fr, es) = (hits(pipeline.TextAnalysis.EnStop),
      hits(pipeline.TextAnalysis.DeStop), hits(pipeline.TextAnalysis.FrStop),
      hits(pipeline.TextAnalysis.EsStop))
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS non_ascii,
       |    $en AS en_hits, $de AS de_hits, $fr AS fr_hits, $es AS es_hits
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, non_ascii, en_hits, de_hits, fr_hits, es_hits,
       |  CASE WHEN non_ascii * 5 > n_chars THEN 'zh'
       |       WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
       |       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
       |       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
       |       WHEN es_hits > 0 THEN 'es'
       |       ELSE 'und' END AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Positional phrase search (Search.phraseMatches): documents holding
    * the exact token sequence "table value", with occurrence counts —
    * the positional-index primitive bag-of-words retrieval can't
    * express. The positional relation is pruned to the phrase's terms
    * inside the scan; adjacency is re-keyed to plain equality
    * (pos - i), so the oracle replays it as ordinary self-joins over a
    * zipped unnest. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    pipeline.Search.phraseMatches(Tables.documents(s, dir),
        Seq("table", "value"))
      .orderBy("doc_id")

  private val qPhraseSearchSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
       |        unnest(toks) AS term FROM t)
       |SELECT p0.doc_id, COUNT(*) AS n_matches
       |FROM p p0 JOIN p p1
       |  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
       | AND p1.term = 'value'
       |WHERE p0.term = 'table'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Blocklist patterns for q_blocklist_screen — lowercase, with shared
    * prefixes and a self-overlapping phrase so the automaton's fail
    * links and overlap counting are exercised on real data; the last
    * pattern never occurs (the all-clear case). Shared verbatim between
    * the Spark automaton and the oracle's VALUES list. */
  private val BlockPatterns = Seq("table", "table part", "part a",
    "slow fast", "a a", "merge batch", "spark", "forbidden phrase")

  /** Multi-pattern blocklist screening (pipeline.Blocklist): one
    * Aho-Corasick pass per document regardless of pattern count — vs one
    * regexp pass per pattern — with every start position counted
    * (overlaps included). The oracle re-counts every pattern at every
    * position with a substring scan, so the exact hit counts (not just
    * the verdicts) are under the hash. */
  private def qBlocklistScreen(s: SparkSession, dir: String): DataFrame =
    pipeline.Blocklist.screen(Tables.documents(s, dir), BlockPatterns)
      .orderBy("doc_id")

  private val qBlocklistScreenSql = {
    val vals = BlockPatterns.map(p => s"('$p')").mkString(", ")
    s"""WITH pats AS (SELECT * FROM (VALUES $vals) AS v(p)),
       |d AS (SELECT doc_id, lower(text) AS t FROM documents),
       |hits AS (SELECT doc_id,
       |    CASE WHEN length(t) >= length(p) THEN
       |      len(list_filter(range(length(t) - length(p) + 1),
       |        i -> substr(t, CAST(i + 1 AS BIGINT), length(p)) = p))
       |    ELSE 0 END AS n
       |  FROM d CROSS JOIN pats)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_patterns_hit,
       |  SUM(n) > 0 AS blocked
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Repetition quality signals (Gopher/C4-style filters). */
  private def qRepetitionStats(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.repetitionStats(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qRepetitionStatsSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |          MAX(tf) AS top_tf, COUNT(*) AS n_distinct
       |        FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tokens, top_tf, n_distinct,
       |  (top_tf * 1000000) // n_tokens AS top_tf_ratio_micros,
       |  (n_distinct * 1000000) // n_tokens AS distinct_ratio_micros,
       |  top_tf * 100 >= n_tokens * 20 AS repetitive
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Rolling-hash content-defined chunking (see TextAnalysis.rollingChunks). */
  private def docRollingChunks(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.rollingChunks(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val docRollingChunksSql = {
    val P = pipeline.Dedup.P
    val bPow = Array.iterate(1L, 8)(b => b * 1000003L % P).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |big AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
       |hs AS (SELECT doc_id, list_transform(t,
       |         x -> ${DuckHash60.format("x")} % $P) AS hs FROM big),
       |r AS (SELECT doc_id, list_transform(range(len(hs) - 7), i ->
       |         (list_sum(list_transform(range(8), j ->
       |            (list_extract(hs, i + j + 1) * list_extract($bPow, j + 1)) % $P))) % $P) AS rs
       |      FROM hs)
       |SELECT doc_id,
       |  CAST(len(rs) AS BIGINT) AS n_windows,
       |  CAST(len(list_filter(rs, x -> x % 64 = 0)) AS BIGINT) AS n_boundaries,
       |  CAST(list_sum(list_transform(rs, x -> x % $P)) % $P AS BIGINT) AS rolling_checksum
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** tf-idf top terms per document (rational idf — see TextAnalysis). */
  private def qTfidfTop(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir))
      .orderBy("doc_id", "rk")

  private val qTfidfTopSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |         (t.tf * 1000000 * n.n_docs) // d.df AS score_micros
       |  FROM tf t JOIN df d ON t.term = d.term, n),
       |ranked AS (
       |  SELECT doc_id, term, tf, df, score_micros,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score_micros DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, score_micros
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Exact discrete percentiles of document length per language: the value
    * at rank ceil(p * n) in sorted order — rank arithmetic, not engine
    * interpolation (quantile_cont formulas differ subtly across engines).
    * Ties broken by doc_id for full determinism. */
  private def qDocLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    ranked
      .groupBy("lang", "n")
      .agg(
        max(when(col("rk") === expr("(n + 1) div 2"), col("n_chars"))).as("p50_chars"),
        max(when(col("rk") === expr("(n * 9 + 9) div 10"), col("n_chars"))).as("p90_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n").as("n_docs"), col("p50_chars"),
        col("p90_chars"), col("max_chars"))
      .orderBy("lang")
  }

  /** Sketch-merge variant of the per-language length percentiles: the
    * grouped `percentile_approx` path (operators.Quantiles) instead of the
    * per-group global sort — 5 languages over 100 TB cap the exact form's
    * sort at 5 tasks, while the sketch's map-side partials keep
    * parallelism on the data. Same exactness gate as
    * `q_value_outliers_approx`: `accuracy = 2^22 > n` makes the GK sketch
    * return the value at rank `ceil(p*n)` exactly, so the oracle is the
    * SAME rank-statistic SQL and both queries must agree row-for-row
    * (p=1.0 is rank n, i.e. the max). */
  private def qDocLengthQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    operators.Quantiles.approxQuantiles(
        Tables.documents(s, dir)
          .select(col("lang"), length(col("text")).cast("long").as("n_chars")),
        Seq("lang"), "n_chars", Seq(0.5, 0.9, 1.0), accuracy = 1 << 22)
      .select(col("lang"), col("n").as("n_docs"), col("q_0").as("p50_chars"),
        col("q_1").as("p90_chars"), col("q_2").as("max_chars"))
      .orderBy("lang")

  private val qDocLengthQuantilesSql =
    s"""WITH ranked AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY length(text), doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT lang, n AS n_docs,
       |  MAX(CASE WHEN rk = (n + 1) // 2 THEN n_chars END) AS p50_chars,
       |  MAX(CASE WHEN rk = (n * 9 + 9) // 10 THEN n_chars END) AS p90_chars,
       |  MAX(n_chars) AS max_chars
       |FROM ranked GROUP BY lang, n ORDER BY lang""".stripMargin

  /** Corpus-trained bigram LM scoring (see
    * [[graft.pipeline.TextAnalysis.lmScore]]); exact integer micros, so the
    * oracle re-derives the identical model and scores in DuckDB. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.lmScore(Tables.documents(s, dir)).orderBy("doc_id")

  private val qLmScoreSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |bg AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t
       |        WHERE len(toks) >= 2)),
       |h AS (SELECT doc_id, ${DuckHash60.format("bg")} AS hb,
       |  ${DuckHash60.format("w1")} AS h1 FROM bg),
       |m12 AS (SELECT hb, count(*) AS c12 FROM h GROUP BY hb),
       |m1 AS (SELECT h1, count(*) AS c1 FROM h GROUP BY h1),
       |sc AS (SELECT doc_id, 1000000 * c12 // c1 AS p
       |  FROM h JOIN m12 USING (hb) JOIN m1 USING (h1)),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(p) // count(*) AS BIGINT) AS lm_score_micros
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.lm_score_micros, 0) AS lm_score_micros
       |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Sliding-window token chunking (size 64, overlap 16) — the
    * long-document → training-sequence splitter. */
  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    pipeline.TextAnalysis.chunkOverlap(Tables.documents(s, dir))
      .orderBy("doc_id", "chunk_idx")

  private val qChunkOverlapSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |k AS (SELECT doc_id, toks, n, CASE WHEN n = 0 THEN 0
       |        ELSE 1 + (GREATEST(n - 64, 0) + 47) // 48 END AS n_chunks
       |      FROM n),
       |ex AS (SELECT doc_id, toks, n, unnest(range(n_chunks)) AS chunk_idx
       |       FROM k WHERE n_chunks > 0)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
       |    AS chunk_text,
       |  CAST(LEAST(n - chunk_idx * 48, 64) AS BIGINT) AS chunk_tokens
       |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin

  /** Unicode/whitespace normalization (Curation.normalizeText) — the
    * pre-dedup cleanup projection; the oracle replays the identical
    * RE2-safe replace chain. The driver corpus is already clean, so every
    * fifth doc is deterministically dirtied (curly quotes, em-dash, NBSP,
    * control char, edge/multi whitespace — re-derived identically in the
    * oracle) to keep each rule's firing path under the hash. */
  private def qNormalizeText(s: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.documents(s, dir).withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(lit("  \u201cQ\u201d \u2014\t"), col("text"),
          lit(" \u2018x\u2019\u00a0 ")))
        .otherwise(col("text")))
    pipeline.Curation.normalizeText(dirty).orderBy("doc_id")
  }

  private val qNormalizeTextSql =
    s"""WITH n AS (SELECT doc_id, length(text) AS n_chars_raw,
       |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(text,
       |      '[\\x00-\\x1f\\x7f]', ' ', 'g'),
       |      '[‘’]', '''', 'g'),
       |      '[“”]', '"', 'g'),
       |      '[–—]', '-', 'g'),
       |      '\\s+', ' ', 'g')) AS norm_text
       |  FROM (SELECT doc_id, replace(CASE WHEN doc_id % 5 = 0
       |      THEN '  “Q” —	' || text || ' ‘x’  '
       |      ELSE text END, ' ', ' ') AS text
       |        FROM documents))
       |SELECT doc_id, CAST(n_chars_raw AS BIGINT) AS n_chars_raw, norm_text,
       |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
       |FROM n ORDER BY doc_id""".stripMargin

  /** Distributed BPE merge training (pipeline.Bpe): 6 merges learned
    * over the document corpus's word frequencies. The corpus is read
    * once (word counts); every iteration is vocab-sized. The oracle
    * unrolls all 6 iterations as CTEs — pair counting, the total-order
    * argmax, and the greedy left-to-right merge (spelled as the
    * run-parity window: within a run of consecutive candidate
    * positions, merges land at even offsets — equivalent to the
    * engine's single-pass fold), so every rank's pair and count is
    * under the hash. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(Tables.documents(s, dir), col("text")), 6)
    pipeline.Bpe.mergesDf(s, model.merges)
      .select(col("rank"), col("left").as("left_sym"),
        col("right").as("right_sym"), col("merged"), col("pair_count"))
      .orderBy("rank")
  }

  /** Encoding under the trained merges: per source, documents, word
    * occurrences and encoded-token totals — the "what does this corpus
    * cost in subword tokens" report. One corpus-sized explode + a join
    * against the vocab-sized segmentation. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(docs, col("text")), 6)
    pipeline.Bpe.encodedTokens(docs, col("text"),
        Seq(col("source"), col("doc_id")), model.segmented)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"))
      .orderBy("source")
  }

  /** The trained subword inventory: every symbol surviving the 6 merges,
    * with a dense deterministic id (rank by symbol), the distinct words
    * containing it and its weighted occurrence count — the vocab table a
    * tokenizer ships next to its merge list. The ranking window runs
    * over a relation bounded by |alphabet| + nMerges rows, not the
    * corpus. */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val model = pipeline.Bpe.train(
      pipeline.Bpe.wordFreq(Tables.documents(s, dir), col("text")), 6)
    val occ = model.segmented
      .select(col("word"), col("freq"), explode(col("syms")).as("symbol"))
    occ.groupBy("symbol")
      .agg(countDistinct("word").as("n_words"),
        sum("freq").as("n_occurrences"))
      .withColumn("id", row_number()
        .over(Window.orderBy("symbol")).cast("long"))
      .select("id", "symbol", "n_words", "n_occurrences")
      .orderBy("id")
  }

  private val qBpeVocabSql =
    s"""WITH $BpeChainSql,
       |occ AS (SELECT word, freq, unnest(syms) AS symbol FROM s6),
       |agg AS (SELECT symbol, COUNT(DISTINCT word) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS n_occurrences FROM occ GROUP BY symbol)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS BIGINT) AS id,
       |  symbol, n_words, n_occurrences
       |FROM agg ORDER BY id""".stripMargin

  /** The shared 6-iteration BPE CTE chain (DuckDB): s0..s6 carry
    * (word, freq, syms LIST); bN holds iteration N's argmax pair.
    * (`lazy` — referenced by oracle vals declared above it.) */
  private lazy val BpeChainSql: String = {
    val iters = (1 to 6).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (SELECT s$p.syms[j] AS l, s$p.syms[j+1] AS r,
         |    CAST(SUM(s$p.freq) AS BIGINT) AS cnt
         |  FROM s$p, unnest(generate_series(1, len(s$p.syms) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |x$i AS (SELECT word, freq, j, s$p.syms[j] AS sym, b$i.l AS bl,
         |    b$i.r AS br
         |  FROM s$p, unnest(generate_series(1, len(s$p.syms))) AS t(j), b$i),
         |c$i AS (SELECT x$i.*, CASE WHEN sym = bl AND lead(sym)
         |      OVER (PARTITION BY word ORDER BY j) = br
         |    THEN 1 ELSE 0 END AS cand FROM x$i),
         |g$i AS (SELECT c$i.*, CASE WHEN cand = 1 THEN j - ROW_NUMBER()
         |      OVER (PARTITION BY word, cand ORDER BY j) END AS grp
         |  FROM c$i),
         |k$i AS (SELECT g$i.*, CASE WHEN cand = 1
         |      AND (j - MIN(j) OVER (PARTITION BY word, grp)) % 2 = 0
         |    THEN 1 ELSE 0 END AS keep FROM g$i),
         |m$i AS (SELECT word, freq, j,
         |    CASE WHEN keep = 1 THEN sym || br
         |         WHEN lag(keep) OVER (PARTITION BY word ORDER BY j) = 1
         |           THEN NULL
         |         ELSE sym END AS sym
         |  FROM k$i),
         |s$i AS MATERIALIZED (SELECT word, ANY_VALUE(freq) AS freq,
         |    list(sym ORDER BY j) FILTER (sym IS NOT NULL) AS syms
         |  FROM m$i GROUP BY word)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest($DuckToks) AS word FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM w GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq,
       |  regexp_extract_all(word, '.') AS syms FROM wf),
       |$iters""".stripMargin
  }

  private val qBpeMergesSql = {
    val rows = (1 to 6).map { i =>
      s"""SELECT $i AS rank, l AS left_sym, r AS right_sym,
         |  l || r AS merged, cnt AS pair_count FROM b$i""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH $BpeChainSql
       |SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, merged,
       |  pair_count
       |FROM ($rows) ORDER BY rank""".stripMargin
  }

  private val qBpeEncodeSql =
    s"""WITH $BpeChainSql,
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms FROM s6),
       |dw AS (SELECT source, doc_id, unnest($DuckToks) AS word
       |  FROM documents),
       |per_doc AS (SELECT source, doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(e.n_syms) AS BIGINT) AS n_tokens
       |  FROM dw JOIN enc e USING (word) GROUP BY source, doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_stats", textStats, textStatsSql),
    QuerySpec("q_token_counts", qTokenCounts, qTokenCountsSql),
    QuerySpec("q_repetition_stats", qRepetitionStats, qRepetitionStatsSql),
    QuerySpec("q_blocklist_screen", qBlocklistScreen, qBlocklistScreenSql),
    QuerySpec("q_phrase_search", qPhraseSearch, qPhraseSearchSql),
    QuerySpec("doc_rolling_chunks", docRollingChunks, docRollingChunksSql),
    QuerySpec("q_tfidf_top", qTfidfTop, qTfidfTopSql),
    QuerySpec("q_doc_length_quantiles", qDocLengthQuantiles, qDocLengthQuantilesSql),
    QuerySpec("q_doc_length_quantiles_approx", qDocLengthQuantilesApprox,
      qDocLengthQuantilesSql),
    QuerySpec("lang_id", langIdQ, langIdSql),
    QuerySpec("q_lm_score", qLmScore, qLmScoreSql),
    QuerySpec("q_chunk_overlap", qChunkOverlap, qChunkOverlapSql),
    QuerySpec("q_normalize_text", qNormalizeText, qNormalizeTextSql),
    QuerySpec("q_bpe_merges", qBpeMerges, qBpeMergesSql),
    QuerySpec("q_bpe_encode", qBpeEncode, qBpeEncodeSql),
    QuerySpec("q_bpe_vocab", qBpeVocab, qBpeVocabSql)
  )
}
