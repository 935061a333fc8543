package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality signals, language-ID heuristic, and content fingerprinting.
  *
  * Everything is built from codegen'd built-ins (regexp/array/higher-order
  * functions) — no UDFs, no shuffles per row; all operators are narrow
  * projections that scale linearly with the corpus.
  *
  * Cross-engine note: every expression here has an exact DuckDB equivalent
  * (same RE2-compatible regexes, same integer arithmetic) so results are
  * oracle-checkable bit-for-bit.
  */
object TextAnalysis {

  /** BPE-ish lexer: lowercased alphanumeric runs. */
  val TokenPattern = "[a-z0-9]+"

  /** Bit-identical to `regexp_extract_all(lower(text), TokenPattern, 0)`
    * (TokenizeSpec pins agreement, Unicode edge cases included) but runs
    * as [[graft.functions.Tokenize]]'s native byte scan over `lower(text)`
    * — tokenization is the leading per-row cost of every text pipeline,
    * and the regex form pays a java.util.regex walk plus a UTF-16 round
    * trip per row. Lowercasing stays with Spark's own `lower`, so the
    * swap changes only how the character-class runs are extracted. */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.Tokenize(ColumnBridge.expression(lower(text))))
  }

  /** The declarative spelling [[tokens]] must stay equivalent to — kept
    * callable so TokenizeSpec can assert agreement on any corpus. */
  def tokensRegex(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** `size(tokens(text))` as one counting byte scan
    * ([[graft.functions.TokenCount]]) — no lowercased row copy, no token
    * array — for consumers that need only the count (document length,
    * corpus token totals). TokenizeSpec pins bit-equality with
    * `size(tokens)`. */
  def tokenCount(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.TokenCount(ColumnBridge.expression(text)))
  }

  /** Token counting under the two standard cheap lexers: whitespace runs
    * (`\S+` — what "word count" means to a shell) and a BPE-ish pattern
    * (letter runs | single digits | punctuation runs — the shape of a
    * GPT-2-style pre-tokenizer, giving a closer proxy for LLM token budgets
    * than whitespace). Both are narrow codegen projections; the ratio
    * column is integer micros for cross-engine exactness. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]+"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        tokenCount(col("text")).cast("long").as("n_word_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("chars_per_bpe_micros",
        when(col("n_bpe_tokens") > 0,
          expr("n_chars * 1000000 div n_bpe_tokens")).otherwise(lit(0L)))

  /** Count of token occurrences (with multiplicity) that are in `words`. */
  def stopwordCount(toks: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** Characters outside ASCII — the CJK/script signal for language-ID. */
  def nonAsciiCount(text: Column): Column =
    length(regexp_replace(text, "[\\x00-\\x7F]", ""))

  val EnStop = Seq("the", "and", "of", "to", "a", "in", "is", "that")
  val DeStop = Seq("der", "die", "und", "das", "nicht", "ist", "ein")
  val FrStop = Seq("le", "la", "et", "les", "des", "une", "est")
  val EsStop = Seq("el", "de", "que", "los", "una", "es", "y")

  /** The single source of truth for the document-quality thresholds, over
    * already-computed stats columns (callers materialize token counts once;
    * recomputing them inside the predicate would re-run the tokenizer). */
  def qualityOkFromStats(nTokens: Column, stopwords: Column,
                         punct: Column, nChars: Column): Column =
    nTokens >= 5 && nTokens <= 100000 &&
      stopwords * 100 >= nTokens * 2 && punct * 10 <= nChars

  /** Per-document quality/statistics signals (integer-only outputs).
    *
    * The token array is materialized in a *separate first projection*: four
    * downstream expressions consume it, several through higher-order
    * functions that fall out of whole-stage codegen where subexpression
    * elimination would otherwise dedup the regexp. CollapseProject keeps
    * the two projects apart (it refuses to duplicate a non-cheap alias), so
    * the tokenizer regexp runs exactly once per row. */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("total_token_chars"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long").as("punct_count"),
        stopwordCount(col("toks"), EnStop).cast("long").as("stopword_count"))
      .withColumn("quality_ok", qualityOkFromStats(col("n_tokens"),
        col("stopword_count"), col("punct_count"), col("n_chars")))

  /** N-gram/stopword language-ID heuristic: CJK by non-ASCII density, then
    * argmax of per-language stopword hits (priority en>de>fr>es on ties),
    * 'und' when nothing matches. */
  def langId(docs: DataFrame): DataFrame = {
    // tokens materialized once (same two-project shape as textStats: four
    // stopword filters consume the array through non-codegen HOFs)
    val scored = docs
      .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        nonAsciiCount(col("text")).cast("long").as("non_ascii"),
        stopwordCount(col("toks"), EnStop).cast("long").as("en_hits"),
        stopwordCount(col("toks"), DeStop).cast("long").as("de_hits"),
        stopwordCount(col("toks"), FrStop).cast("long").as("fr_hits"),
        stopwordCount(col("toks"), EsStop).cast("long").as("es_hits"))
    scored.withColumn("predicted",
      when(col("non_ascii") * 5 > col("n_chars"), "zh")
        .when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
          col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
        .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits") &&
          col("de_hits") > 0, "de")
        .when(col("fr_hits") >= col("es_hits") && col("fr_hits") > 0, "fr")
        .when(col("es_hits") > 0, "es")
        .otherwise("und"))
  }

  /** Whitespace-normalized content fingerprint (exact-dedup key). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Repetition-based quality signals (the Gopher/C4-style filters): the
    * share of the document taken by its most frequent token and the
    * distinct-token ratio, as exact integer micros.
    *
    * Shape: ZERO shuffles. Every signal is a function of one document's
    * own token multiset, so the per-term frequencies are counted inside
    * the scan with a per-row hash map (the established primitive-loop
    * pattern, see [[rollingChunks]]) instead of explode ->
    * groupBy(doc, term) -> groupBy(doc) — the original spelling moved the
    * whole token stream through an exchange to compute a per-row answer,
    * and was the suite's worst 10x scale ratio (5.4x, BENCH_SCALE_r07)
    * purely from shuffle-writing the corpus. Tokenization stays in the
    * declarative plan (`tokens`) so the lexer is bit-identical to every
    * other operator and to the DuckDB oracle. */
  def repetitionStats(docs: DataFrame, topTfPctMax: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the token-less guard lives INSIDE the partition function: a
    // `.where(size(toks) > 0)` between project and deserialize gets pushed
    // below the projection and re-evaluates the tokenizer regexp twice.
    // NULL text tokenizes to a NULL array — dropped here exactly like the
    // explode-based spelling dropped it (unnest of NULL emits no rows)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.collect { case (id, toks) if toks != null && toks.nonEmpty =>
          val m = new java.util.HashMap[String, Long](64)
          // m.get on a miss returns null, which unboxes to 0L in Scala
          toks.foreach(t => m.put(t, m.get(t) + 1L))
          var top = 0L
          val vs = m.values.iterator()
          while (vs.hasNext) { val v = vs.next(); if (v > top) top = v }
          (id, toks.length.toLong, top, m.size.toLong)
        }
      }.toDF("doc_id", "n_tokens", "top_tf", "n_distinct")
      .select(col("doc_id"), col("n_tokens"), col("top_tf"), col("n_distinct"),
        expr("(top_tf * 1000000) div n_tokens").as("top_tf_ratio_micros"),
        expr("(n_distinct * 1000000) div n_tokens").as("distinct_ratio_micros"),
        (col("top_tf") * 100 >= col("n_tokens") * topTfPctMax).as("repetitive"))
  }

  /** Content-defined chunking via a polynomial rolling hash (Rabin-Karp
    * style) over the document's token-hash sequence.
    *
    * Window hash `r_i = sum_j (hash60(tok[i+j]) % P) * B^j mod P` rolls over
    * `w`-token windows; positions where `r_i % boundaryMod == 0` are chunk
    * boundaries — the content-defined-chunking shape used for
    * partial-overlap dedup (boundaries survive insertions/deletions outside
    * the window, unlike fixed-offset chunking). Emits per-doc scalars
    * (window count, boundary count, rolling checksum) — all exact BIGINT
    * arithmetic, re-derived verbatim by the DuckDB oracle. The hash loop is
    * a per-partition primitive pass like the dedup signatures. */
  def rollingChunks(docs: DataFrame, w: Int = 8,
                    boundaryMod: Long = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val P = Dedup.P
    val B = 1000003L
    val bPow = Array.iterate(1L, w)(b => b * B % P)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= w)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toksSeq) =>
          val hs = toksSeq.iterator.map(t => Dedup.md5Top60(md, t) % P).toArray
          val n = hs.length - (w - 1)
          var boundaries = 0L
          var checksum = 0L
          var i = 0
          while (i < n) {
            var r = 0L
            var j = 0
            while (j < w) { r += hs(i + j) * bPow(j) % P; j += 1 }
            r %= P
            if (r % boundaryMod == 0L) boundaries += 1
            checksum = (checksum + r) % P
            i += 1
          }
          (id, n.toLong, boundaries, checksum)
        }
      }.toDF("doc_id", "n_windows", "n_boundaries", "rolling_checksum")
  }

  /** Per-document top-k terms by tf-idf.
    *
    * The idf factor is the *rational* corpus ratio N/df rather than its
    * logarithm: `score_micros = (tf * 1e6 * N) div df` is exact BIGINT
    * arithmetic in both engines, whereas `ln` is not guaranteed correctly
    * rounded and could flip a floor() at a ULP boundary. Monotonic in the
    * classic tf·log(N/df) for fixed tf, and cross-engine deterministic.
    *
    * Shape: explode -> groupBy(doc, term) [tf, persisted: it feeds three
    * plan branches (join side, df, N) and Spark shares no subplans across
    * branches] -> groupBy(term) [df] -> broadcast N -> window top-k per
    * doc. The tf relation is the only fact-sized shuffle.
    */
  /** Corpus-trained bigram language-model score — the perplexity-style
    * quality signal (CCNet/Gopher lineage): documents whose word
    * transitions are typical of the corpus score high, word-soup scores
    * low. Train and score are one pipeline over the same relation:
    *
    *  1. occurrences: every adjacent token pair of every doc, with
    *     multiplicity, built by zipping two shifted slices at argument
    *     level (one narrow projection; see [[Dedup.shinglesFromTokens]]
    *     for why the lambda must not re-reference the tokenizer);
    *  2. model: `c12 = count(w1,w2)` and context totals `c1 = count(w1·)`
    *     — two hash aggregates with map-side partials, both keyed on
    *     60-bit BIGINT hashes so the shuffles move longs, not strings;
    *  3. score: each occurrence's conditional probability in integer
    *     micros `1e6*c12 div c1`, averaged per doc with integer division.
    *
    * Scale shape: the occurrence relation is fact-sized (≈ token count);
    * everything downstream is keyed aggregation/join on BIGINT — no
    * driver state, no broadcast of data-sized relations (the model is
    * vocab²-bounded, usually ≪ corpus; AQE picks the join strategy).
    * Exact integer arithmetic end-to-end, so the DuckDB oracle matches
    * bit-for-bit. Docs with <2 tokens score (0, 0). A NULL `doc_id` is
    * allowed: the doc's bigrams still count toward the model, and the doc
    * itself comes out as a (NULL, 0, 0) row (it matches no scored key). */
  def lmScore(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // widen BELOW the tokenize: the exchange must spread the raw text so
    // tokenization/hashing run cluster-wide, not inside the serial scan
    val toks = graft.util.Par.widen(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val n = size(col("toks"))
    // occ feeds three consumers (both model aggregates + the scored join);
    // without a cache each one re-tokenizes and re-hashes the corpus (the
    // plan showed three Generate-over-scan branches). A LAZY persist is
    // not enough here: the two model aggregates are independent stages of
    // the same job, so they race on the unfilled cache and BOTH recompute
    // the build — eagerly materialize the compact hashed relation once
    // instead (localCheckpoint also cuts the lineage, so nothing below
    // re-tokenizes). The build itself is widened above (Par.widen on the
    // raw docs): bigram hashing is the query's dominant per-row cost.
    //
    // The build runs as a tight per-partition loop (the hashedShingleDf
    // discipline): the declarative spelling — zip two shifted slices,
    // build a (w1, concat_ws bg) struct per pair, explode, then
    // conv(substring(md5)) twice per row — allocates a struct, a joined
    // string and two 32-char hex strings per bigram and falls out of
    // whole-stage codegen at the Generate anyway. Here each token's
    // 60-bit context hash is computed ONCE per position and reused, the
    // bigram string is assembled in a reused builder, and md5Top60
    // digests bytes without the hex round trip. Values are bit-identical
    // to hash60(concat_ws(" ", w1, w2)) / hash60(w1)
    // (TextAnalysisSpec pins the declarative twin; the oracle re-derives
    // the same md5-based model end to end).
    val occ = toks.where(n >= 2)
      .select(col("doc_id"), col("toks"))
      // boxed id: a NULL doc_id decodes to null instead of throwing
      .as[(java.lang.Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, ts) =>
          val a = ts.toArray
          val m = a.length - 1
          val out = new Array[(java.lang.Long, Long, Long)](m)
          var prevH = Dedup.md5Top60(md, a(0))
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < m) {
            sb.setLength(0)
            sb.append(a(i)).append(' ').append(a(i + 1))
            out(i) = (id, Dedup.md5Top60(md, sb.toString), prevH)
            i += 1
            if (i < m) prevH = Dedup.md5Top60(md, a(i))
          }
          out
        }
      }.toDF("doc_id", "hb", "h1")
      .localCheckpoint(true)
    val m12 = occ.groupBy("hb").agg(count(lit(1)).as("c12"))
    val m1 = occ.groupBy("h1").agg(count(lit(1)).as("c1"))
    val scored = occ.join(m12, "hb").join(m1, "h1")
      .select(col("doc_id"), expr("1000000 * c12 div c1").as("p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p) div count(1)").as("lm_score_micros"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score_micros"), lit(0L)).as("lm_score_micros"))
  }

  /** Sliding-window token chunking with overlap — the long-document →
    * training-sequence splitter (HF `return_overflowing_tokens` shape):
    * chunk i covers tokens `[i*stride, i*stride + size)` with
    * `stride = size - overlap`; the chunk count is
    * `1 + ceil(max(0, n - size) / stride)` (empty docs yield none, short
    * docs one). One narrow projection + one explode — no shuffle, no
    * per-chunk re-tokenization (the token array is materialized once and
    * sliced per chunk at argument level). */
  def chunkOverlap(docs: DataFrame, size: Int = 64, overlap: Int = 16): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    // `size` the parameter shadows functions.size here
    val n = org.apache.spark.sql.functions.size(col("toks")).cast("long")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", n)
      // exact integer chunk count; ceil-div on non-negative operands
      .withColumn("n_chunks", expr(
        s"CASE WHEN n = 0 THEN 0L ELSE 1L + " +
          s"(greatest(n - $size, 0L) + ${stride - 1}L) div ${stride}L END"))
      .select(col("doc_id"), col("toks"), col("n"),
        // sequence(0, -1) counts DOWN (see shingles note) — guard n_chunks = 0
        explode(when(col("n_chunks") > 0,
            sequence(lit(0L), col("n_chunks") - 1))
          .otherwise(array().cast("array<bigint>"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(size)), " ").as("chunk_text"),
        least(col("n") - col("chunk_idx") * stride, lit(size.toLong))
          .as("chunk_tokens"))
  }

  /** Per-document term frequencies as a narrow pass: (doc_id, term, tf)
    * with no exchange. A document's term counts are a function of its own
    * row, so they are counted inside the scan (per-row hash map) rather
    * than explode -> groupBy(doc_id, term), which shuffle-writes every
    * token occurrence to compute a per-document answer. Output rows are
    * (doc, DISTINCT term) — already the compact relation the old groupBy
    * produced, minus the exchange that built it. */
  def termCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        // NULL text -> NULL token array: emit nothing, matching the old
        // explode -> groupBy spelling (explode of NULL emits no rows)
        it.flatMap { case (id, toks) =>
          if (toks == null) Nil
          else {
            val m = new java.util.LinkedHashMap[String, Long](64)
            toks.foreach(t => m.put(t, m.get(t) + 1L))
            val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)](m.size)
            val es = m.entrySet().iterator()
            while (es.hasNext) { val e = es.next(); out += ((id, e.getKey, e.getValue)) }
            out
          }
        }
      }.toDF("doc_id", "term", "tf")
  }

  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termCounts(docs).persist()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_micros",
        expr("(tf * 1000000 * n_docs) div df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score_micros").desc, col("term"))))
      .where(col("rk") <= k)
      .select("doc_id", "rk", "term", "tf", "df", "score_micros")
  }
}
