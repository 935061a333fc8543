package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Keyword retrieval over a document corpus: inverted-index statistics +
  * BM25-style ranking, exact BIGINT arithmetic end to end.
  *
  * Scoring is the BM25 shape with a RATIONAL idf instead of the usual
  * logarithm: `idf = (2(N-df)+1) / (2df+1)` in integer micros — the same
  * ln-free trick as the tf-idf operator (a logarithm computed by two
  * engines' libm is not guaranteed bit-identical; a rational function of
  * BIGINTs is). The rational idf is a strictly monotone transform of the
  * Robertson idf argument `(N-df+0.5)/(df+0.5)`, so single-term rankings
  * are identical and multi-term rankings only re-weight terms relative to
  * each other (more weight to rare terms — the direction BM25 wants).
  *
  * Shape at scale: one explode + one (doc, term) aggregate builds the
  * postings (this IS the inverted index — the unavoidable shuffle); doc
  * lengths and term dfs are rollups of the postings; the query set is tiny
  * and broadcast; per-query top-k goes through a rank window that Spark
  * prunes with WindowGroupLimit on both sides of the exchange, so only
  * ~queries x k rows ever shuffle.
  */
object Search {

  /** @param docs    corpus
    * @param queries (query_id, terms) — the small search workload
    * @param k       results per query
    * @return (query_id, rk, doc_id, score_micros), rk 1..k, score-desc
    *         with doc_id tie-break
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int,
      k1Micros: Long = 1200000L,
      bMicros: Long = 750000L): DataFrame = {
    require(queries.nonEmpty && k > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, terms) => terms.map(t => (qid, t)) }
      .toDF("query_id", "term")
    bm25TopKTerms(docs, idCol, textCol, q, k, k1Micros, bMicros)
  }

  /** [[bm25TopK]] with the query workload as a (query_id, term) RELATION
    * instead of a driver-side literal — the form composable with
    * query-term derivation inside the engine ([[moreLikeThis]]). The
    * query side must be workload-sized (it is broadcast twice); the
    * corpus side has no size assumption.
    *
    * @param excludeSelf drop hits where doc_id == query_id BEFORE ranking
    *        (more-like-this semantics: a document trivially matches its
    *        own terms and would occupy a top-k slot in every list)
    */
  def bm25TopKTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: DataFrame,
      k: Int,
      k1Micros: Long = 1200000L,
      bMicros: Long = 750000L,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0)

    val q = queryTerms.select(col("query_id").cast("long").as("query_id"),
      col("term").cast("string").as("term"))

    // Restrict the token stream to QUERY terms before anything aggregates:
    // BM25 only needs (tf, dl, df) for postings whose term is in the
    // workload, plus two corpus scalars (n, sum_dl). The r15 spelling
    // built and CACHED the full-corpus (doc, term, tf) aggregate — a
    // vocabulary-wide shuffle plus an InMemoryRelation build plus a
    // doc-length rollup and a corpus-sized join, all to then keep only
    // the query terms' rows. Here the broadcast semi-join prunes the
    // exploded stream pre-exchange, so the only corpus-wide work is two
    // tokenize scans (the second computes the 1-row stats with no
    // shuffle at all). Document length is size(tokens) BY DEFINITION
    // (= sum of tf over the doc's postings), so it rides the projection
    // instead of being re-derived by aggregation. The token array is
    // materialized into a column FIRST (the tokenizedPostings spelling):
    // size() and the explode generator then read that one attribute —
    // inlining tokens(...) into both would tokenize every row twice,
    // Project and Generate being separate operators with no
    // subexpression sharing (the r16 verdict's finding).
    val qp = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(q.select("term").distinct()), "term")
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
      // feeds the df aggregate AND the contrib join; query-selectivity-
      // sized (<= |query terms| x matching docs), far below the full
      // postings relation the previous spelling cached
      .persist()
    val dft = qp.groupBy("term").agg(count(lit(1)).as("df"))

    // N counts ALL docs (token-less ones score 0 but weigh on idf);
    // sum_dl is the corpus token count — one scan-aggregate, no shuffle.
    // The when-guard keeps token-less docs (NULL text or no [a-z0-9]
    // runs) contributing NULL, so an all-token-less corpus sums to NULL
    // exactly like the previous rollup-over-no-postings spelling did.
    val stats = docs.agg(count(lit(1)).as("n"), corpusSumDl(textCol))

    val topk = rankTopK(q, qp, dft, stats, k, k1Micros, bMicros, excludeSelf)
    // |queries| * k rows: materialize eagerly (cutting lineage) so the
    // pruned postings cache is released deterministically instead of
    // leaking across invocations
    val out = topk.localCheckpoint(true)
    qp.unpersist()
    out
  }

  /** Corpus token count as a scan-aggregate column: sums size(tokens) over
    * docs that HAVE tokens (token-less docs contribute NULL, so an
    * all-token-less corpus yields NULL — identical to summing `dl` over the
    * per-doc postings rollup, where such docs have no row). Per-doc
    * `size(tokens) == sum(tf)` by definition of term frequency; the count
    * is computed by [[TextAnalysis.tokenCount]]'s single counting byte
    * scan — this aggregate is the sole reason the stats job touches the
    * text column, so it should not pay the lowercase copy + token array
    * build the full tokenizer does. */
  private def corpusSumDl(textCol: String): Column = {
    val n = TextAnalysis.tokenCount(col(textCol))
    sum(when(n > 0, n)).cast("long").as("sum_dl")
  }

  /** Shared scoring tail of the per-query and indexed paths: BM25-score
    * and rank a query workload against an already-pruned postings
    * relation that carries each posting's document length.
    *
    * @param qp    (term, doc_id, tf, dl) — postings restricted to query terms
    * @param dft   (term, df) for at least the query terms
    * @param stats 1 row: (n, sum_dl)
    */
  private def rankTopK(q: DataFrame, qp: DataFrame, dft: DataFrame,
      stats: DataFrame, k: Int, k1Micros: Long, bMicros: Long,
      excludeSelf: Boolean): DataFrame = {
    val contrib = broadcast(q)
      .join(qp, "term")
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micros",
        expr("((2 * (n - df) + 1) * 1000000) div (2 * df + 1)"))
      .withColumn("l_ratio_micros", expr("(dl * n * 1000000) div sum_dl"))
      .withColumn("denom_micros",
        expr(s"tf * 1000000 + ($k1Micros * (1000000 - $bMicros + " +
          s"($bMicros * l_ratio_micros) div 1000000)) div 1000000"))
      .withColumn("contrib_micros",
        expr(s"(idf_micros * ((tf * (1000000 + $k1Micros) * 1000000) " +
          "div denom_micros)) div 1000000"))

    val scoredAll = contrib.groupBy("query_id", "doc_id")
      .agg(sum("contrib_micros").as("score_micros"))
    val scored =
      if (excludeSelf) scoredAll.where(col("doc_id") =!= col("query_id"))
      else scoredAll
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score_micros")
  }

  // ================================================================
  // Persistent inverted index (build once, query many)
  // ================================================================

  /** The persisted index relations' schemas, as [[buildIndex]] writes them
    * (parquet reads every column back nullable). Reading with a known
    * schema skips the one-task footer-inference job `spark.read.parquet`
    * runs per relation and call. */
  private val IndexSchemas: Map[String, StructType] = Map(
    "postings" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType),
      StructField("dl", LongType))),
    "termdf" -> StructType(Seq(StructField("term", StringType),
      StructField("df", LongType))),
    "stats" -> StructType(Seq(StructField("n", LongType),
      StructField("sum_dl", LongType))))

  /** Index relation `rel` of the generation directory `gen`. */
  private def readIndex(spark: SparkSession, gen: String, rel: String): DataFrame =
    spark.read.schema(IndexSchemas(rel)).parquet(s"$gen/$rel")

  /** Materialize the inverted index under `dir` for repeated retrieval:
    * `postings/` (term, doc_id, tf, dl — the document length is
    * DENORMALIZED into every posting, Lucene-norms style, so a query
    * never joins the corpus-sized doc-length relation), `termdf/`
    * (term, df over the FULL vocabulary), `stats/` (1 row: n, sum_dl).
    * Both term-keyed relations are range-clustered and sorted on term,
    * so a term-list lookup prunes to a few files / row groups via
    * parquet min/max statistics instead of scanning the index.
    *
    * Build cost is [[bm25TopKTerms]]'s one explode + one (doc, term)
    * aggregate — paid ONCE and amortized over every query that follows,
    * where the per-query form re-tokenizes the corpus each invocation.
    * `nFiles` sizes the postings layout: at fleet scale pick
    * index-bytes / target-file-size.
    *
    * The index root is GENERATION-VERSIONED ([[IndexGen]]): the three
    * relations land in a fresh `gen_NNNNNN/` directory and one atomic
    * pointer rename publishes them — building over a live index is a hot
    * swap, with in-flight readers finishing against the superseded
    * generation (retained one cycle). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nFiles: Int = 32): Unit = {
    val (gen, genPath) = IndexGen.newGen(dir)
    buildRelations(docs, idCol, textCol, genPath, nFiles)
    IndexGen.flip(dir, gen)
  }

  /** The tokenize + (doc, term) aggregate both index paths share, with the
    * document length riding the projection: per-doc `dl == size(tokens)`
    * by definition of term frequency, so deriving it by a postings rollup
    * plus a corpus-sized join (the r15 spelling — one extra exchange of
    * the whole postings relation by doc_id) bought nothing. Column order
    * matches the persisted index schema (doc_id, term, tf, dl). */
  private def tokenizedPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
      .select("doc_id", "term", "tf", "dl")
  }

  private def buildRelations(docs: DataFrame, idCol: String,
      textCol: String, genPath: String, nFiles: Int): Unit = {
    val postings = tokenizedPostings(docs, idCol, textCol).persist()
    postings
      .repartitionByRange(nFiles, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$genPath/postings")
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .repartitionByRange(math.max(1, nFiles / 4), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$genPath/termdf")
    // sum(tf) over the cached postings == the old per-doc dl rollup's sum
    // (and NULL over an all-token-less corpus, where postings is empty)
    docs.agg(count(lit(1)).as("n"))
      .crossJoin(postings.agg(sum("tf").cast("long").as("sum_dl")))
      .write.mode("overwrite").parquet(s"$genPath/stats")
    postings.unpersist()
  }

  /** Incremental maintenance of a [[buildIndex]] directory: fold an
    * admitted batch of NEW documents into the standing index without
    * re-tokenizing the ledger corpus —
    * `refreshIndex(buildIndex(L), B) == buildIndex(L ∪ B)`
    * relation-for-relation (SearchSpec pins postings/termdf/stats
    * equality; the `q_bm25_index_refresh` oracle gate replays the
    * build-then-refresh pipeline against a from-scratch full-corpus
    * DuckDB rederivation, so any drift in the df merge or stats
    * arithmetic fails the hash end-to-end).
    *
    * Everything is batch-sized except two metadata-tier rewrites:
    * - `postings/`: the batch's (term, doc_id, tf, dl) rows are APPENDED
    *   as their own term-sorted files — ledger postings are never read or
    *   rewritten. Document length is per-document and documents are
    *   immutable, so the denormalized `dl` of standing postings is
    *   refresh-invariant by construction. Each refresh adds one small
    *   term-sorted file set whose min/max footers still prune lookups;
    *   long refresh chains should compact (rebuild) periodically, the
    *   [[Dedup.refreshNearDupIndex]] discipline.
    * - `termdf/` and `stats/`: term dfs merge by one full-outer join of
    *   the vocabulary relation with the batch's dfs (vocabulary-tier, no
    *   tokenization), and the 1-row stats add the batch's counts. Both
    *   are materialized (localCheckpoint cuts the file lineage) before
    *   overwriting the directory they were read from.
    *
    * Contract: batch doc_ids must be NEW (the admission discipline every
    * standing index here assumes) — replayed ids would duplicate
    * postings rows, exactly as re-inserting into the rebuild would.
    *
    * Refresh publishes a NEW generation ([[IndexGen]]), like build and
    * compaction: standing postings part files are hard-linked into it
    * (immutable once published — the carry-forward costs directory
    * entries, not index-sized I/O), the batch's term-sorted file set and
    * the merged vocabulary-tier termdf/stats are written beside them,
    * and one atomic pointer rename publishes all three relations
    * together. A reader racing a refresh serves entirely from the old or
    * entirely from the new generation — never a cross-batch pairing (the
    * in-place termdf/stats overwrite window the r16 spelling documented
    * and SearchSpec now drives concurrently). A crash mid-refresh leaves
    * the old generation serving and an orphan directory the next flip
    * prunes. */
  def refreshIndex(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, batchFiles: Int = 4): Unit = {
    val cur = IndexGen.resolve(dir)
    val (gen, genPath) = IndexGen.newGen(dir)
    val bp = tokenizedPostings(batch, idCol, textCol).persist()
    IndexGen.linkDataFiles(s"$cur/postings", s"$genPath/postings")
    bp
      .repartitionByRange(batchFiles, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("append").parquet(s"$genPath/postings")
    val bdf = bp.groupBy("term").agg(count(lit(1)).as("df_new"))
    readIndex(spark, cur, "termdf")
      .withColumnRenamed("df", "df_old")
      .join(bdf, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_old"), lit(0L)) +
          coalesce(col("df_new"), lit(0L))).as("df"))
      .repartitionByRange(math.max(1, batchFiles), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$genPath/termdf")
    // stats: n counts ALL batch docs (token-less ones weigh on idf, the
    // buildIndex rule); sum_dl stays NULL only while BOTH sides are
    // token-free, matching what a from-scratch build would write
    val bStats = batch.agg(count(lit(1)).as("bn"))
      .crossJoin(bp.agg(sum("tf").cast("long").as("bsum")))
    readIndex(spark, cur, "stats")
      .crossJoin(bStats)
      .select((col("n") + col("bn")).as("n"),
        when(col("sum_dl").isNull && col("bsum").isNull, lit(null))
          .otherwise(coalesce(col("sum_dl"), lit(0L)) +
            coalesce(col("bsum"), lit(0L))).cast("long").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$genPath/stats")
    bp.unpersist()
    IndexGen.flip(dir, gen)
  }

  /** Periodic COMPACTION of a refresh-chained [[buildIndex]] directory —
    * the BM25 analog of the drift-triggered retrain ([[Ivf.retrainIndex]]):
    * BM25 has no trained state, so what long refresh chains degrade is the
    * FILE layout (each refresh appends a small term-sorted file set;
    * min/max pruning weakens as sets pile up), and compaction re-clusters
    * the whole index into `nFiles` range-sorted files. Query results are
    * unchanged by contract — refresh == rebuild relation-for-relation
    * already, so compaction is a pure re-layout: SearchSpec pins the
    * compacted generation content-equal to a fresh [[buildIndex]], and the
    * `q_bm25_retrain` oracle gate replays refresh → compact → further
    * refresh against the full-corpus DuckDB rederivation.
    *
    * Cost is INDEX-sized, not corpus-sized: the new layout is derived
    * entirely from the standing relations (postings carry everything a
    * rebuild needs — BM25 has no trained state to re-learn, and `stats`
    * preserves the token-less-document count postings alone cannot see),
    * so nothing re-tokenizes raw text. The r15 form took the full raw
    * corpus and paid the tokenize+aggregate build again per compaction —
    * the reason the retrain gate was the registry's most expensive row.
    *
    * Hot swap ([[IndexGen]]): the re-layout lands in a fresh generation
    * directory and ONE atomic pointer rename publishes all three
    * relations together — a racing reader serves entirely from the old
    * or entirely from the new generation, never a mix (SearchSpec drives
    * queries concurrently with compactions to pin this). The superseded
    * generation is retained one cycle for in-flight readers. */
  def compactIndex(spark: SparkSession, dir: String,
      nFiles: Int = 32): Unit = {
    val cur = IndexGen.resolve(dir)
    require(new java.io.File(s"$cur/postings").isDirectory,
      s"compactIndex: no index generation under $dir")
    val (gen, genPath) = IndexGen.newGen(dir)
    readIndex(spark, cur, "postings")
      .repartitionByRange(nFiles, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$genPath/postings")
    readIndex(spark, cur, "termdf")
      .repartitionByRange(math.max(1, nFiles / 4), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$genPath/termdf")
    readIndex(spark, cur, "stats")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$genPath/stats")
    IndexGen.flip(dir, gen)
  }

  /** BM25 top-k answered from a [[buildIndex]] directory: scores are
    * identical to [[bm25TopK]] over the indexed corpus, but the only
    * corpus-sized work is the term-pruned postings read — `term IN (...)`
    * pushes into the parquet scan, and the term-sorted layout turns the
    * lookup into a row-group seek. Everything downstream is
    * workload-sized (|query terms| postings rows per matching doc). */
  def bm25TopKIndexed(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      k1Micros: Long = 1200000L, bMicros: Long = 750000L): DataFrame = {
    require(queries.nonEmpty && k > 0)
    import spark.implicits._
    val cur = IndexGen.resolve(dir) // ONE generation serves this query
    val q = queries.flatMap { case (qid, terms) => terms.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val terms = queries.flatMap(_._2).distinct
    val qp = readIndex(spark, cur, "postings")
      .where(col("term").isin(terms: _*))
    val dft = readIndex(spark, cur, "termdf")
      .where(col("term").isin(terms: _*))
    val stats = readIndex(spark, cur, "stats")
    rankTopK(q, qp, dft, stats, k, k1Micros, bMicros, excludeSelf = false)
  }

  /** [[moreLikeThis]] answered from a [[buildIndex]] directory — the
    * steady-state form for a served corpus: query-term derivation AND
    * ranking both read the persisted postings, so NOTHING re-tokenizes the
    * corpus per invocation (the per-query form's one scale weakness; it
    * re-builds (doc, term, tf) from raw text every call).
    *
    * Two corpus-sized touches remain, both scans: (1) selecting the query
    * docs' postings rows (the index is term-clustered, not doc-clustered,
    * so `isQueryDoc` filters a full scan — still far cheaper than
    * tokenizing, and a doc-keyed secondary projection would remove it);
    * (2) the ranking read, which prunes to the query terms via `term IN
    * (...)` literals pushed into the parquet scan — the distinct term list
    * is workload-sized by contract (<= |queries| * nTerms) and collected
    * under a fail-fast guard, following the repo's guarded-collect rule.
    * Scores are identical to [[moreLikeThis]] over the indexed corpus:
    * the index's tf values come from the same tokenizer.
    *
    * @param isQueryDoc predicate over the postings' `doc_id` column
    *        selecting the query documents
    */
  def moreLikeThisIndexed(spark: SparkSession, dir: String,
      isQueryDoc: Column, nTerms: Int, k: Int,
      k1Micros: Long = 1200000L, bMicros: Long = 750000L,
      maxQueryTerms: Int = 1 << 16): DataFrame = {
    require(nTerms > 0 && k > 0)
    val cur = IndexGen.resolve(dir) // ONE generation serves this query
    val postings = readIndex(spark, cur, "postings")
    val qw = Window.partitionBy("query_id")
      .orderBy(col("tf").desc, col("term"))
    val queryTerms = postings.where(isQueryDoc)
      .select(col("doc_id").as("query_id"), col("term"), col("tf"))
      .withColumn("trk", row_number().over(qw))
      .where(col("trk") <= nTerms)
      .select("query_id", "term")
      .persist()
    val terms = queryTerms.select("term").distinct()
      .limit(maxQueryTerms + 1).collect().map(_.getString(0)).toSeq
    require(terms.length <= maxQueryTerms,
      s"moreLikeThisIndexed: > $maxQueryTerms distinct query terms — the " +
        "query workload is not workload-sized; raise maxQueryTerms " +
        "deliberately or shrink the query set")
    val qp = postings.where(col("term").isin(terms: _*))
    val dft = readIndex(spark, cur, "termdf")
      .where(col("term").isin(terms: _*))
    val stats = readIndex(spark, cur, "stats")
    val ranked = rankTopK(queryTerms, qp, dft, stats, k, k1Micros, bMicros,
      excludeSelf = true)
    val out = ranked.localCheckpoint(true)
    queryTerms.unpersist()
    out
  }

  /** "More like this": for each query document (rows matching `isQuery`),
    * retrieve the BM25 top-k of the REST of the corpus using the query
    * doc's own `nTerms` highest-tf tokens (ties to the lexicographically
    * smaller term) as the search terms. The query-term relation is derived
    * in-engine from the same tokenizer the index uses, so there is no
    * separate analyzer to drift; scale shape is [[bm25TopKTerms]]'s — the
    * derivation adds one window over the query docs' postings only.
    */
  def moreLikeThis(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isQuery: Column,
      nTerms: Int,
      k: Int): DataFrame = {
    val qw = Window.partitionBy("query_id")
      .orderBy(col("tf").desc, col("term"))
    val queryTerms = docs.where(isQuery)
      .select(col(idCol).cast("long").as("query_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("trk", row_number().over(qw))
      .where(col("trk") <= nTerms)
      .select("query_id", "term")
    bm25TopKTerms(docs, idCol, textCol, queryTerms, k, excludeSelf = true)
  }

  /** Positional phrase search: documents containing the exact token
    * sequence `phrase`, with occurrence counts — the retrieval primitive
    * bag-of-words BM25 cannot express ("new york" vs "york new").
    *
    * Shape at scale: the positional relation is built ONCE and pruned to
    * the phrase's own terms INSIDE the scan (`isin` before any exchange),
    * so each join arm is phrase-selectivity-sized, not corpus-sized — the
    * same query-term prune as the BM25 path. A k-term phrase is k-1
    * equi-joins on (doc_id, aligned position): position alignment
    * (`pos - i`) turns adjacency into plain key equality, so every join
    * is a hash join on the same key pair and AQE broadcasts the rarest
    * term's arm. The pruned relation is persisted across its k uses
    * (caller releases via clearCache, the lmScore precedent) — without
    * it each arm would re-tokenize the corpus. */
  def phraseMatches(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val terms = phrase.map(_.toLowerCase)
    val pos = docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
      .where(col("term").isin(terms.distinct: _*))
      .persist()
    val first = pos.where(col("term") === terms.head)
      .select(col("doc_id"), col("pos").cast("long").as("p0"))
    val matched = terms.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(pos.where(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).cast("long").as("p0")),
          Seq("doc_id", "p0"))
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of two
    * ranked lists sharing (query_id, doc_id): `score = sum over lists of
    * 1e6 div (c + rank)`, re-ranked. Exact integer scoring; a document
    * absent from a list contributes 0 for it. The inputs are top-k
    * relations (|queries| * k rows each), so fusion is workload-sized —
    * one full-outer join and one rank window, nothing corpus-sized.
    *
    * @param a,b (query_id, doc_id, rk) relations, lower rk = better
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, cRrf: Int = 60): DataFrame = {
    require(k > 0 && cRrf >= 0)
    def side(df: DataFrame, name: String): DataFrame =
      df.select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        expr(s"1000000 div ($cRrf + rk)").as(s"${name}_micros"),
        col("rk").cast("long").as(s"${name}_rk"))
    val fused = side(a, "a").join(side(b, "b"), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("a_micros"), lit(0L)) +
          coalesce(col("b_micros"), lit(0L))).as("rrf_micros"),
        coalesce(col("a_rk"), lit(0L)).as("text_rk"),
        coalesce(col("b_rk"), lit(0L)).as("vec_rk"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micros").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "rrf_micros", "text_rk", "vec_rk")
  }
}
