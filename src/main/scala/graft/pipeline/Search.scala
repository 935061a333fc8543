package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ExecutionBridge, PlanBridge}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.DriverGraph
import graft.util.BoundedCollect

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
    * The aggregate is cached by one job that also sums the corpus token
    * count (`sum_dl`, held on the driver); the three relations are then
    * written from that cache as concurrent jobs ([[IndexGen.publish]]),
    * so the build's wall is its longest writer, not the sum of three.
    * `nFiles` sizes the postings layout: at fleet scale pick
    * index-bytes / target-file-size.
    *
    * The index root is GENERATION-VERSIONED ([[IndexGen]]): the three
    * relations land in a fresh `gen_NNNNNN/` directory and one atomic
    * pointer rename publishes them — building over a live index is a hot
    * swap, with in-flight readers finishing against the superseded
    * generation (retained one cycle, or for as long as a reader in this
    * JVM pins it). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nFiles: Int = 32): Unit = {
    val spark = docs.sparkSession
    val postings = tokenizedPostings(docs, idCol, textCol).persist()
    // fills the cache; sum(tf) over the postings == the per-doc dl
    // rollup's sum (and NULL over an all-token-less corpus, where
    // postings is empty)
    val sumDl = postings.agg(sum("tf").cast("long")).head().get(0)
    try IndexGen.publish(spark, dir)(
      gen => termSorted(postings, nFiles, "term", "doc_id")
        .write.parquet(s"$gen/postings"),
      gen => termSorted(postings.groupBy("term").agg(count(lit(1)).as("df")),
        math.max(1, nFiles / 4), "term").write.parquet(s"$gen/termdf"),
      gen => docs.agg(count(lit(1)).as("n"))
        .select(col("n"), lit(sumDl).cast("long").as("sum_dl"))
        .write.parquet(s"$gen/stats"))
    finally postings.unpersist()
  }

  /** Batch postings rows per written file: [[refreshIndex]] sizes its
    * file set from the batch's row count, so a small batch lands as ONE
    * term-sorted file with no range-sampling job. */
  private val RowsPerFile = 1L << 20

  /** `df` laid out as `files` files sorted on `keys`: range-partitioned on
    * them when more than one file (which costs a sampling job), else one
    * sorted partition with no exchange. */
  private def termSorted(df: DataFrame, files: Int, keys: String*): DataFrame = {
    val cs = keys.map(col)
    (if (files <= 1) df.coalesce(1) else df.repartitionByRange(files, cs: _*))
      .sortWithinPartitions(cs: _*)
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

  /** Incremental maintenance of a [[buildIndex]] directory: fold an
    * admitted batch of NEW documents into the standing index without
    * re-tokenizing the ledger corpus —
    * `refreshIndex(buildIndex(L), B) == buildIndex(L ∪ B)` as a reader
    * sees it (SearchSpec pins postings and stats equality and termdf
    * equality summed per term; the `q_bm25_index_refresh` oracle gate
    * replays the build-then-refresh pipeline against a from-scratch
    * full-corpus DuckDB rederivation, so any drift in the df deltas or
    * stats arithmetic fails the hash end-to-end).
    *
    * Every relation is batch-sized. The batch is tokenized once into a
    * cache, by one job that also counts its postings rows and sums its
    * tokens; then the three relations are written as concurrent jobs:
    * - `postings/`: the standing part files are hard-linked and the
    *   batch's (term, doc_id, tf, dl) rows are APPENDED as ONE term-sorted
    *   file set, one file per [[RowsPerFile]] rows — ledger postings are
    *   never read or rewritten. Document length is per-document and
    *   documents are immutable, so the denormalized `dl` of standing
    *   postings is refresh-invariant by construction. Each refresh adds
    *   one small file set whose min/max footers still prune lookups; long
    *   refresh chains should compact periodically ([[compactIndex]]).
    * - `termdf/`: the standing files (earlier deltas included) are
    *   hard-linked and the batch's (term, df) rows are appended beside
    *   them as a DELTA file set, so a term has one row per file set that
    *   saw it and its df is the SUM of those rows. [[compactIndex]] folds
    *   the deltas; queries do not read `termdf` at all (they count the
    *   term-pruned postings they read anyway).
    * - `stats/`: one row from driver-held values — the standing row plus
    *   the batch's document count and token sum. `n` counts ALL batch
    *   docs (token-less ones weigh on idf, the buildIndex rule); `sum_dl`
    *   stays NULL only while BOTH sides are token-free, matching what a
    *   from-scratch build would write.
    *
    * Contract: batch doc_ids must be NEW (the admission discipline every
    * standing index here assumes) — replayed ids would duplicate
    * postings rows, exactly as re-inserting into the rebuild would.
    *
    * Refresh publishes a NEW generation ([[IndexGen.publish]]), like build
    * and compaction: the carry-forward costs directory entries, not
    * index-sized I/O, and one atomic pointer rename publishes all three
    * relations together. A reader racing a refresh serves entirely from
    * the old or entirely from the new generation — never a cross-batch
    * pairing (SearchSpec drives this concurrently). A failed or crashed
    * refresh leaves the old generation serving and an orphan directory
    * the next flip prunes. */
  def refreshIndex(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Unit = IndexGen.withPinned(dir) { cur =>
    val bp = tokenizedPostings(batch, idCol, textCol).persist()
    try {
      val filled = bp.agg(count(lit(1)), sum("tf").cast("long")).head()
      val files = math.max(1L, (filled.getLong(0) + RowsPerFile - 1) / RowsPerFile).toInt
      val bSum = filled.get(1)
      IndexGen.publish(spark, dir)(
        { gen =>
          IndexGen.linkDataFiles(s"$cur/postings", s"$gen/postings")
          termSorted(bp, files, "term", "doc_id")
            .write.mode("append").parquet(s"$gen/postings")
        },
        { gen =>
          IndexGen.linkDataFiles(s"$cur/termdf", s"$gen/termdf")
          termSorted(bp.groupBy("term").agg(count(lit(1)).as("df")), files, "term")
            .write.mode("append").parquet(s"$gen/termdf")
        },
        { gen =>
          val old = readIndex(spark, cur, "stats").head()
          val sumDl = Seq(old.get(1), bSum)
            .collect { case v: java.lang.Long => v.longValue }
            .reduceOption(MathUtils.addExact(_: Long, _: Long))
          batch.agg(count(lit(1)).as("bn"))
            .select((lit(old.getLong(0)) + col("bn")).as("n"),
              lit(sumDl.map(Long.box).orNull).cast("long").as("sum_dl"))
            .write.parquet(s"$gen/stats")
        })
    } finally bp.unpersist()
  }

  /** Periodic COMPACTION of a refresh-chained [[buildIndex]] directory —
    * the BM25 analog of the drift-triggered retrain ([[Ivf.retrainIndex]]):
    * BM25 has no trained state, so what long refresh chains degrade is the
    * FILE layout (each refresh appends a small term-sorted postings file
    * set and a `termdf` delta; min/max pruning weakens as sets pile up),
    * and compaction re-clusters the postings into `nFiles` range-sorted
    * files and folds the `termdf` deltas into one row per term. Query
    * results are unchanged by contract — refresh == rebuild already, so
    * compaction is a pure re-layout: SearchSpec pins the compacted
    * generation content-equal to a fresh [[buildIndex]], and the
    * `q_bm25_retrain` oracle gate replays refresh → compact → further
    * refresh against the full-corpus DuckDB rederivation.
    *
    * Cost is INDEX-sized, not corpus-sized: the new layout is derived
    * entirely from the standing relations (postings carry everything a
    * rebuild needs — BM25 has no trained state to re-learn, and `stats`
    * preserves the token-less-document count postings alone cannot see),
    * so nothing re-tokenizes raw text. The two term-keyed relations are
    * written as concurrent jobs and the one-row `stats` is hard-linked.
    *
    * Hot swap ([[IndexGen]]): the re-layout lands in a fresh generation
    * directory and ONE atomic pointer rename publishes all three
    * relations together — a racing reader serves entirely from the old
    * or entirely from the new generation, never a mix (SearchSpec drives
    * queries concurrently with compactions to pin this). */
  def compactIndex(spark: SparkSession, dir: String,
      nFiles: Int = 32): Unit = IndexGen.withPinned(dir) { cur =>
    require(new java.io.File(s"$cur/postings").isDirectory,
      s"compactIndex: no index generation under $dir")
    IndexGen.publish(spark, dir)(
      gen => termSorted(readIndex(spark, cur, "postings"), nFiles, "term", "doc_id")
        .write.parquet(s"$gen/postings"),
      gen => termSorted(readIndex(spark, cur, "termdf").groupBy("term")
          .agg(sum("df").cast("long").as("df")), math.max(1, nFiles / 4), "term")
        .write.parquet(s"$gen/termdf"),
      gen => IndexGen.linkDataFiles(s"$cur/stats", s"$gen/stats"))
  }

  /** BM25 top-k answered from a [[buildIndex]] directory: scores are
    * identical to [[bm25TopK]] over the indexed corpus, but the only
    * corpus-sized work is the term-pruned postings read — `term IN (...)`
    * pushes into the parquet scan, and the term-sorted layout turns the
    * lookup into a row-group seek. Everything downstream is
    * workload-sized, and a term's df is the count of its pruned postings
    * rows (one per document), so `termdf` is not read.
    *
    * One bounded job ([[BoundedCollect]]) scans the pruned postings once,
    * keeping the scan's rows in a cache. At or under
    * `DriverGraph.MaxEdges` rows they reach the driver as primitive
    * columns and the query is scored there ([[driverTopK]]: the same
    * integer formula, ANSI errors included), with `stats` read as two
    * values; the result is a local relation and the query runs in two
    * small jobs. Above the bound the Spark ranking plan runs over the
    * cached scan and is checkpointed before the cache is dropped. Either
    * way every read runs inside the call, with the generation pinned
    * ([[IndexGen.withPinned]]). */
  def bm25TopKIndexed(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      k1Micros: Long = 1200000L, bMicros: Long = 750000L): DataFrame =
    topKIndexed(spark, dir, queries, k, k1Micros, bMicros, DriverGraph.MaxEdges)

  /** [[bm25TopKIndexed]] with the driver path's row bound as a parameter:
    * `driverMaxRows = 0` forces the Spark plan. */
  private[graft] def topKIndexed(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], k: Int, k1Micros: Long, bMicros: Long,
      driverMaxRows: Long): DataFrame = {
    require(queries.nonEmpty && k > 0)
    val terms = queries.flatMap(_._2).distinct
    val termIdx = terms.zipWithIndex.toMap
    IndexGen.withPinned(dir) { cur => // ONE generation serves this query
      val qp = prunedPostings(spark, cur, terms)
      // the one scan both paths read: the bounded job fills the cache and
      // the Spark plan reads it back (copied: `toRdd` rows are reused)
      val rows = qp.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      def plan = sparkTopK(PlanBridge.overRows(qp, rows), queries, k, k1Micros, bMicros, cur)
      try {
        val (_, collected) = BoundedCollect(rows, driverMaxRows)(packPostings(termIdx))
        collected.map(Postings.concat).filterNot(_.sawNull) match {
          case Some(ps) =>
            val st = readIndex(spark, cur, "stats").head()
            if (st.isNullAt(1)) plan
            else spark.createDataFrame(java.util.Arrays.asList(driverTopK(queries,
              termIdx, ps, st.getLong(0), st.getLong(1), k, k1Micros, bMicros): _*),
              TopKSchema)
          case None => plan
        }
      } finally rows.unpersist(blocking = false)
    }
  }

  /** Generation `gen`'s postings rows holding one of `terms`, as
    * (term, doc_id, tf, dl): the `term IN (...)` filter reaches the parquet
    * scan. Both [[topKIndexed]] paths read this relation. */
  private[graft] def prunedPostings(spark: SparkSession, gen: String,
      terms: Seq[String]): DataFrame =
    readIndex(spark, gen, "postings").where(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf", "dl")

  /** [[bm25TopKIndexed]]'s Spark plan: [[rankTopK]] over the pruned
    * postings `qp` (the cached scan), df counted from them, checkpointed so
    * the cache can go. */
  private def sparkTopK(qp: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int, k1Micros: Long, bMicros: Long, cur: String): DataFrame = {
    val spark = qp.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, terms) => terms.map(t => (qid, t)) }
      .toDF("query_id", "term")
    rankTopK(q, qp, postingsDf(qp), readIndex(spark, cur, "stats"),
      k, k1Micros, bMicros, excludeSelf = false).localCheckpoint(true)
  }

  /** (term, df) from term-pruned postings: one row per document holding
    * the term, so df is the row count. */
  private def postingsDf(qp: DataFrame): DataFrame =
    qp.groupBy("term").agg(count(lit(1)).as("df"))

  /** Pruned postings rows on the driver, as columns: `term` indexes the
    * query's distinct terms; `sawNull` says a row with a NULL column was
    * left out. 28 bytes a row: 2^20 rows are 28 MB. */
  private final case class Postings(term: Array[Int], doc: Array[Long],
      tf: Array[Long], dl: Array[Long], sawNull: Boolean)

  private object Postings {
    def concat(ps: Array[Postings]): Postings = Postings(
      Array.concat(ps.map(_.term).toSeq: _*), Array.concat(ps.map(_.doc).toSeq: _*),
      Array.concat(ps.map(_.tf).toSeq: _*), Array.concat(ps.map(_.dl).toSeq: _*),
      ps.exists(_.sawNull))
  }

  /** One partition of [[prunedPostings]] as [[Postings]]. */
  private def packPostings(termIdx: Map[String, Int])(it: Iterator[InternalRow]): Postings = {
    val (t, d, tf, dl) = (Array.newBuilder[Int], Array.newBuilder[Long],
      Array.newBuilder[Long], Array.newBuilder[Long])
    var sawNull = false
    it.foreach { r =>
      if (r.anyNull) sawNull = true
      else {
        t += termIdx(r.getUTF8String(0).toString)
        d += r.getLong(1); tf += r.getLong(2); dl += r.getLong(3)
      }
    }
    Postings(t.result(), d.result(), tf.result(), dl.result(), sawNull)
  }

  /** [[rankTopK]]'s schema, as its plan types it. */
  private val TopKSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false),
    StructField("doc_id", LongType), StructField("score_micros", LongType)))

  /** [[rankTopK]] on the driver, over collected pruned postings with no
    * NULL column and a non-NULL `sumDl`: every (query term, posting) pair
    * contributes [[rankTopK]]'s integer formula, evaluated in the same
    * order and types with the same ANSI overflow and divide-by-zero errors
    * (a term repeated in a query contributes once per occurrence, as the
    * plan's join does; queries sharing an id score as one); scores sum per
    * (query_id, doc_id) and rank by score desc then doc_id, `rk` 1..k.
    *
    * Working set over m postings and d distinct documents, all primitive:
    * the columns (28m bytes), each posting's contribution, dense document
    * index and term-grouped position (16m), the sorted distinct documents
    * and one query's score and seen arrays (17d, reused across queries),
    * plus a k-row heap. At m = d = 2^20 (eight partitions' columns, their
    * concatenation and this kernel, four queries) it runs in a 112 MB JVM
    * heap and not in 104 MB; the per-posting object version it replaced
    * needed 768 MB. */
  private def driverTopK(queries: Seq[(Long, Seq[String])],
      termIdx: Map[String, Int], ps: Postings, n: Long, sumDl: Long,
      k: Int, k1Micros: Long, bMicros: Long): Seq[Row] = {
    import MathUtils.{addExact => add, multiplyExact => mul, subtractExact => sub}
    import ExecutionBridge.div
    val M = 1000000L
    // `1000000 + k1` and `1000000 - b` are INT arithmetic when the knob
    // is an INT literal in the plan's expression text
    def litOp(v: Long, int: (Int, Int) => Int, long: (Long, Long) => Long): Long =
      if (v >= -Int.MaxValue && v <= Int.MaxValue) int(1000000, v.toInt).toLong
      else long(M, v)
    val m = ps.term.length
    // postings grouped by term (a counting sort): term t's postings are
    // byTerm(from(t) until from(t + 1)), so its df is the group's size
    val from = new Array[Int](termIdx.size + 1)
    ps.term.foreach(t => from(t + 1) += 1)
    for (t <- 1 to termIdx.size) from(t) += from(t - 1)
    val byTerm = new Array[Int](m)
    val next = from.clone()
    for (i <- 0 until m) { byTerm(next(ps.term(i))) = i; next(ps.term(i)) += 1 }
    val contrib = if (m == 0) Array.empty[Long] else {
      lazy val onePlusK1 = litOp(k1Micros, add, add)
      lazy val oneMinusB = litOp(bMicros, sub, sub)
      val idf = Array.tabulate(termIdx.size) { t =>
        val df = (from(t + 1) - from(t)).toLong
        if (df == 0) 0L
        else div(mul(add(mul(2L, sub(n, df)), 1L), M), add(mul(2L, df), 1L))
      }
      Array.tabulate(m) { i =>
        val tf = ps.tf(i)
        val lRatio = div(mul(mul(ps.dl(i), n), M), sumDl)
        val denom = add(mul(tf, M),
          div(mul(k1Micros, add(oneMinusB, div(mul(bMicros, lRatio), M))), M))
        div(mul(idf(ps.term(i)), div(mul(mul(tf, onePlusK1), M), denom)), M)
      }
    }
    // documents as dense indices, ascending: index order is doc_id order
    val docs = DriverGraph.sortedDistinct(ps.doc)
    val dense = ps.doc.map(java.util.Arrays.binarySearch(docs, _))
    val score = new Array[Long](docs.length)
    val seen = new Array[Boolean](docs.length)
    // the worse of two scored documents first: lower score, then higher doc
    val worseFirst: java.util.Comparator[Int] = (a, b) =>
      if (score(a) != score(b)) java.lang.Long.compare(score(a), score(b))
      else Integer.compare(b, a)
    queries.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, qs) =>
      val hit = Array.newBuilder[Int]
      for ((_, ts) <- qs; t <- ts; ti <- termIdx.get(t); j <- from(ti) until from(ti + 1)) {
        val i = byTerm(j)
        val d = dense(i)
        if (seen(d)) score(d) = add(score(d), contrib(i))
        else { seen(d) = true; score(d) = contrib(i); hit += d }
      }
      val top = new java.util.PriorityQueue[Int](worseFirst)
      hit.result().foreach { d =>
        seen(d) = false
        if (top.size < k) top.add(d)
        else if (worseFirst.compare(d, top.peek()) > 0) { top.poll(); top.add(d) }
      }
      val best = new Array[Int](top.size)
      for (r <- best.indices.reverse) best(r) = top.poll()
      best.toSeq.zipWithIndex.map { case (d, r) => Row(qid, r + 1, docs(d), score(d)) }
    }
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
    * Term dfs are counted from that pruned read, as in
    * [[bm25TopKIndexed]]; `termdf` is not read. Every read runs inside the
    * call (the result is checkpointed), with the generation pinned.
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
    // ONE generation serves this query, pinned for all of its reads
    IndexGen.withPinned(dir) { cur =>
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
      val qp = prunedPostings(spark, cur, terms)
      val stats = readIndex(spark, cur, "stats")
      val ranked = rankTopK(queryTerms, qp, postingsDf(qp), stats, k, k1Micros,
        bMicros, excludeSelf = true)
      val out = ranked.localCheckpoint(true)
      queryTerms.unpersist()
      out
    }
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
