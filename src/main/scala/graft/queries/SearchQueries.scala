package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** BM25 keyword search (one-shot, indexed, refreshed, retrained) and
  * hybrid BM25 + IVF retrieval. */
object SearchQueries {

  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("join", "merge"),
    1L -> Seq("window", "filter"),
    2L -> Seq("spark", "stream", "batch"))

  /** BM25 top-10 over the documents corpus for a three-query workload
    * (rational ln-free idf, exact BIGINT scoring — see pipeline.Search). */
  private def qBm25Topk(s: SparkSession, dir: String): DataFrame =
    pipeline.Search.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Bm25Queries, k = 10)
      .orderBy("query_id", "rk")

  private val qBm25TopkSql = {
    val values = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |    (SELECT SUM(dl) FROM dl) AS sum_dl),
       |q(query_id, term) AS (VALUES $values),
       |dft AS (SELECT term, COUNT(*) AS df FROM postings
       |  WHERE term IN (SELECT term FROM q) GROUP BY 1),
       |contrib AS (SELECT q.query_id, p.doc_id,
       |    (((2 * (s.n - f.df) + 1) * 1000000) // (2 * f.df + 1)
       |      * ((p.tf * 2200000 * 1000000)
       |         // (p.tf * 1000000 + (1200000 * (1000000 - 750000 +
       |              (750000 * ((d.dl * s.n * 1000000) // s.sum_dl)) // 1000000))
       |            // 1000000))) // 1000000 AS c
       |  FROM q JOIN postings p USING (term)
       |  JOIN dft f USING (term) JOIN dl d USING (doc_id)
       |  CROSS JOIN stats s),
       |scored AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
       |  FROM contrib GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micros DESC, doc_id) AS rk FROM scored)
       |SELECT query_id, rk, doc_id, score_micros
       |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
  }

  /** Same workload, scoring, and oracle as [[qBm25Topk]], answered from a
    * PREBUILT inverted index (Search.buildIndex): the registered query
    * pays build + query — honest for the gate — while the scale claim is
    * that every SUBSEQUENT query reuses the index and touches only the
    * term-pruned postings files (SearchSpec pins the `In(term, ...)`
    * pushdown into the postings scan). */
  private def qBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_index", dir).getPath
    pipeline.Search.buildIndex(Tables.documents(s, dir), "doc_id", "text", idx)
    pipeline.Search.bm25TopKIndexed(s, idx, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  /** BM25 served from a MAINTAINED standing index: build the inverted
    * index on half the corpus, fold in the other half via
    * [[pipeline.Search.refreshIndex]] (batch postings appended, term dfs
    * and stats merged — the ledger half is never re-tokenized), then
    * answer the [[qBm25Topk]] workload from it. Because refresh == a
    * from-scratch rebuild relation-for-relation (SearchSpec pins the
    * three index relations), the results equal [[qBm25Topk]]'s over the
    * full corpus — this gate shares that oracle verbatim, so any refresh
    * drift (lost posting, double-counted df, stale stats) fails the hash
    * end-to-end. The index dir is recreated per invocation: refresh
    * APPENDS, so replaying onto a stale dir would double-count — the
    * same new-ids admission contract every standing index here carries. */
  private def qBm25IndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_refresh", dir)
    pipeline.IndexGen.deleteRec(idx)
    val docs = Tables.documents(s, dir)
    pipeline.Search.buildIndex(docs.where(col("doc_id") % 10 < 5),
      "doc_id", "text", idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 5), "doc_id", "text")
    pipeline.Search.bm25TopKIndexed(s, idx.getPath, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  /** The BM25 index lifecycle across a COMPACTION boundary — the
    * `AnnQueries.annIvfRetrain` arc for the lexical tier: build on 30%,
    * refresh a 30% batch, compact ([[pipeline.Search.compactIndex]] re-clusters the
    * refresh-chained index into fresh range-sorted files DERIVED FROM ITS
    * OWN POSTINGS — index-sized, nothing re-tokenizes raw text — and
    * publishes them as a new generation with one atomic pointer flip;
    * BM25's "retrain" is re-layout rather than re-learn, since the index
    * has no trained state), then refresh the last 40% onto the compacted
    * generation and serve the [[qBm25Topk]] workload. Results must equal the full-corpus BM25 — this gate
    * shares [[qBm25TopkSql]] verbatim, so a compaction that lost a
    * posting, double-counted a df, or a post-compact refresh that
    * re-appended onto stale files fails the hash end-to-end. SearchSpec
    * additionally pins the compacted directory content-equal to a fresh
    * build. */
  private def qBm25Retrain(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_retrain", dir)
    pipeline.IndexGen.deleteRec(idx)
    val docs = Tables.documents(s, dir)
    pipeline.Search.buildIndex(docs.where(col("doc_id") % 10 < 3),
      "doc_id", "text", idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 3 && col("doc_id") % 10 < 6),
      "doc_id", "text")
    pipeline.Search.compactIndex(s, idx.getPath)
    pipeline.Search.refreshIndex(s, idx.getPath,
      docs.where(col("doc_id") % 10 >= 6), "doc_id", "text")
    pipeline.Search.bm25TopKIndexed(s, idx.getPath, Bm25Queries, k = 10)
      .orderBy("query_id", "rk")
  }

  /** Hybrid retrieval: BM25 more-like-this (each query doc's top-5 tf
    * terms, self excluded) fused with IVF cosine top-10 over the
    * embeddings by reciprocal-rank fusion (c=60, integer micros). Query
    * workload is PINNED (doc_id % 40 == 0 restricted to the
    * first-2000-id prefix — the q_ann_recall precedent): amplified
    * corpora append ids above the prefix, so the gate's query count
    * stays fixed and the measurement tracks the per-query serving cost,
    * not queries x corpus growth (the r8 gate grew both arms with the
    * corpus and measured 3.2x at 10x — the gate, not the operator).
    * The vector arm is the production Ivf path (nprobe-bounded bucket
    * probing), not bruteTopK; docs without an embedding degrade to
    * lexical-only — the production behavior for a corpus with partial
    * embedding coverage. Both lists are workload-sized, so the fusion
    * join touches |queries| * k rows, nothing corpus-sized. */
  private val hybridQueryPred = col("doc_id") % 40 === 0 && col("doc_id") < 2000
  private val hybridVecPred = col("vec_id") % 40 === 0 && col("vec_id") < 2000

  private def qHybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    val text = pipeline.Search.moreLikeThis(Tables.documents(s, dir),
      "doc_id", "text", hybridQueryPred, nTerms = 5, k = 10)
    val vec = pipeline.Ivf.searchTopK(
        Tables.embeddings(s, dir), hybridVecPred, k = 10)
      .withColumnRenamed("rank", "rk")
      .withColumnRenamed("neighbor_id", "doc_id")
    pipeline.Search.rrfFuse(text, vec, k = 10)
      .orderBy("query_id", "rk")
  }

  /** [[qHybridRetrieval]]'s lexical arm answered from the PREBUILT
    * inverted index (Search.moreLikeThisIndexed): identical values and
    * ranks — the oracle is the same SQL as q_hybrid_retrieval — but
    * query-term derivation and ranking read the persisted postings
    * instead of re-tokenizing the corpus per invocation. The index is
    * built once per sf dir (build-if-absent on the stats _SUCCESS
    * marker; q_bm25_indexed rebuilds the same deterministic content),
    * so this gate measures the steady-state serving cost, which is the
    * scale claim: at 100 TB you amortize ONE tokenize+index pass over
    * every retrieval that follows. */
  private def qHybridRetrievalIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("bm25_index", dir).getPath
    // build-if-absent on the published generation pointer (IndexGen):
    // q_bm25_indexed publishes the same deterministic content
    if (pipeline.IndexGen.current(idx).isEmpty)
      pipeline.Search.buildIndex(Tables.documents(s, dir), "doc_id", "text", idx)
    val text = pipeline.Search.moreLikeThisIndexed(s, idx,
      hybridQueryPred, nTerms = 5, k = 10)
    val vec = pipeline.Ivf.searchTopK(
        Tables.embeddings(s, dir), hybridVecPred, k = 10)
      .withColumnRenamed("rank", "rk")
      .withColumnRenamed("neighbor_id", "doc_id")
    pipeline.Search.rrfFuse(text, vec, k = 10)
      .orderBy("query_id", "rk")
  }

  private val qHybridRetrievalSql =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest($DuckToks) AS term FROM documents),
       |postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |    (SELECT SUM(dl) FROM dl) AS sum_dl),
       |q AS (SELECT query_id, term FROM (
       |    SELECT doc_id AS query_id, term,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY tf DESC, term) AS trk
       |    FROM postings WHERE doc_id % 40 = 0 AND doc_id < 2000)
       |  WHERE trk <= 5),
       |dft AS (SELECT term, COUNT(*) AS df FROM postings
       |  WHERE term IN (SELECT term FROM q) GROUP BY 1),
       |contrib AS (SELECT q.query_id, p.doc_id,
       |    (((2 * (s.n - f.df) + 1) * 1000000) // (2 * f.df + 1)
       |      * ((p.tf * 2200000 * 1000000)
       |         // (p.tf * 1000000 + (1200000 * (1000000 - 750000 +
       |              (750000 * ((d.dl * s.n * 1000000) // s.sum_dl)) // 1000000))
       |            // 1000000))) // 1000000 AS c
       |  FROM q JOIN postings p USING (term)
       |  JOIN dft f USING (term) JOIN dl d USING (doc_id)
       |  CROSS JOIN stats s),
       |tscored AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
       |  FROM contrib WHERE doc_id <> query_id GROUP BY 1, 2),
       |rtext AS (SELECT query_id, doc_id, rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micros DESC, doc_id) AS rk FROM tscored)
       |  WHERE rk <= 10),
       |$DuckPrepared,
       |vq AS (SELECT vec_id AS query_id, xs, norm2
       |  FROM en2 WHERE vec_id % 40 = 0 AND vec_id < 2000),
       |${duckIvfSearch("vq", "ivfr")},
       |rvec AS (SELECT query_id, neighbor_id AS doc_id, rk
       |  FROM ivfr WHERE rk <= 10),
       |ta AS (SELECT query_id, doc_id,
       |    CAST(1000000 // (60 + rk) AS BIGINT) AS a_micros,
       |    CAST(rk AS BIGINT) AS a_rk FROM rtext),
       |tb AS (SELECT query_id, doc_id,
       |    CAST(1000000 // (60 + rk) AS BIGINT) AS b_micros,
       |    CAST(rk AS BIGINT) AS b_rk FROM rvec),
       |fused AS (SELECT COALESCE(ta.query_id, tb.query_id) AS query_id,
       |    COALESCE(ta.doc_id, tb.doc_id) AS doc_id,
       |    COALESCE(a_micros, 0) + COALESCE(b_micros, 0) AS rrf_micros,
       |    COALESCE(a_rk, 0) AS text_rk, COALESCE(b_rk, 0) AS vec_rk
       |  FROM ta FULL OUTER JOIN tb
       |    ON ta.query_id = tb.query_id AND ta.doc_id = tb.doc_id)
       |SELECT query_id, CAST(rrk AS BIGINT) AS rk, doc_id, rrf_micros,
       |  text_rk, vec_rk
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micros DESC, doc_id) AS rrk FROM fused)
       |WHERE rrk <= 10 ORDER BY query_id, rk""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_bm25_topk", qBm25Topk, qBm25TopkSql),
    QuerySpec("q_bm25_indexed", qBm25Indexed, qBm25TopkSql),
    QuerySpec("q_bm25_index_refresh", qBm25IndexRefresh, qBm25TopkSql),
    QuerySpec("q_bm25_retrain", qBm25Retrain, qBm25TopkSql),
    QuerySpec("q_hybrid_retrieval", qHybridRetrieval, qHybridRetrievalSql),
    QuerySpec("q_hybrid_retrieval_indexed", qHybridRetrievalIndexed, qHybridRetrievalSql)
  )
}
