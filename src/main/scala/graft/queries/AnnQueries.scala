package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Embedding analytics and nearest-neighbour search: quantization and
  * dimension stats, embedding near-dups and clusters, exact and IVF top-k
  * (stride and k-means centroids, refreshed, retrained, persisted), PQ and
  * IVF-PQ, SemDeDup, prototype ranking, the spectral direction, recall
  * evaluation and hard negatives. */
object AnnQueries {

  /** Int8 max-abs quantization summaries over embeddings (exact ints). */
  private def qQuantizeEmbeddings(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.quantizeStats(Tables.embeddings(s, dir))
      .orderBy("vec_id")

  private val qQuantizeEmbeddingsSql =
    s"""WITH $DuckPrepared,
       |m AS (SELECT vec_id, xs,
       |        list_max(list_transform(xs, x -> abs(x))) AS maxabs FROM en2),
       |qq AS (SELECT vec_id, maxabs,
       |         list_transform(xs, x -> ((x + maxabs) * 254) // (2 * maxabs) - 127) AS q
       |       FROM m)
       |SELECT vec_id, maxabs AS maxabs_micros,
       |  CAST(list_min(q) AS BIGINT) AS q_min, CAST(list_max(q) AS BIGINT) AS q_max,
       |  CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * i)) AS BIGINT) AS q_checksum
       |FROM qq ORDER BY vec_id""".stripMargin

  /** Per-dimension embedding statistics (map-side-combined single
    * exchange — see Similarity.dimStats). */
  private def qEmbeddingDimStats(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.dimStats(Tables.embeddings(s, dir))
      .orderBy("dim")

  private val qEmbeddingDimStatsSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding,
       |       v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |     FROM embeddings),
       |d AS (SELECT unnest(range(len(xs))) AS dim, unnest(xs) AS v FROM e)
       |SELECT dim, COUNT(*) AS n, MIN(v) AS min_micros, MAX(v) AS max_micros,
       |  CAST(SUM(v) AS BIGINT) AS sum_micros,
       |  CAST(FLOOR(CAST(SUM(v) AS BIGINT) / COUNT(*)) AS BIGINT) AS mean_micros
       |FROM d GROUP BY dim ORDER BY dim""".stripMargin

  /** Anti/semi-join breadth: documents lacking an embedding row and the
    * count of those that do have one (left_anti + left_semi over the same
    * key). */
  private def qDocsWithoutEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val embKeys = Tables.embeddings(s, dir).select(col("vec_id").as("doc_id"))
    docs.join(embKeys, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_missing"))
      .join(
        docs.join(embKeys, Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("n_present")),
        Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("n_present"), lit(0L)).as("n_present"))
      .orderBy("lang")
  }

  private val qDocsWithoutEmbeddingsSql =
    s"""WITH miss AS (
       |  SELECT lang, COUNT(*) AS n_missing FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       |  GROUP BY lang),
       |pres AS (
       |  SELECT lang, COUNT(*) AS n_present FROM documents d
       |  WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       |  GROUP BY lang)
       |SELECT COALESCE(m.lang, p.lang) AS lang,
       |  COALESCE(m.n_missing, 0) AS n_missing,
       |  COALESCE(p.n_present, 0) AS n_present
       |FROM miss m FULL OUTER JOIN pres p ON m.lang = p.lang
       |ORDER BY lang""".stripMargin

  private def embeddingNeardupExact(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.nearDupExact(Tables.embeddings(s, dir), tauPct = 40)
      .orderBy("vec_a", "vec_b")

  private val embeddingNeardupExactSql =
    s"""WITH $DuckPrepared,
       |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |            a.xs AS xs_a, b.xs AS xs_b, a.norm2 AS n_a, b.norm2 AS n_b
       |          FROM en2 a JOIN en2 b ON a.vec_id < b.vec_id),
       |d AS (SELECT vec_a, vec_b,
       |        CAST(list_sum(list_transform(range(1, len(xs_a) + 1), i -> xs_a[i] * xs_b[i])) AS BIGINT) AS dot,
       |        n_a, n_b
       |      FROM pairs)
       |SELECT vec_a, vec_b, dot, n_a, n_b FROM d
       |WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |      >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600
       |ORDER BY vec_a, vec_b""".stripMargin

  private def annCosineTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.bruteTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annCosineTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs AS xs_q, norm2 AS n_q FROM en2 WHERE vec_id % 50 = 0),
       |p AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
       |        CAST(list_sum(list_transform(range(1, len(xs_q) + 1), i -> xs_q[i] * e2.xs[i])) AS BIGINT) AS dot,
       |        q.n_q, e2.norm2 AS n
       |      FROM q JOIN en2 e2 ON e2.vec_id <> q.query_id),
       |c AS (SELECT query_id, neighbor_id,
       |        CAST(dot AS DOUBLE) / (sqrt(CAST(n_q AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))) AS cos
       |      FROM p),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |      FROM c)
       |SELECT query_id, rk, neighbor_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** IVF-bucketed ANN (the inverted-file scale path). Centroid selection,
    * assignment and probing are all deterministic functions of the data
    * (stride sampling + exact-int cosine), so the full inverted-file search
    * is re-derived in SQL; recall-vs-brute-force additionally asserted in
    * SimilaritySpec.
    *
    * CALIBRATION-ONLY configuration: the 16-centroid pin exists so the
    * DuckDB mirror stays cheap to evaluate; a fixed bucket count makes
    * probed lists grow linearly with the corpus (24-30x wall at 100x
    * data, r11 sweep). The production sizing is `ann_ivf_scaled_topk`
    * ([[annIvfScaledTopk]]), which gates the same pipeline at
    * `Ivf.autoCentroids` = max(16, floor(sqrt(n))) buckets. */
  private def annIvfTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** The PRODUCTION IVF sizing under the full oracle: identical pipeline
    * to [[annIvfTopk]] but with the centroid count scaling as
    * max(16, floor(sqrt(n))) (`Ivf.autoCentroids`), so probed-list size
    * grows as ~nprobe*sqrt(n) instead of linearly. The oracle evaluates
    * the SAME floor-sqrt rule in SQL (IEEE sqrt + floor agree across
    * engines) and re-derives stride centroids, assignment, probing and
    * ranking at that k — amplification grows the oracle's k in lockstep,
    * so this gate stays meaningful at every scale instead of pinning a
    * calibration constant. */
  private def annIvfScaledTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        nCentroids = 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** `Ivf.autoCentroids` in DuckDB: evaluated in aggregate context over
    * the prepared relation. */
  private val duckAutoK =
    "GREATEST(16, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"

  private val annIvfScaledTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK)}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val annIvfTopkSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** ANN through a MAINTAINED standing inverted file
    * ([[pipeline.Ivf.IvfIndex]]): build on half the corpus (centroids
    * trained and FROZEN there, auto-sized from the ledger count), fold
    * in the other half via [[pipeline.Ivf.refreshIndex]] — only the
    * batch is assigned, the standing corpus is never re-read — then
    * serve the [[annIvfTopk]] query workload from the refreshed index.
    * The oracle re-derives exactly that contract: stride centroids over
    * the LEDGER predicate, assignment and search over the full corpus
    * (`duckIvfSearch(centWhere = ...)`), so a refresh that re-trained,
    * dropped a batch vector, or double-assigned fails the hash.
    * SimilaritySpec additionally pins refresh == rebuild-under-frozen-
    * centroids relation-for-relation plus the drift-trigger arithmetic. */
  private def annIvfIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    val idx = pipeline.Ivf.refreshIndex(idx0,
      embs.where(col("vec_id") % 10 >= 5))
    idx0.release()
    val out = pipeline.Ivf.searchIndexTopK(idx, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  private val annIvfIndexRefreshSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 5")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The FULL standing-index lifecycle, drift trigger driving the
    * retrain ([[pipeline.Ivf.maintainIndex]]): build on 30% of the
    * corpus, fold in a 30% batch — drift hits ~0.5 ≥ the 0.4 threshold,
    * so maintenance RETRAINS (centroids re-trained and re-sized on the
    * 60% corpus, everything re-assigned) and hot-swaps — then a further
    * 40% refresh lands under the retrained frozen centroids, and the
    * [[annIvfTopk]] workload is served across the swap boundary. The
    * `require` makes the gate self-verifying: if the trigger ever fails
    * to fire, the query errors instead of silently matching a weaker
    * contract. The oracle re-derives the cross-boundary contract
    * exactly — stride centroids + auto-k over the RETRAIN-POINT corpus
    * (`vec_id % 10 < 6`), assignment and search corpus-wide — so a
    * retrain that kept stale centroids, mis-sized k, dropped a vector,
    * or re-assigned under the wrong generation fails the hash.
    * (Verdict-r14 items 1 + 6: retrain arc and the
    * refresh → retrain → refresh boundary in one gate.) */
  private def annIvfRetrain(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 3))
    val idx1 = pipeline.Ivf.maintainIndex(idx0,
      embs.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6),
      maxNewFraction = 0.4)
    idx0.release()
    require(idx1.nSinceTrain == 0L,
      "ann_ivf_retrain fixture: the drift trigger did not fire")
    val idx2 = pipeline.Ivf.refreshIndex(idx1,
      embs.where(col("vec_id") % 10 >= 6))
    idx1.release()
    val out = pipeline.Ivf.searchIndexTopK(idx2, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx2.release()
    out
  }

  private val annIvfRetrainSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 6")}
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** IVF served from a PERSISTED index generation: build on the ledger
    * half, [[pipeline.Ivf.saveIndex]] to a directory, release the
    * in-memory generation, [[pipeline.Ivf.loadIndex]] it back, refresh
    * the other half ONTO THE LOADED INDEX, and serve the [[annIvfTopk]]
    * workload — the process-restart arc a fleet-scale serving story
    * needs (every other standing index here is directory-backed; this
    * gate pins that the ANN tier's round-trip is exact: a lost vector,
    * a reordered centroid array, or reset drift counters all change the
    * search result or the refresh behavior and fail the hash). Shares
    * [[annIvfIndexRefreshSql]] verbatim — persistence must be
    * observationally invisible. */
  private def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("ivf_index", dir)
    pipeline.IndexGen.deleteRec(idxDir)
    val embs = Tables.embeddings(s, dir)
    val built = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    pipeline.Ivf.saveIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Ivf.loadIndex(s, idxDir.getPath)
    val idx = pipeline.Ivf.refreshIndex(loaded,
      embs.where(col("vec_id") % 10 >= 5))
    loaded.release()
    val out = pipeline.Ivf.searchIndexTopK(idx, col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  /** Embedding-dedup ADMISSION against a standing ledger IVF index
    * ([[pipeline.Ivf.indexAdmit]] — the vector twin of
    * dedup_incremental_neardup): every batch vector probes its 4 nearest
    * frozen ledger-trained buckets and is a near-dup iff its best
    * candidate cosine reaches 40% (the corpus's established similarity
    * bar, embedding_neardup_* precedent; floored-micros threshold, exact
    * cross-engine). The oracle re-derives ledger-only centroids AND a
    * ledger-only inverted file (`duckIvfSearch(centWhere, invWhere)`),
    * out-of-index queries, rank-1 candidate, threshold and the admitted
    * left join. Streaming vector admission
    * ([[graft.streaming.StreamingVectorDedup]]) runs the same operator on
    * every micro-batch. */
  private def embeddingAdmitIndexed(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx = pipeline.Ivf.buildIndex(embs.where(col("vec_id") % 10 < 5))
    val out = pipeline.Ivf.indexAdmit(
        embs.where(col("vec_id") % 10 >= 5), idx, tauPct = 40)
      .orderBy("vec_id")
      .localCheckpoint(true) // materialize before releasing the inv it reads
    idx.release()
    out
  }

  private val embeddingAdmitIndexedSql =
    s"""WITH $DuckPrepared,
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 10 >= 5),
       |${duckIvfSearch("q", "ranked", duckAutoK, "vec_id % 10 < 5", "vec_id % 10 < 5")},
       |best AS (SELECT query_id, neighbor_id,
       |         CAST(floor(cos * 1000000) AS BIGINT) AS cm
       |       FROM ranked WHERE rk = 1)
       |SELECT d.vec_id,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN 'near_dup' ELSE 'admitted' END AS verdict,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN b.neighbor_id END AS near_dup_of,
       |  CASE WHEN b.cm IS NOT NULL AND b.cm >= 400000
       |       THEN b.cm END AS cos_micros
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 >= 5) d
       |LEFT JOIN best b ON b.query_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** IVF with Lloyd-refined centroids (2 exact-arithmetic k-means
    * iterations over the stride init: double-cosine assignment with
    * low-index tie-break, per-component floor-div integer-micros means).
    * Every step is a deterministic function of the data, so the oracle
    * re-derives the full train-then-search pipeline — both k-means
    * iterations unrolled as CTEs — and any drift in assignment, mean
    * arithmetic, empty-cluster handling, probing, or ranking fails the
    * hash. */
  private def annIvfKmeansTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        refineIters = 2)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** The PRODUCTION Lloyd-refined IVF sizing: the [[annIvfKmeansTopk]]
    * pipeline at `Ivf.autoCentroids` buckets (the scaled twin of
    * [[annIvfScaledTopk]] — same sqrt rule, but exercising the k-means
    * refinement path at scale-proportional k). The oracle unrolls both
    * Lloyd iterations at the SQL-evaluated floor-sqrt k, so assignment,
    * floor-div mean arithmetic, empty-cluster handling, probing and
    * ranking are all re-derived at whatever k the corpus implies. */
  private def annIvfKmeansScaledTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Ivf.searchTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0,
        nCentroids = 0, refineIters = 2)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** One unrolled Lloyd iteration: assign every TRAINING-SAMPLE vector
    * (the Bresenham-spread `(idx * tr) % n < tr` slice with
    * tr = min(n, 32·k), mirroring `Ivf.refinedCentroids`'s O(n) training
    * bound — the full corpus is only assigned once, by the final
    * `assigned` CTE) to its max-cosine
    * centroid (ties to the lower centroid id), then per-component
    * floor-div mean in micros; empty clusters keep the previous centroid;
    * zero-norm means are replaced at the END (matching the Scala fallback
    * to the stride init, applied once after all iterations). */
  // DuckDB's `//` TRUNCATES toward zero when the numerator is the HUGEINT
  // a SUM(BIGINT) produces (verified empirically; BIGINT `//` floors), so
  // the centroid mean must subtract 1 for negative non-exact quotients to
  // reproduce the engine's Math.floorDiv. Latent until round 7: assignment
  // and probe order are insensitive to a ±1-micro centroid shift, so every
  // kmeans oracle passed — prototypicality is the first query that
  // hash-compares a value *derived from the centroid components*.
  // Same mod-subtract spelling the PQ residual-kmeans oracle uses.
  private def duckFloorDiv(num: String, den: String): String =
    s"(($num - (($num % $den + $den) % $den)) // $den)"

  private def duckLloyd(inCents: String, out: String): String =
    s"""ac_$out AS (SELECT v.vec_id, v.xs, c.centroid_id,
       |         ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM train v, $inCents c
       |       WHERE c.norm2 > 0),
       |asg_$out AS (SELECT vec_id, xs, centroid_id FROM (
       |         SELECT vec_id, xs, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac_$out) WHERE rn = 1),
       |comp_$out AS (SELECT centroid_id, i,
       |           CAST(${duckFloorDiv("SUM(xs[i])", "COUNT(*)")} AS BIGINT) AS m
       |         FROM asg_$out, range(1, 65) t(i)
       |         GROUP BY centroid_id, i),
       |newc_$out AS (SELECT centroid_id, list(m ORDER BY i) AS xs
       |         FROM comp_$out GROUP BY centroid_id),
       |$out AS (SELECT c.centroid_id,
       |           COALESCE(n.xs, c.xs) AS xs,
       |           CAST(list_sum(list_transform(range(1, 65),
       |             i -> COALESCE(n.xs, c.xs)[i] * COALESCE(n.xs, c.xs)[i])) AS BIGINT) AS norm2
       |         FROM $inCents c LEFT JOIN newc_$out n USING (centroid_id))""".stripMargin

  /** Shared oracle CTE chain for every kmeans-backed query: deterministic
    * 2-iteration Lloyd over stride-seeded centroids, the per-vector
    * max-cosine assignment, and the inverted file `inv(centroid_id, vec_id,
    * xs, norm2)`. Appended after `$DuckPrepared` by the IVF-kmeans search,
    * SemDeDup, and prototypicality oracles. `kExpr` mirrors
    * [[duckIvfSearch]]: "16" (the default) pins the calibration gates;
    * the floor-sqrt spelling gives the scale-proportional gate. */
  private def duckKmeansAssigned(kExpr: String = "16"): String =
    s"""en3 AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2),
       |params AS (SELECT GREATEST(1, COUNT(*) // ($kExpr)) AS stride,
       |           ($kExpr) AS kc, COUNT(*) AS n,
       |           LEAST(COUNT(*), 32 * ($kExpr)) AS tr FROM en3),
       |cents0 AS (SELECT (idx // stride) AS centroid_id, xs, norm2
       |          FROM en3, params WHERE idx % stride = 0 AND idx // stride < kc),
       |train AS (SELECT v.vec_id, v.xs, v.norm2
       |          FROM en3 v, params WHERE (v.idx * tr) % n < tr),
       |${duckLloyd("cents0", "cents1")},
       |${duckLloyd("cents1", "cents2")},
       |cents AS (SELECT c.centroid_id,
       |          CASE WHEN c.norm2 > 0 THEN c.xs ELSE c0.xs END AS xs,
       |          CASE WHEN c.norm2 > 0 THEN c.norm2 ELSE c0.norm2 END AS norm2
       |        FROM cents2 c JOIN cents0 c0 USING (centroid_id)),
       |ac AS (SELECT v.vec_id, c.centroid_id, ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM en3 v, cents c),
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |         SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac) WHERE rn = 1),
       |inv AS (SELECT a.centroid_id, v.vec_id, v.xs, v.norm2
       |        FROM assigned a JOIN en3 v ON a.vec_id = v.vec_id)""".stripMargin

  /** The full kmeans-IVF search oracle at a given centroid-count
    * expression — shared by the fixed-16 calibration gate and the
    * floor-sqrt scale-proportional gate so the two cannot diverge. */
  private def duckKmeansSearchSql(kExpr: String): String =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned(kExpr)},
       |q AS (SELECT vec_id AS query_id, xs, norm2 FROM en2 WHERE vec_id % 50 = 0),
       |qc AS (SELECT q.query_id, c.centroid_id, ${duckCos("q.xs", "q.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM q, cents c),
       |probes AS (SELECT query_id, centroid_id FROM (
       |         SELECT query_id, centroid_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM qc) WHERE rn <= 4),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id,
       |         ${duckCos("qv.xs", "qv.norm2", "i.xs", "i.norm2", "i2")} AS cos
       |       FROM probes p
       |       JOIN q qv ON qv.query_id = p.query_id
       |       JOIN inv i ON i.centroid_id = p.centroid_id AND i.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |       FROM scored)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val annIvfKmeansTopkSql = duckKmeansSearchSql("16")

  private val annIvfKmeansScaledTopkSql = duckKmeansSearchSql(duckAutoK)

  /** SemDeDup over the embeddings table: kmeans-cluster, then drop every
    * vector with an earlier within-cluster near-dup at cosine >= 0.40 (the
    * corpus's neardup-LSH threshold). The kmeans/assignment prefix is the
    * proven IVF-kmeans chain; the pruning verdict is re-derived by the
    * oracle as EXISTS over the within-cluster pair relation in exact
    * HUGEINT arithmetic. */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.semDedup(Tables.embeddings(s, dir)).orderBy("vec_id")

  private val qSemdedupSql =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned()},
       |sd_pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |          CAST(list_sum(list_transform(range(1, 65), i -> a.xs[i] * b.xs[i])) AS BIGINT) AS dot,
       |          a.norm2 AS n_a, b.norm2 AS n_b
       |        FROM inv a JOIN inv b
       |          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
       |sd_dropped AS (SELECT DISTINCT vec_b AS vec_id FROM sd_pairs
       |        WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |          >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600)
       |SELECT i.vec_id, i.centroid_id, (d.vec_id IS NULL) AS keep
       |FROM inv i LEFT JOIN sd_dropped d ON i.vec_id = d.vec_id
       |ORDER BY i.vec_id""".stripMargin

  /** Prototype-based pruning score: cosine-to-own-centroid in floored
    * micros, ranked per cluster. Ranks compare the floored integer (not the
    * raw double) so the oracle re-derives the exact order. */
  private def qProtoRank(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.prototypicality(Tables.embeddings(s, dir)).orderBy("vec_id")

  private val qProtoRankSql =
    s"""WITH $DuckPrepared,
       |${duckKmeansAssigned()},
       |pr AS (SELECT i.vec_id, i.centroid_id,
       |         CAST(floor(${duckCos("i.xs", "i.norm2", "c.xs", "c.norm2", "i2")} * 1000000) AS BIGINT) AS proto_micros
       |       FROM inv i JOIN cents c USING (centroid_id))
       |SELECT vec_id, centroid_id, proto_micros,
       |       row_number() OVER (PARTITION BY centroid_id
       |         ORDER BY proto_micros DESC, vec_id) AS rk
       |FROM pr ORDER BY vec_id""".stripMargin

  /** Banded-SRP near-dup. Hyperplanes are md5-derived literals and the
    * accept rule is exact integer arithmetic, so the oracle reproduces
    * band bucketing and verification exactly; recall additionally asserted
    * in SimilaritySpec. The banding geometry is PINNED
    * (`planesPerBand = planesFor(500)` — what auto-sizing yields on the
    * sf0.01 gate corpus) so the gate is sf-INVARIANT: the oracle bakes
    * the plane literals, and an unpinned call would silently re-size at
    * a larger sf and diverge (seen in the r10 sf0.1 selfcheck before the
    * pin). Auto-sizing itself stays covered by SimilaritySpec. The pin
    * cascades to embedding_clusters and q_hard_negatives, which build on
    * this pair relation. */
  private def embeddingNeardupLsh(s: SparkSession, dir: String): DataFrame =
    pipeline.Similarity.lshNearDup(Tables.embeddings(s, dir), dim = 64,
        tauPct = 40, planesPerBand = pipeline.Similarity.planesFor(500L))
      .orderBy("vec_a", "vec_b")

  private val embeddingNeardupLshSql = {
    // bands=8; planesPerBand = planesFor(500) = 4 — the auto-sizing the
    // Spark side computes for the sf0.01 oracle corpus
    val bands = 8
    val r = pipeline.Similarity.planesFor(500L)
    val banded = (0 until bands).map { b =>
      val keyExpr = (0 until r).map { j =>
        val plane = pipeline.Similarity.srpPlane(b * r + j, 64).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, len(xs) + 1), " +
          s"i -> xs[i] * list_extract($plane, i))) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, xs, norm2, $b AS band, ($keyExpr) AS key FROM en2"
    }.mkString("\nUNION ALL\n")
    s"""WITH $DuckPrepared,
       |banded AS (
       |$banded),
       |bsz AS (SELECT band, key, COUNT(*) AS n FROM banded GROUP BY band, key),
       |ok AS (SELECT b.* FROM banded b JOIN bsz USING (band, key)
       |       WHERE bsz.n BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |            a.xs AS xa, b.xs AS xb, a.norm2 AS n_a, b.norm2 AS n_b
       |          FROM ok a JOIN ok b
       |            ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |scored AS (SELECT vec_a, vec_b,
       |            CAST(list_sum(list_transform(range(1, len(xa) + 1),
       |              i -> xa[i] * xb[i])) AS BIGINT) AS dot, n_a, n_b
       |          FROM cand)
       |SELECT vec_a, vec_b, dot FROM scored
       |WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 10000
       |      >= CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) * 1600
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Cluster resolution over the *embedding* near-dup pairs — the same
    * generic connected-components operator as dedup_clusters, applied to a
    * different edge relation (semantic near-dups instead of lexical). */
  private def embeddingClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        pipeline.Similarity.lshNearDup(Tables.embeddings(s, dir), dim = 64,
        tauPct = 40, planesPerBand = pipeline.Similarity.planesFor(500L))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  // NB: the outer CTE must not be named `pairs` — the nested LSH SQL defines
  // its own `pairs`, and under WITH RECURSIVE the outer name is visible
  // inside the nested subquery, silently shadowing it to an empty relation.
  private val embeddingClustersSql =
    s"""WITH RECURSIVE nd_pairs AS ($embeddingNeardupLshSql),
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM nd_pairs
       |          UNION SELECT vec_b, vec_a FROM nd_pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin

  // ===================================================================
  // Product quantization
  // ===================================================================

  /** Shared PQ derivation: unit-normalized integer-micros vectors
    * (floor(x*1e6/sqrt(norm2)) — IEEE-correctly-rounded on exact integer
    * inputs, so both engines produce identical longs; on unit vectors
    * squared L2 is monotone with cosine), stride codebooks (the ann_ivf
    * rule), 8 subspaces of 8 components, exact integer squared-L2 per
    * subspace, ties to the lower code. `best WHERE rn = 1` is the corpus
    * encoding. `centWhere` restricts the codebook TRAINING corpus (the
    * `enpc` stride source) while encoding stays corpus-wide — "TRUE" for
    * the one-shot gates, the ledger predicate for the standing code
    * index's refresh gate (frozen ledger-trained codebooks). */
  private def duckPqBase(centWhere: String = "TRUE") =
    s"""un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |en3 AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un),
       |enpc AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un
       |        WHERE $centWhere),
       |params AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM enpc),
       |cents AS (SELECT (idx // stride) AS cid, xs FROM enpc, params
       |          WHERE idx % stride = 0 AND idx // stride < 16),
       |vs AS (SELECT vec_id, s, xs[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM en3, range(8) t(s)),
       |cs AS (SELECT cid, s, xs[s * 8 + 1 : s * 8 + 8] AS c
       |       FROM cents, range(8) t(s)),
       |d AS (SELECT vec_id, vs.s, cid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM vs JOIN cs ON vs.s = cs.s),
       |best AS (SELECT vec_id, s, cid, dist,
       |        row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
       |        FROM d)""".stripMargin

  private val DuckPqBase = duckPqBase()

  private def qPqEncode(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.encoded(Tables.embeddings(s, dir), m = 8, k = 16)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")

  private val qPqEncodeSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** PQ codes through a MAINTAINED standing code index
    * ([[pipeline.Pq.PqIndex]]): codebooks trained and FROZEN on half the
    * corpus, the other half folded in via
    * [[pipeline.Pq.refreshCodeIndex]] — only the batch is encoded. The
    * oracle re-derives that contract (stride codebooks over the LEDGER
    * predicate, encoding corpus-wide), so a refresh that re-trained or
    * re-encoded the ledger fails the hash. Output shape = [[qPqEncode]]. */
  private def annPqIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 5))
    val idx = pipeline.Pq.refreshCodeIndex(idx0,
      embs.where(col("vec_id") % 10 >= 5))
    idx0.release()
    val out = idx.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx.release()
    out
  }

  private val annPqIndexRefreshSql =
    s"""WITH $DuckPrepared,
       |${duckPqBase("vec_id % 10 < 5")}
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** The full PQ code-index lifecycle with the drift trigger driving the
    * retrain ([[pipeline.Pq.maintainCodeIndex]] — the [[annIvfRetrain]]
    * arc for the codes tier): build on 30%, fold in a 30% batch (drift
    * ~0.5 ≥ 0.4 → codebooks RETRAINED on the 60% corpus, everything
    * re-encoded, hot-swapped), then refresh the last 40% under the
    * retrained frozen books. PQ codes are lossy, so the retrain is
    * handed the raw 60% corpus explicitly — the contract the scaladoc
    * pins. Oracle: stride codebooks over the RETRAIN-POINT corpus
    * (`vec_id % 10 < 6`), encoding corpus-wide; output shape =
    * [[qPqEncode]]. Self-verifying via the same trigger `require`. */
  private def annPqRetrain(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val idx0 = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 3))
    val idx1 = pipeline.Pq.maintainCodeIndex(idx0,
      embs.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6),
      corpus = embs.where(col("vec_id") % 10 < 6),
      maxNewFraction = 0.4)
    idx0.release()
    require(idx1.nSinceTrain == 0L,
      "ann_pq_retrain fixture: the drift trigger did not fire")
    val idx2 = pipeline.Pq.refreshCodeIndex(idx1,
      embs.where(col("vec_id") % 10 >= 6))
    idx1.release()
    val out = idx2.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx2.release()
    out
  }

  private val annPqRetrainSql =
    s"""WITH $DuckPrepared,
       |${duckPqBase("vec_id % 10 < 6")}
       |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
       |       dist AS err
       |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin

  /** PQ codes served from a PERSISTED code-index generation — the
    * [[annIvfPersisted]] arc for the codes tier: build on the ledger
    * half, save/release/load, refresh the batch onto the LOADED index
    * (frozen persisted codebooks encode it), emit the code relation.
    * Shares [[annPqIndexRefreshSql]] verbatim. */
  private def annPqPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("pq_index", dir)
    pipeline.IndexGen.deleteRec(idxDir)
    val embs = Tables.embeddings(s, dir)
    val built = pipeline.Pq.buildCodeIndex(embs.where(col("vec_id") % 10 < 5))
    pipeline.Pq.saveCodeIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Pq.loadCodeIndex(s, idxDir.getPath)
    val idx = pipeline.Pq.refreshCodeIndex(loaded,
      embs.where(col("vec_id") % 10 >= 5))
    loaded.release()
    val out = idx.codes
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
      .orderBy("vec_id", "sub")
      .localCheckpoint(true) // materialize before releasing the codes it reads
    idx.release()
    out
  }

  private def annPqTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.adcTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  /** ADC scoring + ranking over the [[DuckPqBase]] encoding, shared by the
    * pure-ADC and the rerank query. */
  private val DuckAdcRanked =
    s"""codes AS (SELECT vec_id, s, cid FROM best WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, xs FROM un WHERE vec_id % 50 = 0),
       |qs AS (SELECT query_id, s, xs[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM q, range(8) t(s)),
       |qd AS (SELECT query_id, qs.s, cid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM qs JOIN cs ON qs.s = cs.s),
       |ad AS (SELECT qd.query_id, c2.vec_id AS neighbor_id,
       |        CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
       |       FROM codes c2 JOIN qd ON qd.s = c2.s AND qd.cid = c2.cid
       |       WHERE c2.vec_id <> qd.query_id
       |       GROUP BY qd.query_id, c2.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, adc_dist,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY adc_dist, neighbor_id) AS rk FROM ad)""".stripMargin

  private val annPqTopkSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase,
       |$DuckAdcRanked
       |SELECT query_id, rk, neighbor_id, adc_dist
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** ADC shortlist (100) + exact integer-micros cosine rerank — the
    * production PQ search; output shape matches ann_cosine_topk. */
  private def annPqRerankTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.adcRerankTopK(Tables.embeddings(s, dir),
        col("vec_id") % 50 === 0, k = 5, shortlist = 100)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annPqRerankTopkSql =
    s"""WITH $DuckPrepared,
       |$DuckPqBase,
       |$DuckAdcRanked,
       |cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 100),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |        ${duckCos("qv.xs", "qv.norm2", "v.xs", "v.norm2")} AS cos
       |       FROM cand c JOIN en2 qv ON qv.vec_id = c.query_id
       |                   JOIN en2 v ON v.vec_id = c.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM rr WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ===================================================================
  // IVF-PQ (residual quantization)
  // ===================================================================

  /** One per-subspace exact-integer Lloyd iteration over the residual
    * codebooks: assign every residual subvector to its min-L2 entry (ties
    * to the lower code), per-component floor-div means, empty cells keep
    * the previous entry. Mirrors `Pq.refineBooks` exactly. */
  private def duckPqLloyd(in: String, out: String): String =
    s"""d_$out AS (SELECT vec_id, rvs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM rvs JOIN $in ON rvs.s = $in.s),
       |asg_$out AS (SELECT vec_id, s, rcid FROM (
       |        SELECT vec_id, s, rcid, row_number() OVER (
       |          PARTITION BY vec_id, s ORDER BY dist, rcid) AS rn FROM d_$out)
       |        WHERE rn = 1),
       |comp_$out AS (SELECT a.s, a.rcid, j,
       |        -- exact FLOOR division (Math.floorDiv): DuckDB's // truncates
       |        -- toward zero, and residual sums go negative
       |        CAST((SUM(v[j]) - ((SUM(v[j]) % COUNT(*) + COUNT(*)) % COUNT(*)))
       |          // COUNT(*) AS BIGINT) AS mj
       |      FROM asg_$out a
       |      JOIN rvs ON rvs.vec_id = a.vec_id AND rvs.s = a.s,
       |      range(1, 9) u(j)
       |      GROUP BY a.s, a.rcid, j),
       |newc_$out AS (SELECT s, rcid, list(mj ORDER BY j) AS c
       |      FROM comp_$out GROUP BY s, rcid),
       |$out AS (SELECT r0.rcid, r0.s, COALESCE(n.c, r0.c) AS c
       |      FROM $in r0 LEFT JOIN newc_$out n
       |        ON n.s = r0.s AND n.rcid = r0.rcid)""".stripMargin

  /** Shared IVF-PQ derivation: coarse stride centroids over unit vectors,
    * exact-integer-L2 bucket assignment (ties to the lower cid), residuals,
    * stride-initialized residual codebooks refined by TWO unrolled Lloyd
    * iterations, and the corpus encoding. Everything BIGINT — no floating
    * point anywhere in the pipeline. */
  private val DuckIvfPqBase =
    s"""en3 AS (SELECT vec_id, xs,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM un),
       |params AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM en3),
       |ccents AS (SELECT (idx // stride) AS ccid, xs AS cxs FROM en3, params
       |          WHERE idx % stride = 0 AND idx // stride < 16),
       |adist AS (SELECT e.vec_id, c.ccid,
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> (e.xs[i] - c.cxs[i]) * (e.xs[i] - c.cxs[i]))) AS BIGINT) AS d
       |       FROM en3 e, ccents c),
       |assign AS (SELECT vec_id, ccid FROM (
       |        SELECT vec_id, ccid, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY d, ccid) AS rn FROM adist)
       |        WHERE rn = 1),
       |residual AS (SELECT e.vec_id, e.idx, a.ccid,
       |        list_transform(range(1, 65), i -> e.xs[i] - c.cxs[i]) AS r
       |       FROM en3 e JOIN assign a USING (vec_id)
       |       JOIN ccents c ON c.ccid = a.ccid),
       |rparams AS (SELECT GREATEST(1, COUNT(*) // 16) AS rstride FROM residual),
       |rcents0 AS (SELECT (idx // rstride) AS rcid, r FROM residual, rparams
       |       WHERE idx % rstride = 0 AND idx // rstride < 16),
       |rvs AS (SELECT vec_id, ccid, s, r[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM residual, range(8) t(s)),
       |rcs0 AS (SELECT rcid, s, r[s * 8 + 1 : s * 8 + 8] AS c
       |       FROM rcents0, range(8) t(s)),
       |${duckPqLloyd("rcs0", "rcs1")},
       |${duckPqLloyd("rcs1", "rcs2")},
       |d_enc AS (SELECT vec_id, rvs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |      FROM rvs JOIN rcs2 ON rvs.s = rcs2.s),
       |codes AS (SELECT vec_id, s, rcid AS code FROM (
       |        SELECT vec_id, s, rcid, row_number() OVER (
       |          PARTITION BY vec_id, s ORDER BY dist, rcid) AS rn FROM d_enc)
       |        WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, xs FROM un WHERE vec_id % 50 = 0),
       |qad AS (SELECT q.query_id, c.ccid,
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> (q.xs[i] - c.cxs[i]) * (q.xs[i] - c.cxs[i]))) AS BIGINT) AS d
       |       FROM q, ccents c),
       |probes AS (SELECT query_id, ccid FROM (
       |        SELECT query_id, ccid, row_number() OVER (
       |          PARTITION BY query_id ORDER BY d, ccid) AS rn FROM qad)
       |        WHERE rn <= 4),
       |qres AS (SELECT p.query_id, p.ccid,
       |        list_transform(range(1, 65), i -> q.xs[i] - c.cxs[i]) AS qr
       |       FROM probes p JOIN q ON q.query_id = p.query_id
       |       JOIN ccents c ON c.ccid = p.ccid),
       |qrs AS (SELECT query_id, ccid, s, qr[s * 8 + 1 : s * 8 + 8] AS v
       |       FROM qres, range(8) t(s)),
       |qd AS (SELECT query_id, ccid, qrs.s, rcid,
       |        CAST(list_sum(list_transform(range(1, 9),
       |          j -> (v[j] - c[j]) * (v[j] - c[j]))) AS BIGINT) AS dist
       |       FROM qrs JOIN rcs2 ON qrs.s = rcs2.s),
       |ad AS (SELECT qd.query_id, x.vec_id AS neighbor_id,
       |        CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
       |       FROM codes x
       |       JOIN assign a2 ON a2.vec_id = x.vec_id
       |       JOIN qd ON qd.ccid = a2.ccid AND qd.s = x.s AND qd.rcid = x.code
       |       WHERE x.vec_id <> qd.query_id
       |       GROUP BY qd.query_id, x.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, adc_dist,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY adc_dist, neighbor_id) AS rk FROM ad)""".stripMargin

  private def annIvfPqTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.ivfPqTopK(Tables.embeddings(s, dir), col("vec_id") % 50 === 0)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annIvfPqTopkSql =
    s"""WITH $DuckPrepared,
       |un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |$DuckIvfPqBase
       |SELECT query_id, rk, neighbor_id, adc_dist
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private def annIvfPqRerankTopk(s: SparkSession, dir: String): DataFrame =
    pipeline.Pq.ivfPqRerankTopK(Tables.embeddings(s, dir),
        col("vec_id") % 50 === 0, k = 5, shortlist = 50)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")

  private val annIvfPqRerankTopkSql =
    s"""WITH $DuckPrepared,
       |un AS (SELECT vec_id, list_transform(range(1, len(xs) + 1),
       |        i -> CAST(floor(CAST(xs[i] AS DOUBLE) * 1000000 /
       |               sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)) AS xs
       |      FROM en2),
       |$DuckIvfPqBase,
       |cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 50),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |        ${duckCos("qv.xs", "qv.norm2", "v.xs", "v.norm2")} AS cos
       |       FROM cand c JOIN en2 qv ON qv.vec_id = c.query_id
       |                   JOIN en2 v ON v.vec_id = c.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, rk, neighbor_id,
       |       CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |FROM rr WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ===================================================================
  // Corpus-level embedding analytics
  // ===================================================================

  /** Dominant spectral (principal) direction of the embedding corpus
    * (pipeline.Spectral): one zero-shuffle corpus pass folds the d x d
    * second-moment matrix into per-partition long arrays, one d^2-row
    * exchange sums them exactly, and three fixed-point power-iteration
    * steps (BigInt matvec, floor-div renormalize to max-abs 1e6) run on
    * the metadata-sized matrix — the RowMatrix/PCA architecture with
    * every step exact, so the oracle replays the whole ladder: moment
    * entries, all three iterates, and the final micros components are
    * identical HUGEINT arithmetic in DuckDB. */
  private def qSpectralDirection(s: SparkSession, dir: String): DataFrame =
    pipeline.Spectral.dominantDirection(Tables.embeddings(s, dir),
        dims = 16, iters = 3)
      .orderBy("dim")

  private val qSpectralDirectionSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT list_transform(embedding[1:16],
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |  FROM embeddings),
       |idx AS (SELECT unnest(range(16)) AS k),
       |m AS MATERIALIZED (
       |  SELECT i.k AS i, j.k AS j, SUM(xs[i.k + 1] * xs[j.k + 1]) AS m
       |  FROM e, idx i, idx j GROUP BY 1, 2),
       |v1 AS MATERIALIZED (SELECT i, SUM(m) AS v FROM m GROUP BY i),
       |u1 AS MATERIALIZED (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v1) AS v FROM v1),
       |v2 AS MATERIALIZED (SELECT m.i, SUM(m.m * u.v) AS v
       |  FROM m JOIN u1 u ON u.i = m.j GROUP BY 1),
       |u2 AS MATERIALIZED (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v2) AS v FROM v2),
       |v3 AS MATERIALIZED (SELECT m.i, SUM(m.m * u.v) AS v
       |  FROM m JOIN u2 u ON u.i = m.j GROUP BY 1),
       |u3 AS (SELECT i,
       |  (v * 1000000) // (SELECT MAX(ABS(v)) FROM v3) AS v FROM v3)
       |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS component_micros
       |FROM u3 ORDER BY dim""".stripMargin

  /** Recall@5 of the IVF index against brute-force ground truth
    * (Eval.recallAt) on a PINNED fixed-size query sample (`vec_id % 50 = 0`
    * restricted to the first-2000-id prefix; amplified corpora append ids
    * above it) — the index-quality evaluation harness. The pin matters at
    * scale: recall is a per-query statistic, so the gate's query count must
    * NOT grow with the corpus or the probe measures the gate (brute-force
    * ground truth over O(corpus) queries), not the operator. The oracle
    * re-derives BOTH retrievers and the overlap, so assignment, probing,
    * ranking and the recall arithmetic are all under the hash. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val isQuery = col("vec_id") % 50 === 0 && col("vec_id") < 2000
    pipeline.Eval.recallAt(
        pipeline.Similarity.bruteTopK(emb, isQuery),
        pipeline.Ivf.searchTopK(emb, isQuery))
      .orderBy("query_id")
  }

  private val qAnnRecallSql =
    s"""WITH $DuckPrepared,
       |qr AS (SELECT vec_id AS query_id, xs, norm2 FROM en2
       |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |bp AS (SELECT qr.query_id, e2.vec_id AS neighbor_id,
       |        ${duckCos("qr.xs", "qr.norm2", "e2.xs", "e2.norm2")} AS cos
       |      FROM qr JOIN en2 e2 ON e2.vec_id <> qr.query_id),
       |br AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |      FROM bp),
       |truth AS (SELECT query_id, neighbor_id FROM br WHERE rk <= 5),
       |${duckIvfSearch("qr", "iranked")},
       |approx AS (SELECT query_id, neighbor_id FROM iranked WHERE rk <= 5)
       |SELECT t.query_id, COUNT(*) AS k,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // COUNT(*) AS BIGINT) AS recall_micros
       |FROM truth t LEFT JOIN approx a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** Hard-negative mining (Eval.hardNegatives): IVF candidates per query
    * minus LSH near-dup positives, top 3 survivors by candidate rank —
    * the training-pair miner for embedding/retrieval models. Positives
    * come from the banded-SRP scale path (the production choice: the
    * brute pair relation doesn't exist at corpus scale; LSH recall < 1
    * means the occasional true near-dup survives as a "negative", the
    * standard mining trade-off). The query sample is PINNED fixed-size
    * (`vec_id % 50 = 0 AND vec_id < 2000` — amplified corpora append ids
    * above the prefix) so scale probes measure the miner, not a gate whose
    * query count grows with the corpus. The oracle re-derives the candidate
    * retriever, the banded positive set, the anti-join and the re-rank. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cands = pipeline.Ivf.searchTopK(emb,
      col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val pos = pipeline.Similarity.lshNearDup(emb, dim = 64, tauPct = 40,
      planesPerBand = pipeline.Similarity.planesFor(500L))
    val sym = pos.select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .union(pos.select(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id")))
    pipeline.Eval.hardNegatives(cands, sym, k = 3)
      .select(col("query_id"), col("neg_rank"), col("neighbor_id"),
        col("rank").as("cand_rank"), col("cos_micros"))
      .orderBy("query_id", "neg_rank")
  }

  private val qHardNegativesSql =
    s"""WITH $DuckPrepared,
       |qr AS (SELECT vec_id AS query_id, xs, norm2 FROM en2
       |       WHERE vec_id % 50 = 0 AND vec_id < 2000),
       |${duckIvfSearch("qr", "iranked")},
       |cand AS (SELECT query_id, neighbor_id, rk,
       |         CAST(floor(cos * 1000000) AS BIGINT) AS cos_micros
       |       FROM iranked WHERE rk <= 5),
       |pos0 AS ($embeddingNeardupLshSql),
       |pos AS (SELECT vec_a AS query_id, vec_b AS neighbor_id FROM pos0
       |        UNION ALL SELECT vec_b, vec_a FROM pos0),
       |neg AS (SELECT c.* FROM cand c ANTI JOIN pos p
       |        ON c.query_id = p.query_id AND c.neighbor_id = p.neighbor_id),
       |r2 AS (SELECT query_id, neighbor_id, rk AS cand_rank, cos_micros,
       |        row_number() OVER (PARTITION BY query_id ORDER BY rk, neighbor_id) AS neg_rank
       |      FROM neg)
       |SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank, neighbor_id,
       |  cand_rank, cos_micros
       |FROM r2 WHERE neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_quantize_embeddings", qQuantizeEmbeddings, qQuantizeEmbeddingsSql),
    QuerySpec("q_embedding_dim_stats", qEmbeddingDimStats, qEmbeddingDimStatsSql),
    QuerySpec("q_docs_without_embeddings", qDocsWithoutEmbeddings,
      qDocsWithoutEmbeddingsSql),
    QuerySpec("embedding_neardup_exact", embeddingNeardupExact, embeddingNeardupExactSql),
    QuerySpec("embedding_neardup_lsh", embeddingNeardupLsh, embeddingNeardupLshSql),
    QuerySpec("embedding_clusters", embeddingClusters, embeddingClustersSql),
    QuerySpec("ann_cosine_topk", annCosineTopk, annCosineTopkSql),
    QuerySpec("ann_ivf_topk", annIvfTopk, annIvfTopkSql),
    QuerySpec("ann_ivf_scaled_topk", annIvfScaledTopk, annIvfScaledTopkSql),
    QuerySpec("ann_ivf_kmeans_topk", annIvfKmeansTopk, annIvfKmeansTopkSql),
    QuerySpec("ann_ivf_kmeans_scaled_topk", annIvfKmeansScaledTopk,
      annIvfKmeansScaledTopkSql),
    QuerySpec("ann_ivf_index_refresh", annIvfIndexRefresh, annIvfIndexRefreshSql),
    QuerySpec("ann_ivf_retrain", annIvfRetrain, annIvfRetrainSql),
    QuerySpec("ann_ivf_persisted", annIvfPersisted, annIvfIndexRefreshSql),
    QuerySpec("embedding_admit_indexed", embeddingAdmitIndexed, embeddingAdmitIndexedSql),
    QuerySpec("q_semdedup", qSemdedup, qSemdedupSql),
    QuerySpec("q_proto_rank", qProtoRank, qProtoRankSql),
    QuerySpec("q_pq_encode", qPqEncode, qPqEncodeSql),
    QuerySpec("ann_pq_topk", annPqTopk, annPqTopkSql),
    QuerySpec("ann_pq_rerank_topk", annPqRerankTopk, annPqRerankTopkSql),
    QuerySpec("ann_pq_index_refresh", annPqIndexRefresh, annPqIndexRefreshSql),
    QuerySpec("ann_pq_retrain", annPqRetrain, annPqRetrainSql),
    QuerySpec("ann_pq_persisted", annPqPersisted, annPqIndexRefreshSql),
    QuerySpec("ann_ivfpq_topk", annIvfPqTopk, annIvfPqTopkSql),
    QuerySpec("ann_ivfpq_rerank_topk", annIvfPqRerankTopk, annIvfPqRerankTopkSql),
    QuerySpec("q_spectral_direction", qSpectralDirection, qSpectralDirectionSql),
    QuerySpec("q_ann_recall", qAnnRecall, qAnnRecallSql),
    QuerySpec("q_hard_negatives", qHardNegatives, qHardNegativesSql)
  )
}
