package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Document deduplication: exact fingerprints, n-gram/SNM/SimHash/MinHash
  * near-dup pairs and clusters, contamination, duplicated blocks and spans,
  * the incremental and standing-index dedup gates, and source overlap. */
object DedupQueries {

  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  private val docFingerprintSql =
    s"SELECT doc_id, $DuckFp AS fingerprint FROM documents ORDER BY doc_id"

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")

  private val dedupExactSql =
    s"""WITH fp AS (SELECT doc_id, $DuckFp AS fingerprint FROM documents)
       |SELECT doc_id, fingerprint,
       |  COUNT(*) OVER (PARTITION BY fingerprint) AS group_size,
       |  doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
       |FROM fp ORDER BY doc_id""".stripMargin

  private def dedupNgramPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.ngramJaccardPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupNgramPairsSql =
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |ex AS (SELECT doc_id, unnest(hs) AS s FROM hsd),
       |rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 10),
       |rex AS (SELECT e.doc_id, e.s FROM ex e JOIN rare r ON e.s = r.s),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM rex a JOIN rex b ON a.s = b.s AND a.doc_id < b.doc_id),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, union_size,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Sorted-neighborhood near-dup pairs (Dedup.sortedNeighborhoodPairs):
    * the third blocking family — per-bucket sort by a normalized key
    * prefix, candidates within a rank window of 4, exact-Jaccard
    * verification on the shared hashed-shingle primitive. THREE passes
    * (the literature's multi-pass SNM): prefix key + reversed-text key +
    * mid-rotation key, closing the cross-bucket blind spots for head-,
    * tail-, and both-ends-edited near-dups respectively. The oracle
    * re-derives all three keys, buckets, per-bucket ranks, the windowed
    * candidate joins, their union and the Jaccard verdicts. */
  private def dedupSnmPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupSnmPairsSql =
    s"""WITH nt AS (SELECT doc_id,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt
       |  FROM documents),
       |sk1 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(nt, 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk1),
       |sk2 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(reverse(nt), 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk2 AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk2),
       |sk3 AS (SELECT doc_id, sk, substr(sk, 1, 2) AS bucket FROM (
       |    SELECT doc_id, substr(substr(nt, length(nt) // 2 + 1) ||
       |        substr(nt, 1, length(nt) // 2), 1, 32) AS sk FROM nt)
       |  WHERE length(sk) > 0),
       |rk3 AS (SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS rn
       |  FROM sk3),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk a JOIN rk b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3
       |  UNION ALL
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk2 a JOIN rk2 b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3
       |  UNION ALL
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |      greatest(a.doc_id, b.doc_id) AS doc_b
       |    FROM rk3 a JOIN rk3 b ON b.bucket = a.bucket
       |      AND b.rn > a.rn AND b.rn <= a.rn + 3)),
       |toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh WHERE len(sh) >= 0),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, union_size,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE union_size > 0 AND inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.simhash(Tables.documents(s, dir)).orderBy("doc_id")

  private val dedupSimhashSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS t FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SimHash banded near-dup pairs: exact recall for hamming <= 3 by the
    * 4-band pigeonhole (see [[pipeline.Dedup.simhashPairs]]). */
  private def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.simhashPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private val dedupSimhashPairsSql =
    s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS t FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs GROUP BY 1, 2),
       |sims AS (SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |         FROM bits GROUP BY doc_id),
       |banded AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS key
       |           FROM sims, (SELECT unnest(range(4)) AS b) bands),
       |bsize AS (SELECT b, key FROM banded GROUP BY 1, 2
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
       |                c.doc_id AS doc_b, c.simhash AS sim_b
       |         FROM banded a
       |         JOIN bsize bs ON a.b = bs.b AND a.key = bs.key
       |         JOIN banded c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash+LSH banded near-dup (the scale path). The whole pipeline is
    * deterministic arithmetic (md5 shingle hashes, LCG permutation
    * constants), so the oracle re-derives signatures, bands, buckets and
    * exact-Jaccard verification bit-for-bit in SQL; recall-vs-brute-force
    * is additionally asserted in DedupSpec. */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.minhashLshPairs(Tables.documents(s, dir))
      .orderBy("doc_a", "doc_b")

  private[queries] val dedupMinhashLshSql = {
    val P = pipeline.Dedup.P
    val A = (0 until 32).map(pipeline.Dedup.permA).mkString("[", ", ", "]")
    val B = (0 until 32).map(pipeline.Dedup.permB).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")} % $P) AS hs FROM sh2),
       |sig AS (SELECT doc_id, list_transform(range(32), j ->
       |         list_min(list_transform(hs, h ->
       |           (list_extract($A, j + 1) * h + list_extract($B, j + 1)) % $P))) AS sig
       |       FROM hs),
       |banded AS (SELECT doc_id, b,
       |         array_to_string(list_transform(range(4),
       |           i -> list_extract(sig, b * 4 + i + 1)), '_') AS key
       |       FROM sig, (SELECT unnest(range(8)) AS b) bs),
       |bsize AS (SELECT b, key FROM banded GROUP BY 1, 2
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM banded a
       |         JOIN bsize bs ON a.b = bs.b AND a.key = bs.key
       |         JOIN banded c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |res AS (SELECT c.doc_a, c.doc_b,
       |          len(list_intersect(ha.hs, hb.hs)) AS inter,
       |          len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS union_size
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |       CAST(floor(inter * 100 / union_size) AS BIGINT) AS jaccard_pct
       |FROM res WHERE inter * 100 >= union_size * 30
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Near-dup cluster resolution over the MinHash pair list: every paired
    * document labeled with its component's smallest doc_id (the canonical
    * keep-one representative). The oracle computes the same components with
    * a recursive transitive-closure CTE over the identical pair SQL — a
    * fully independent algorithm (BFS closure vs union-find or star
    * contraction) arriving at the same fixpoint, so a resolution bug
    * (missed merge, wrong join side, non-minimal label) diverges the
    * hash. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashLshPairs(Tables.documents(s, dir)))
      .orderBy("doc_id")

  private val dedupClustersSql =
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLshSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** The end-to-end near-dedup decision: the corpus with every non-canonical
    * cluster member dropped (keep the smallest doc_id per component). This
    * is what a training pipeline actually consumes — pairs and clusters are
    * the evidence, this is the verdict. One anti-join against the (small)
    * set of dropped ids; the corpus side never shuffles by anything but its
    * own key. */
  private def dedupKeepCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = pipeline.Dedup.resolveClusters(
      pipeline.Dedup.minhashLshPairs(docs))
    val dropped = clusters.where(col("doc_id") =!= col("cluster_id"))
    docs.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val dedupKeepCanonicalSql =
    s"""WITH RECURSIVE pairs AS ($dedupMinhashLshSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |         FROM reach GROUP BY u)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM comp c
       |                  WHERE c.doc_id = d.doc_id AND c.cluster_id <> c.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Benchmark decontamination over the documents table: every 97th doc
    * plays the eval set, the rest the corpus; flagged = sharing >= 3
    * distinct 3-shingles with any benchmark doc. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    pipeline.Dedup.contamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0))
      .orderBy("doc_id")
  }

  private val qContaminationSql =
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")}) AS hs FROM sh2),
       |bench AS (SELECT DISTINCT h FROM (
       |            SELECT unnest(hs) AS h FROM hs WHERE doc_id % 97 = 0)),
       |expl AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id % 97 <> 0),
       |hits AS (SELECT e.doc_id, COUNT(*) AS n_shared
       |         FROM expl e JOIN bench b USING (h) GROUP BY e.doc_id)
       |SELECT doc_id, n_shared FROM hits WHERE n_shared >= 3
       |ORDER BY doc_id""".stripMargin

  private def dedupBlocks(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.dropDuplicateBlocks(Tables.documents(s, dir))
      .orderBy("doc_id")

  /** Maximal duplicated 8-token spans at any alignment (sliding-window
    * complement of dedup_blocks — see Curation.duplicateSpans). */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.duplicateSpans(Tables.documents(s, dir), w = 8)
      .orderBy("doc_id", "span_start")

  private val qDupSpansSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |el AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
       |ex AS (SELECT doc_id, toks, unnest(range(n - 7)) AS start FROM el),
       |hs AS (SELECT doc_id, start,
       |  ${DuckHash60.format("array_to_string(toks[start + 1 : start + 8], ' ')")} AS h
       |  FROM ex),
       |dup AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > 1),
       |mk AS (SELECT hs.doc_id, hs.start FROM hs SEMI JOIN dup ON hs.h = dup.h),
       |br AS (SELECT doc_id, start,
       |  CASE WHEN start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 8
       |       THEN 1 ELSE 0 END AS brk FROM mk),
       |isl AS (SELECT doc_id, start,
       |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br)
       |SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
       |  CAST(MAX(start) + 8 AS BIGINT) AS span_end, COUNT(*) AS n_windows
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  private val dedupBlocksSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |nb AS (SELECT doc_id, toks, (len(toks) + 9) // 10 AS n_blocks FROM t),
       |ex AS (SELECT doc_id, toks, unnest(range(n_blocks)) AS pos FROM nb
       |       WHERE len(toks) > 0),
       |blk AS (SELECT doc_id, pos,
       |  array_to_string(toks[pos * 10 + 1 : pos * 10 + 10], ' ') AS blk FROM ex),
       |hb AS (SELECT doc_id, pos, blk, ${DuckHash60.format("blk")} AS h FROM blk),
       |dup AS (SELECT h FROM hb GROUP BY h HAVING COUNT(DISTINCT doc_id) > 2),
       |kept AS (SELECT hb.* FROM hb ANTI JOIN dup ON hb.h = dup.h),
       |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
       |  string_agg(blk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
       |SELECT nb.doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
       |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_blocks - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(clean_text, '') AS clean_text
       |FROM nb LEFT JOIN reb ON nb.doc_id = reb.doc_id
       |ORDER BY nb.doc_id""".stripMargin

  /** Ledger = fingerprints of doc_id % 10 < 3 (the "previously ingested"
    * snapshot); batch = the rest, deduped against ledger then within
    * itself. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = docs.where(col("doc_id") % 10 < 3)
      .select(pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    pipeline.Dedup.incremental(docs.where(col("doc_id") % 10 >= 3), ledger)
      .orderBy("doc_id")
  }

  /** Same inputs and oracle as [[dedupIncremental]]; the bloom prune is an
    * exactness-preserving plan change (no false negatives; false positives
    * are re-checked by the verdict join), so both variants gate against the
    * identical DuckDB statement. */
  private def dedupIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = docs.where(col("doc_id") % 10 < 3)
      .select(pipeline.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    pipeline.Dedup.incrementalBloom(docs.where(col("doc_id") % 10 >= 3), ledger)
      .orderBy("doc_id")
  }

  private val dedupIncrementalSql =
    s"""WITH led AS (SELECT DISTINCT $DuckFp AS fingerprint FROM documents
       |  WHERE doc_id % 10 < 3),
       |b AS (SELECT doc_id, $DuckFp AS fingerprint FROM documents
       |  WHERE doc_id % 10 >= 3),
       |w AS (SELECT doc_id, fingerprint,
       |  MIN(doc_id) OVER (PARTITION BY fingerprint) AS first_in FROM b)
       |SELECT w.doc_id, w.fingerprint,
       |  CASE WHEN led.fingerprint IS NOT NULL THEN 'ledger_dup'
       |       WHEN w.doc_id <> w.first_in THEN 'batch_dup'
       |       ELSE 'admitted' END AS verdict
       |FROM w LEFT JOIN led ON w.fingerprint = led.fingerprint
       |ORDER BY doc_id""".stripMargin

  /** Incremental NEAR-dup admission: the dedup_incremental batch/ledger
    * split checked by MinHash-LSH + exact Jaccard instead of exact
    * fingerprints (Dedup.incrementalNearDup — ledger pruned by the batch's
    * band keys before any exchange). */
  private def dedupIncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    pipeline.Dedup.incrementalNearDup(
        docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"),
        docs.where(col("doc_id") % 10 < 3).select("doc_id", "text"))
      .orderBy("doc_id")
  }

  /** Near-dup admission through a MAINTAINED standing index: build the
    * index on a third of the ledger, extend it with the second third via
    * [[pipeline.Dedup.refreshNearDupIndex]] (append postings/shingles,
    * re-cap merged buckets, tombstone parity), then admit the batch with
    * [[pipeline.Dedup.indexNearDup]]. Because refresh == from-scratch
    * rebuild (DedupSpec pins the relations), the verdicts equal
    * [[dedupIncrementalNeardup]]'s on the merged ledger — so this gate
    * shares that oracle verbatim and any refresh drift (lost posting,
    * resurrected tombstone, uncapped merge) fails the hash end-to-end. */
  private def dedupIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx0 = pipeline.Dedup.buildNearDupIndex(
      docs.where(col("doc_id") % 10 < 2).select("doc_id", "text"))
    val idx = pipeline.Dedup.refreshNearDupIndex(idx0,
      docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 3)
        .select("doc_id", "text"))
    idx0.release()
    val out = pipeline.Dedup.indexNearDup(
      docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"), idx)
    idx.release()
    out.orderBy("doc_id")
  }

  /** Near-dup admission from a PERSISTED index generation — the
    * `AnnQueries.annIvfPersisted` arc for the lexical near-dup tier:
    * build the index on the first ledger third, [[pipeline.Dedup.saveNearDupIndex]]
    * to a directory, release the in-memory generation,
    * [[pipeline.Dedup.loadNearDupIndex]] it back, refresh the second
    * third ONTO THE LOADED INDEX, and admit the batch. Shares
    * [[dedupIncrementalNeardupSql]] verbatim — persistence must be
    * observationally invisible, so a round-trip that loses a posting, a
    * shingle row, a tombstone, or a hyperparameter fails the hash
    * end-to-end. */
  private def dedupIndexPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("neardup_index", dir)
    pipeline.IndexGen.deleteRec(idxDir)
    val docs = Tables.documents(s, dir)
    val built = pipeline.Dedup.buildNearDupIndex(
      docs.where(col("doc_id") % 10 < 2).select("doc_id", "text"))
    pipeline.Dedup.saveNearDupIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Dedup.loadNearDupIndex(s, idxDir.getPath)
    val idx = pipeline.Dedup.refreshNearDupIndex(loaded,
      docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 3)
        .select("doc_id", "text"))
    loaded.release()
    val out = pipeline.Dedup.indexNearDup(
        docs.where(col("doc_id") % 10 >= 3).select("doc_id", "text"), idx)
      .localCheckpoint(true) // materialize before releasing the index it reads
    idx.release()
    out.orderBy("doc_id")
  }

  private val dedupIncrementalNeardupSql = {
    val P = pipeline.Dedup.P
    val A = (0 until 32).map(pipeline.Dedup.permA).mkString("[", ", ", "]")
    val B = (0 until 32).map(pipeline.Dedup.permB).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         range(1, greatest(len(t) - 2, 0) + 1),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |sh2 AS (SELECT * FROM sh WHERE len(sh) > 0),
       |hs AS (SELECT doc_id, list_transform(sh,
       |         s -> ${DuckHash60.format("s")} % $P) AS hs FROM sh2),
       |sig AS (SELECT doc_id, list_transform(range(32), j ->
       |         list_min(list_transform(hs, h ->
       |           (list_extract($A, j + 1) * h + list_extract($B, j + 1)) % $P))) AS sig
       |       FROM hs),
       |banded AS (SELECT doc_id, b,
       |         array_to_string(list_transform(range(4),
       |           i -> list_extract(sig, b * 4 + i + 1)), '_') AS key
       |       FROM sig, (SELECT unnest(range(8)) AS b) bs),
       |bb AS (SELECT * FROM banded WHERE doc_id % 10 >= 3),
       |lb AS (SELECT * FROM banded WHERE doc_id % 10 < 3),
       |lcap AS (SELECT b, key FROM lb GROUP BY 1, 2 HAVING COUNT(*) <= 64),
       |cand AS (SELECT DISTINCT bb.doc_id AS doc_a, lb.doc_id AS doc_b
       |         FROM bb JOIN lb ON bb.b = lb.b AND bb.key = lb.key
       |         JOIN lcap lc ON lb.b = lc.b AND lb.key = lc.key),
       |hsd AS (SELECT doc_id, list_transform(sh, s -> ${DuckHash60.format("s")}) AS hs
       |        FROM sh2),
       |ver AS (SELECT c.doc_a, c.doc_b,
       |          CAST(floor(len(list_intersect(ha.hs, hb.hs)) * 100
       |            / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))))
       |            AS BIGINT) AS jaccard_pct
       |        FROM cand c
       |        JOIN hsd ha ON ha.doc_id = c.doc_a
       |        JOIN hsd hb ON hb.doc_id = c.doc_b
       |        WHERE len(list_intersect(ha.hs, hb.hs)) * 100
       |          >= (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) * 30),
       |best AS (SELECT doc_a, doc_b, jaccard_pct, row_number() OVER (
       |           PARTITION BY doc_a ORDER BY jaccard_pct DESC, doc_b) AS rn
       |         FROM ver)
       |SELECT d.doc_id,
       |  CASE WHEN b.doc_a IS NULL THEN 'admitted' ELSE 'near_dup' END AS verdict,
       |  b.doc_b AS near_dup_of, b.jaccard_pct
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 3) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_a = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Cross-source duplication matrix: near-dup pairs (the MinHash-LSH
    * scale path) rolled up by unordered source pair — the provenance
    * monitor for "which crawl dumps copy from each other". Pure
    * composition: the pair relation is workload-sized, so the two source
    * lookups and the rollup cost nothing next to the pair build. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    pipeline.Dedup.minhashLshPairs(docs)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  private val qSourceOverlapSql =
    s"""WITH mh AS ($dedupMinhashLshSql),
       |ss AS (SELECT doc_id, source FROM documents),
       |j AS (SELECT LEAST(sa.source, sb.source) AS source_a,
       |             GREATEST(sa.source, sb.source) AS source_b
       |      FROM mh JOIN ss sa ON sa.doc_id = mh.doc_a
       |              JOIN ss sb ON sb.doc_id = mh.doc_b)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs
       |FROM j GROUP BY 1, 2 ORDER BY n_pairs DESC, source_a, source_b""".stripMargin

  /** Exact-substring dedup with canonical retention
    * (Curation.trimDuplicateSpans): every duplicated 8-token window
    * keeps its global-first occurrence and trims the rest; documents
    * rebuild from their surviving tokens. The oracle re-derives the
    * canonical pick (row_number over (hash, ordered by doc_id, start)),
    * the island merge, and the positional trim, so kept counts AND the
    * rebuilt text are under the hash. */
  private def qTrimDupSpans(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.trimDuplicateSpans(Tables.documents(s, dir), w = 8)
      .orderBy("doc_id")

  private val qTrimDupSpansSql =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |el AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
       |ex AS (SELECT doc_id, toks, unnest(range(n - 7)) AS start FROM el),
       |hs AS (SELECT doc_id, start,
       |  ${DuckHash60.format("array_to_string(toks[start + 1 : start + 8], ' ')")} AS h
       |  FROM ex),
       |occ AS (SELECT doc_id, start,
       |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn,
       |  COUNT(*) OVER (PARTITION BY h) AS cnt FROM hs),
       |mk AS (SELECT doc_id, start FROM occ WHERE cnt > 1 AND rn > 1),
       |br AS (SELECT doc_id, start,
       |  CASE WHEN start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 8
       |       THEN 1 ELSE 0 END AS brk FROM mk),
       |isl AS (SELECT doc_id, start,
       |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br),
       |sp AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 8 AS e
       |  FROM isl GROUP BY doc_id, island),
       |pos AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks
       |  FROM t WHERE len(toks) > 0),
       |kept AS (SELECT p.doc_id, p.i, p.toks[p.i + 1] AS tok FROM pos p
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = p.doc_id AND p.i >= sp.s AND p.i < sp.e)),
       |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
       |  string_agg(tok, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(t.toks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(reb.clean_text, '') AS clean_text
       |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
       |ORDER BY t.doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("doc_fingerprint", docFingerprint, docFingerprintSql),
    QuerySpec("dedup_exact", dedupExact, dedupExactSql),
    QuerySpec("dedup_ngram_pairs", dedupNgramPairs, dedupNgramPairsSql),
    QuerySpec("dedup_snm_pairs", dedupSnmPairs, dedupSnmPairsSql),
    QuerySpec("dedup_simhash", dedupSimhash, dedupSimhashSql),
    QuerySpec("dedup_simhash_pairs", dedupSimhashPairs, dedupSimhashPairsSql),
    QuerySpec("dedup_minhash_lsh", dedupMinhashLsh, dedupMinhashLshSql),
    QuerySpec("dedup_clusters", dedupClusters, dedupClustersSql),
    QuerySpec("dedup_keep_canonical", dedupKeepCanonical, dedupKeepCanonicalSql),
    QuerySpec("q_contamination", qContamination, qContaminationSql),
    QuerySpec("dedup_blocks", dedupBlocks, dedupBlocksSql),
    QuerySpec("q_dup_spans", qDupSpans, qDupSpansSql),
    QuerySpec("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    QuerySpec("dedup_incremental_bloom", dedupIncrementalBloom, dedupIncrementalSql),
    QuerySpec("dedup_incremental_neardup", dedupIncrementalNeardup,
      dedupIncrementalNeardupSql),
    QuerySpec("dedup_index_refresh", dedupIndexRefresh, dedupIncrementalNeardupSql),
    QuerySpec("dedup_index_persisted", dedupIndexPersisted, dedupIncrementalNeardupSql),
    QuerySpec("q_source_overlap", qSourceOverlap, qSourceOverlapSql),
    QuerySpec("q_trim_dup_spans", qTrimDupSpans, qTrimDupSpansSql)
  )
}
