package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Multimodal payloads: decoded image/audio/video features and frames,
  * perceptual hashes with their pairs, clusters, canonical keep and
  * incremental/standing-index variants, and quarantine. */
object MultimodalQueries {

  /** Real-decode gate: payloads are genuine BMP/WAV/GVF1 files encoded from
    * the text bytes; the Spark side PARSES them (headers, strides, chunk
    * walks) and the oracle predicts every decoded value — geometry, byte
    * counts, and the checksum over decoded pixels/samples — from pure byte
    * arithmetic (`ascii(substring(...))` per char; the fixture corpus is
    * all-ASCII so char code = byte). A header/stride/offset parsing bug on
    * the Spark side changes the checksum and fails the hash. */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.extractFeatures(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select("doc_id", "kind", "n_bytes", "width", "height", "channels",
        "resized_width", "resized_height", "checksum")
      .orderBy("doc_id")

  /** Cyclic fill: payload content byte j = text byte (j mod n), so the sum
    * of P content bytes = floor(P/n) * total + prefix_sum(P mod n). */
  private def duckCycSum(p: String): String =
    s"(($p) // n) * s + COALESCE(list_sum(list_slice(bs, 1, ($p) % n)), 0)"

  private val multimodalFeaturesSql =
    s"""WITH bytes AS (
       |  -- empty text is padded to one 0 byte, mirroring mediaTable's
       |  -- `if (raw.isEmpty) Array[Byte](0)` branch
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM documents),
       |geom AS (
       |  SELECT doc_id, n, bs, list_sum(bs) AS s,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh, 1 + n % 5 AS vf
       |  FROM bytes),
       |calc AS (
       |  SELECT doc_id, kind,
       |    CASE kind WHEN 'image' THEN iw WHEN 'audio' THEN n ELSE vw END AS width,
       |    CASE kind WHEN 'image' THEN ih WHEN 'audio' THEN 1 ELSE vh END AS height,
       |    CASE kind WHEN 'audio' THEN 1 ELSE 3 END AS channels,
       |    CASE kind
       |      WHEN 'image' THEN 54 + ((3 * iw + 3) // 4) * 4 * ih
       |      WHEN 'audio' THEN 44 + 2 * n
       |      ELSE 16 + 3 * vw * vh * vf END AS n_bytes,
       |    CASE kind
       |      WHEN 'image' THEN ${duckCycSum("3 * iw * ih")}
       |      WHEN 'audio' THEN s
       |      ELSE ${duckCycSum("3 * vw * vh * vf")} END AS checksum
       |  FROM geom)
       |SELECT doc_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       |  CAST(channels AS BIGINT) AS channels,
       |  CAST(GREATEST(1, (width * 256) // GREATEST(width, height)) AS BIGINT)
       |    AS resized_width,
       |  CAST(GREATEST(1, (height * 256) // GREATEST(width, height)) AS BIGINT)
       |    AS resized_height,
       |  CAST(checksum AS BIGINT) AS checksum
       |FROM calc ORDER BY doc_id""".stripMargin

  /** Frame sampling through the real GVF1 parse: frame count, parsed byte
    * offsets, and per-frame decoded checksums, all oracle-predicted. */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.sampleFrames(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .select("doc_id", "frame_idx", "offset_bytes", "frame_checksum")
      .orderBy("doc_id", "frame_idx")

  private val multimodalFramesSql =
    s"""WITH bytes AS (
       |  -- same empty-text padding branch as multimodal_features
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM documents WHERE doc_id % 3 = 2),
       |vids AS (
       |  SELECT doc_id, n, bs, list_sum(bs) AS s,
       |    3 * (8 + n % 16) * (8 + (n * 3) % 16) AS fb, 1 + n % 5 AS f
       |  FROM bytes),
       |fr AS (
       |  SELECT doc_id, n, bs, s, fb, unnest(range(f)) AS frame_idx FROM vids)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  CAST(16 + frame_idx * fb AS BIGINT) AS offset_bytes,
       |  CAST((${duckCycSum("(frame_idx + 1) * fb")})
       |     - (${duckCycSum("frame_idx * fb")}) AS BIGINT) AS frame_checksum
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin

  /** Perceptual hash per media payload through the REAL decoders
    * (Multimodal.perceptualHashes): images dHash their parsed BMP
    * raster (9x8 nearest-neighbor grid, gradient-sign bits), audio
    * delta-hashes its parsed PCM samples, video dHashes its first
    * decoded frame. The oracle re-derives every bit from the synthetic
    * fill's byte arithmetic — a raster/stride/sample parsing bug on the
    * Spark side flips bits and fails the hash. */
  private def multimodalPhash(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(Tables.documents(s, dir)))
      .toDF()
      .orderBy("doc_id")

  /** Shared oracle arithmetic: the per-doc perceptual hash (`ph` CTE)
    * over the doc relation `src` (doc_id, text). Bit 63 cannot be
    * built with a BIGINT shift in DuckDB (overflow guard), so bits
    * accumulate in HUGEINT and wrap to signed 64-bit at the end —
    * bitwise-or of distinct powers equals their sum. */
  private def duckPhashCtes(src: String): String =
    s"""bytes AS (
       |  SELECT doc_id, GREATEST(1, length(text)) AS n,
       |    CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE list_transform(range(1, length(text) + 1),
       |           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)) END AS bs
       |  FROM $src),
       |geom AS (
       |  SELECT doc_id, n, bs,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh
       |  FROM bytes),
       |rast AS (SELECT doc_id, n, bs, iw AS w, ih AS h FROM geom
       |         WHERE kind = 'image'
       |         UNION ALL
       |         SELECT doc_id, n, bs, vw AS w, vh AS h FROM geom
       |         WHERE kind = 'video'),
       |dbits AS (SELECT doc_id, n, bs, CAST(y * 8 + x AS INT) AS k,
       |    ((y * h) // 8) * w + ((x * w) // 9) AS pa,
       |    ((y * h) // 8) * w + (((x + 1) * w) // 9) AS pb
       |  FROM rast, (SELECT unnest(range(8)) AS y) ys,
       |       (SELECT unnest(range(8)) AS x) xs),
       |dh AS (SELECT doc_id, SUM(CASE WHEN
       |      bs[1 + ((3*pb) % n)] + bs[1 + ((3*pb+1) % n)] + bs[1 + ((3*pb+2) % n)]
       |    > bs[1 + ((3*pa) % n)] + bs[1 + ((3*pa+1) % n)] + bs[1 + ((3*pa+2) % n)]
       |    THEN CAST(1 AS HUGEINT) << k ELSE 0 END) AS hu
       |  FROM dbits GROUP BY doc_id),
       |au AS (SELECT doc_id, SUM(CASE WHEN
       |      bs[1 + (((i + 1) * n) // 65)] > bs[1 + ((i * n) // 65)]
       |    THEN CAST(1 AS HUGEINT) << CAST(i AS INT) ELSE 0 END) AS hu
       |  FROM geom, (SELECT unnest(range(64)) AS i) ii
       |  WHERE kind = 'audio' GROUP BY doc_id),
       |ph AS (SELECT g.doc_id, g.kind,
       |    CAST(CASE WHEN u.hu >= 9223372036854775808
       |         THEN u.hu - 18446744073709551616 ELSE u.hu END AS BIGINT) AS phash
       |  FROM geom g JOIN (SELECT * FROM dh UNION ALL SELECT * FROM au) u
       |    ON u.doc_id = g.doc_id)""".stripMargin

  private val multimodalPhashSql =
    s"""WITH ${duckPhashCtes("documents")}
       |SELECT doc_id, kind, phash FROM ph ORDER BY doc_id""".stripMargin

  /** Re-crawl fixture for the perceptual pairs gate: every 37th
    * document re-appears under a shifted id (+3e18 — the fixture id
    * plateau: divisible by 3 so the media kind is preserved, and far
    * above any id ScaleUp amplification can produce; the amplifier
    * self-checks `max key < 3e18`, so fixture-synthesized ids can never
    * collide with amplified real ids the way the original +3e9 offset
    * could at 100x, where strided doc_ids reach ~9e9), half
    * byte-identical (hamming-0
    * pairs guaranteed) and half with the leading byte case-flipped —
    * a single-byte payload perturbation whose hash distance the
    * oracle re-derives exactly. Without planting, the synthetic
    * corpus yields almost no within-hamming-3 media pairs and the
    * gate would check mostly-empty output. */
  private def mediaRecrawl(docs: DataFrame): DataFrame = {
    val dup = docs.where(col("doc_id") % 37 === 0)
      .withColumn("text", when(col("doc_id") % 74 === 0,
        concat(upper(substring(col("text"), 1, 1)), expr("substring(text, 2)")))
        .otherwise(col("text")))
      .withColumn("doc_id", col("doc_id") + lit(3000000000000000000L))
    docs.unionByName(dup)
  }

  /** Perceptual near-dup pairs: banded hamming pairing
    * (Dedup.bandedHammingPairs, 4x16-bit bands — pigeonhole-exact for
    * hamming <= 3) over the perceptual hashes of the re-crawl corpus,
    * partitioned by media kind so modalities never cross-pair. Exact
    * duplicate documents produce byte-identical payloads and hamming-0
    * pairs; the perturbed re-crawls surface at small positive
    * distances. The oracle replays hash, bands, bucket cap, and
    * verification. */
  private def mediaPhashPairs(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.bandedHammingPairs(
        pipeline.Multimodal.perceptualHashes(s,
            pipeline.Multimodal.mediaTable(
              mediaRecrawl(Tables.documents(s, dir))))
          .toDF()
          .select(col("kind"), col("doc_id"), col("phash").as("sig")),
        maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
        partitionCols = Seq("kind"))

  private def multimodalPhashPairs(s: SparkSession, dir: String): DataFrame =
    mediaPhashPairs(s, dir).orderBy("kind", "doc_a", "doc_b")

  /** Perceptual-duplicate GROUPS: connected components over the banded
    * hamming pairs (Dedup.resolveClusters — the same driver union-find /
    * star-contraction CC the text and embedding tiers use), resolving
    * chains like original -> exact re-crawl -> perturbed re-crawl into one
    * cluster per perceptual identity. Media kinds never pair across kind, so
    * components stay kind-homogeneous without carrying the column. The
    * oracle walks the same pair relation with a recursive CTE. */
  private def multimodalPhashClusters(s: SparkSession, dir: String): DataFrame =
    pipeline.Dedup.resolveClusters(
        mediaPhashPairs(s, dir).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** Incremental perceptual admission: the re-crawled media (the
    * +3e18-id copies of [[mediaRecrawl]]) checked against the ORIGINAL
    * corpus as the standing ledger (Dedup.incrementalHammingDedup) —
    * the ingest-time question "is this newly crawled image/audio/video
    * perceptually near-identical to anything the corpus already
    * holds?". Exact re-crawls resolve near_dup at hamming 0; the
    * perturbed half resolves near_dup at its true distance or
    * admitted when the single-byte flip moved the hash past 3 bits —
    * all oracle-re-derived. Ledger work is bounded by the buckets the
    * batch touches (broadcast batch-key semi-join before the wide
    * exchange), so admission cost tracks the re-crawl batch, not the
    * corpus. */
  private def multimodalPhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    pipeline.Dedup.incrementalHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L),
        hashes.where(col("doc_id") < 3000000000000000000L),
        maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
        partitionCols = Seq("kind"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash admission through a MAINTAINED standing hamming
    * index — the media twin of `DedupQueries.dedupIndexRefresh`: build
    * on the even half of the base corpus's signatures, refresh with the odd half
    * ([[pipeline.Dedup.refreshHammingIndex]]), admit the re-crawl batch
    * via [[pipeline.Dedup.indexHammingDedup]]. refresh == rebuild, so the
    * verdicts equal [[multimodalPhashIncremental]]'s and this gate shares
    * its oracle verbatim. */
  private def multimodalPhashIndexRefresh(s: SparkSession, dir: String): DataFrame = {
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    val base = hashes.where(col("doc_id") < 3000000000000000000L)
    val idx0 = pipeline.Dedup.buildHammingIndex(
      base.where(col("doc_id") % 2 === 0),
      maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
      partitionCols = Seq("kind"))
    val idx = pipeline.Dedup.refreshHammingIndex(idx0,
      base.where(col("doc_id") % 2 =!= 0))
    idx0.release()
    val out = pipeline.Dedup.indexHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L), idx)
      .localCheckpoint(true)
    idx.release()
    out.orderBy("doc_id")
  }

  /** Perceptual-hash admission from a PERSISTED hamming-index generation
    * — the media twin of `DedupQueries.dedupIndexPersisted`: build on
    * the even half of the base signatures, [[pipeline.Dedup.saveHammingIndex]] to a
    * directory, release, [[pipeline.Dedup.loadHammingIndex]] back,
    * refresh the odd half onto the LOADED index, admit the re-crawl
    * batch. Shares [[multimodalPhashIncrementalSql]] verbatim — a
    * round-trip that loses a bucket, a tombstone, or the recorded fused
    * partition columns fails the hash (a partition-column loss would
    * silently admit everything; the probe would match zero postings). */
  private def multimodalPhashIndexPersisted(s: SparkSession, dir: String): DataFrame = {
    val idxDir = indexScratch("phash_index", dir)
    pipeline.IndexGen.deleteRec(idxDir)
    val hashes = pipeline.Multimodal.perceptualHashes(s,
        pipeline.Multimodal.mediaTable(
          mediaRecrawl(Tables.documents(s, dir))))
      .toDF()
      .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    val base = hashes.where(col("doc_id") < 3000000000000000000L)
    val built = pipeline.Dedup.buildHammingIndex(
      base.where(col("doc_id") % 2 === 0),
      maxHamming = 3, bands = 4, bandBits = 16, maxBucket = 64,
      partitionCols = Seq("kind"))
    pipeline.Dedup.saveHammingIndex(built, idxDir.getPath)
    built.release()
    val loaded = pipeline.Dedup.loadHammingIndex(s, idxDir.getPath)
    val idx = pipeline.Dedup.refreshHammingIndex(loaded,
      base.where(col("doc_id") % 2 =!= 0))
    loaded.release()
    val out = pipeline.Dedup.indexHammingDedup(
        hashes.where(col("doc_id") >= 3000000000000000000L), idx)
      .localCheckpoint(true)
    idx.release()
    out.orderBy("doc_id")
  }

  private val multimodalPhashIncrementalSql =
    s"""WITH docs_rc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000,
       |    CASE WHEN doc_id % 74 = 0
       |         THEN upper(substr(text, 1, 1)) || substr(text, 2)
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 = 0),
       |${duckPhashCtes("docs_rc")},
       |bat AS (SELECT * FROM ph WHERE doc_id >= 3000000000000000000),
       |led AS (SELECT * FROM ph WHERE doc_id < 3000000000000000000),
       |bb AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM bat, (SELECT unnest(range(4)) AS b) bands),
       |lb AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM led, (SELECT unnest(range(4)) AS b) bands),
       |bkeys AS (SELECT DISTINCT kind, b, key FROM bb),
       |lbuck AS (SELECT lb.kind, lb.b, lb.key FROM lb
       |          JOIN bkeys USING (kind, b, key)
       |          GROUP BY 1, 2, 3 HAVING COUNT(*) BETWEEN 1 AND 64),
       |cand AS (SELECT DISTINCT bb.kind, bb.doc_id AS doc_a, bb.phash AS pa,
       |                lb.doc_id AS doc_b, lb.phash AS pb
       |         FROM bb
       |         JOIN lbuck ON lbuck.kind = bb.kind AND lbuck.b = bb.b
       |           AND lbuck.key = bb.key
       |         JOIN lb ON lb.kind = bb.kind AND lb.b = bb.b
       |           AND lb.key = bb.key),
       |mt AS (SELECT kind, doc_a, doc_b,
       |         CAST(bit_count(xor(pa, pb)) AS BIGINT) AS h
       |       FROM cand WHERE bit_count(xor(pa, pb)) <= 3),
       |best AS (SELECT kind, doc_a, doc_b, h FROM (
       |           SELECT mt.*, row_number() OVER (
       |             PARTITION BY kind, doc_a ORDER BY h, doc_b) AS rn FROM mt)
       |         WHERE rn = 1)
       |SELECT b.kind, b.doc_id,
       |  CASE WHEN best.doc_b IS NOT NULL THEN 'near_dup'
       |       ELSE 'admitted' END AS verdict,
       |  best.doc_b AS near_dup_of, best.h AS hamming
       |FROM bat b LEFT JOIN best
       |  ON best.kind = b.kind AND best.doc_a = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  private val multimodalPhashPairsSql =
    s"""WITH docs_rc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000,
       |    CASE WHEN doc_id % 74 = 0
       |         THEN upper(substr(text, 1, 1)) || substr(text, 2)
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 = 0),
       |${duckPhashCtes("docs_rc")},
       |banded AS (SELECT doc_id, kind, phash, b,
       |    (phash >> CAST(b * 16 AS INT)) & 65535 AS key
       |  FROM ph, (SELECT unnest(range(4)) AS b) bands),
       |bsize AS (SELECT kind, b, key FROM banded GROUP BY 1, 2, 3
       |          HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.kind AS kind, a.doc_id AS doc_a,
       |                a.phash AS pa, c.doc_id AS doc_b, c.phash AS pb
       |         FROM banded a
       |         JOIN bsize bs ON a.kind = bs.kind AND a.b = bs.b
       |           AND a.key = bs.key
       |         JOIN banded c ON a.kind = c.kind AND a.b = c.b
       |           AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT kind, doc_a, doc_b,
       |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(pa, pb)) <= 3
       |ORDER BY kind, doc_a, doc_b""".stripMargin

  /** The end-to-end media-dedup verdict (the media twin of
    * dedup_keep_canonical): the crawled media corpus with every
    * non-canonical perceptual-cluster member dropped — keep the smallest
    * doc_id per perceptual identity. One anti-join against the (small)
    * dropped set; the corpus side never shuffles. */
  private def multimodalKeepCanonical(s: SparkSession, dir: String): DataFrame = {
    val media = pipeline.Multimodal.mediaTable(
        mediaRecrawl(Tables.documents(s, dir)))
      .select("doc_id", "kind")
    val dropped = pipeline.Dedup.resolveClusters(
        mediaPhashPairs(s, dir).select("doc_a", "doc_b"))
      .where(col("doc_id") =!= col("cluster_id"))
    media.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  private val multimodalKeepCanonicalSql =
    s"""WITH RECURSIVE pairs AS ($multimodalPhashPairsSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |dropped AS (SELECT u AS doc_id FROM reach GROUP BY u
       |            HAVING LEAST(u, MIN(v)) <> u),
       |docs_rc2 AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000000000000000 FROM documents WHERE doc_id % 37 = 0)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image'
       |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
       |FROM docs_rc2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  private val multimodalPhashClustersSql =
    s"""WITH RECURSIVE pairs AS ($multimodalPhashPairsSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** Malformed-media quarantine — the media twin of `q_json_quarantine`.
    * A crawl-scale media pipeline meets truncated and corrupt payloads
    * constantly; decode failures must become per-row quarantine
    * verdicts, not executor exceptions. Deterministic corruption
    * families (`Multimodal.corruptMedia`: doc_id%4 picks intact /
    * magic overwritten / last byte dropped / truncated to 8 bytes) are
    * applied to the real encoded payloads, then `quarantineSplit` runs
    * the REAL decoders under a total verdict function. The oracle
    * predicts per row: the accept/reject boundary, the coarse reason
    * class (bad_magic for wrong/short-of-magic headers, truncated for
    * well-headed payloads whose declared geometry exceeds the bytes),
    * and the corrupted byte count — all under the hash, so a decoder
    * that crashes, silently admits a truncated file, or misclassifies
    * fails the gate. */
  private def multimodalQuarantine(s: SparkSession, dir: String): DataFrame =
    pipeline.Multimodal.quarantineSplit(s,
        pipeline.Multimodal.corruptMedia(s,
          pipeline.Multimodal.mediaTable(Tables.documents(s, dir))))
      .toDF()
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("quarantined"), col("reason"))
      .orderBy("doc_id")

  private val multimodalQuarantineSql =
    s"""WITH bytes AS (
       |  SELECT doc_id, GREATEST(1, length(text)) AS n FROM documents),
       |geom AS (
       |  SELECT doc_id, n,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    8 + n % 24 AS iw,
       |    GREATEST(1, LEAST(40, n // (3 * (8 + n % 24)))) AS ih,
       |    8 + n % 16 AS vw, 8 + (n * 3) % 16 AS vh, 1 + n % 5 AS vf
       |  FROM bytes),
       |sz AS (
       |  SELECT doc_id, kind,
       |    CASE kind
       |      WHEN 'image' THEN 54 + ((3 * iw + 3) // 4) * 4 * ih
       |      WHEN 'audio' THEN 44 + 2 * n
       |      ELSE 16 + 3 * vw * vh * vf END AS full_bytes
       |  FROM geom)
       |SELECT doc_id, kind,
       |  CAST(CASE doc_id % 4 WHEN 2 THEN full_bytes - 1
       |                       WHEN 3 THEN 8
       |                       ELSE full_bytes END AS BIGINT) AS n_bytes,
       |  doc_id % 4 <> 0 AS quarantined,
       |  CASE doc_id % 4
       |    WHEN 0 THEN 'ok'         -- intact: real decode succeeds
       |    WHEN 1 THEN 'bad_magic'  -- 'X' over the magic byte
       |    WHEN 2 THEN 'truncated'  -- geometry outruns the bytes
       |    ELSE 'bad_magic'         -- 8 bytes: shorter than the magic read
       |  END AS reason
       |FROM sz ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("multimodal_features", multimodalFeatures, multimodalFeaturesSql),
    QuerySpec("multimodal_frames", multimodalFrames, multimodalFramesSql),
    QuerySpec("multimodal_phash", multimodalPhash, multimodalPhashSql),
    QuerySpec("multimodal_phash_pairs", multimodalPhashPairs, multimodalPhashPairsSql),
    QuerySpec("multimodal_phash_clusters", multimodalPhashClusters,
      multimodalPhashClustersSql),
    QuerySpec("multimodal_keep_canonical", multimodalKeepCanonical,
      multimodalKeepCanonicalSql),
    QuerySpec("multimodal_phash_incremental", multimodalPhashIncremental,
      multimodalPhashIncrementalSql),
    QuerySpec("multimodal_phash_index_refresh", multimodalPhashIndexRefresh,
      multimodalPhashIncrementalSql),
    QuerySpec("multimodal_phash_index_persisted", multimodalPhashIndexPersisted,
      multimodalPhashIncrementalSql),
    QuerySpec("multimodal_quarantine", multimodalQuarantine, multimodalQuarantineSql)
  )
}
