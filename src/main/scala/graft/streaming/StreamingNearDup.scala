package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.pipeline.Dedup

/** Streaming near-dup admission: each document of an ingest stream of
  * `(doc_id, text)` rows is checked for MinHash-LSH near-duplicates
  * against a prebuilt ledger index ([[Dedup.buildNearDupIndex]]). Each
  * micro-batch runs the batch operator [[Dedup.indexNearDup]] against the
  * served index ([[StreamingAdmission]]), so the stream emits its
  * `(doc_id, verdict, near_dup_of, jaccard_pct)` verdicts on any replay
  * split and holds no state. */
object StreamingNearDup {

  final case class Verdict(doc_id: Long, verdict: String,
                           near_dup_of: Option[Long], jaccard_pct: Option[Long])

  /** Near-dup admission with HOT LEDGER REFRESH — the production shape: a
    * real ingest pipeline rebuilds its ledger index periodically (nightly
    * compaction, backfill merge, [[Dedup.refreshNearDupIndex]]) while the
    * stream keeps flowing. [[refresh]] swaps the index reference at a batch
    * boundary; the query keeps running, documents judged before the swap
    * are never judged again, and documents after it are judged by the new
    * ledger. StreamingSpec gates verdict continuity across a mid-stream
    * refresh against the batch operator run per phase with the
    * corresponding ledgers.
    *
    * @param sink per-micro-batch consumer `(verdicts, batchId)`; must be
    *             idempotent in `batchId` for exactly-once results
    */
  final class Refreshable(spark: SparkSession, stream: DataFrame,
      checkpointDir: String, sink: (Dataset[Verdict], Long) => Unit)
    extends StreamingAdmission[Dedup.NearDupIndex](stream, checkpointDir,
      Dedup.indexNearDup, _.release(),
      (verdicts, batchId) =>
        sink(verdicts.as[Verdict](spark.implicits.newProductEncoder[Verdict]),
          batchId))
}
