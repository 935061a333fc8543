package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.pipeline.{Dedup, TextAnalysis}

/** Streaming near-dup admission: each document of an ingest stream is
  * checked for MinHash-LSH near-duplicates against a STATIC prebuilt
  * ledger index ([[Dedup.buildNearDupIndex]]) — the streaming shape of
  * [[Dedup.incrementalNearDup]], emitting the same
  * `(doc_id, verdict, near_dup_of, jaccard_pct)` verdicts.
  *
  * The whole pipeline is stateless per document: signature/banding is a
  * narrow per-row pass, candidates come from stream-static left joins
  * against the index relations (the static sides are persisted once at
  * index build and reused every micro-batch), and the best-match
  * reduction runs in `flatMapGroupsWithState` that never stores state —
  * every candidate row of a document derives from that document's single
  * input row, so the group is always complete within its micro-batch.
  * Zero state growth, no watermark needed, and streaming == batch
  * verdicts on ANY replay split (StreamingSpec gates equivalence against
  * `Dedup.incrementalNearDup` on the same fixture).
  *
  * Band keys are [[Dedup.minhashBandKeys]]'s fused `"<band>:<k1>_<k2>_…"`
  * strings — the one MinHash key spelling, the same `bkey` the index's
  * `buckets` and `dropped` relations are keyed by in memory and on disk —
  * so the stream-static join is one equi-join on `bkey`, with no
  * re-keying of the static side.
  *
  * A candidate pair reachable through k shared bands is verified k times
  * (≤ bands) instead of paying a distinct() shuffle first — narrow
  * recompute beats an exchange inside a micro-batch; the max-reduction
  * absorbs the duplicates. */
object StreamingNearDup {

  final case class Verdict(doc_id: Long, verdict: String,
                           near_dup_of: Option[Long], jaccard_pct: Option[Long])

  /** Near-dup admission with HOT LEDGER REFRESH — the production shape: a
    * real ingest pipeline rebuilds its ledger index periodically (nightly
    * compaction, backfill merge) while the stream keeps flowing.
    *
    * Because the verdict pipeline is STATELESS (every group completes
    * within its micro-batch; see [[verdicts]]), an index swap needs no
    * state migration at all: [[refresh]] stops the query at a trigger
    * boundary and restarts the same plan against the new index, with
    * source offsets carried by the checkpoint — documents admitted before
    * the swap are never reprocessed, documents after it are judged by the
    * new ledger, and an interrupted in-flight batch replays under
    * at-least-once with the sink deduplicating by `batchId` (the standard
    * foreachBatch idempotence contract). StreamingSpec gates verdict
    * continuity across a mid-stream refresh against the batch operator
    * run per-phase with the corresponding ledgers.
    *
    * At fleet scale this is also the cheap swap: the new index's static
    * relations are persisted once at build and stream-static-joined every
    * micro-batch, so the swap cost is one query restart (seconds), not a
    * stateful-operator checkpoint rewrite.
    *
    * @param sink per-micro-batch consumer `(verdicts, batchId)`; must be
    *             idempotent in `batchId` for exactly-once results
    */
  final class Refreshable(spark: SparkSession, stream: DataFrame,
      checkpointDir: String,
      sink: (Dataset[Verdict], Long) => Unit) {
    @volatile private var query: org.apache.spark.sql.streaming.StreamingQuery = _
    @volatile private var current: Dedup.NearDupIndex = _

    def start(index: Dedup.NearDupIndex): Unit = synchronized {
      require(query == null, "already started — use refresh(newIndex)")
      current = index
      query = verdicts(spark, stream, index).writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch(sink)
        .start()
    }

    /** Swap to `newIndex` at a trigger boundary. The OLD index's cached
      * relations are released once the restarted query is running —
      * callers keep ownership of the new one until the next swap. */
    def refresh(newIndex: Dedup.NearDupIndex): Unit = synchronized {
      require(query != null, "not started")
      query.stop(); query.awaitTermination()
      val old = current
      query = null
      start(newIndex)
      old.release()
    }

    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = synchronized {
      if (query != null) { query.stop(); query.awaitTermination(); query = null }
      if (current != null) { current.release(); current = null }
    }
  }

  /** Streaming verdicts for a stream of (doc_id, text) rows. */
  def verdicts(spark: SparkSession, stream: DataFrame,
               index: Dedup.NearDupIndex): Dataset[Verdict] = {
    import spark.implicits._
    val bandKeys = Dedup.minhashBandKeys(index.numPerms, index.bands)
    // One narrow pass per document: distinct shingle hashes and their
    // fused band keys, through Dedup's per-row kernels — the same keys the
    // index postings carry, so the join below needs no re-keying.
    // Token-less/short docs keep an empty band array so they surface as
    // 'admitted' through the outer joins, like the batch left join does.
    val keyed = stream
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .as[(Long, Option[Seq[String]])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toksOpt) =>
          val hs = Dedup.shingleHashes(md, toksOpt.getOrElse(Seq.empty).toArray, 3)
          (id, hs, if (hs.isEmpty) Array.empty[String] else bandKeys(hs))
        }
      }.toDF("doc_id", "hs", "bkeys")
    val ledgerHs = index.shingles.toDF("doc_b", "hs_b")
    val scored = keyed
      .select(col("doc_id"), col("hs"), explode_outer(col("bkeys")).as("bkey"))
      .join(index.buckets, Seq("bkey"), "left_outer")
      .select(col("doc_id"), col("hs"), explode_outer(col("ids")).as("doc_b"))
      .join(ledgerHs, Seq("doc_b"), "left_outer")
      .select(col("doc_id"), col("doc_b"),
        // -1 sentinels keep the tuple encoder non-nullable on no-match rows
        coalesce(size(array_intersect(col("hs"), col("hs_b"))), lit(-1)).as("inter"),
        coalesce(size(col("hs")) + size(col("hs_b")), lit(-1)).as("sz"))
    scored.as[(Long, Option[Long], Int, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, Verdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[(Long, Option[Long], Int, Int)],
         _: GroupState[Boolean]) =>
          // no state is ever stored: the group is complete in-batch
          var bestJ = -1L
          var bestId = Long.MaxValue
          rows.foreach {
            case (_, Some(docB), inter, sz) if inter >= 0 =>
              val union = sz.toLong - inter
              if (union > 0 && inter * 100 >= union * index.thresholdPct) {
                val j = math.floor(inter * 100.0 / union).toLong
                if (j > bestJ || (j == bestJ && docB < bestId)) {
                  bestJ = j; bestId = docB
                }
              }
            case _ => ()
          }
          if (bestJ >= 0) Iterator.single(Verdict(id, "near_dup", Some(bestId), Some(bestJ)))
          else Iterator.single(Verdict(id, "admitted", None, None))
      }
  }
}
