package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Ivf

/** Streaming embedding-dedup admission: each vector of an ingest stream
  * of `(vec_id, embedding)` rows is checked for high-cosine
  * near-duplicates against a standing IVF index ([[Ivf.buildIndex]] /
  * [[Ivf.refreshIndex]]), emitting [[Ivf.indexAdmit]]'s
  * `(vec_id, verdict, near_dup_of, cos_micros)` verdicts. Both tiers run
  * that batch operator per micro-batch inside `foreachBatch` and hold no
  * state: [[admission]] against a served index ([[StreamingAdmission]]),
  * [[Maintained]] against an index the stream itself keeps folding into.
  */
object StreamingVectorDedup {

  /** Streaming-DRIVEN standing-index lifecycle — the streaming twin of
    * the batch [[Ivf.maintainIndex]] arc: every micro-batch is (1) judged
    * against the CURRENT index generation ([[Ivf.indexAdmit]] verdicts to
    * `sink`), then (2) FOLDED INTO the index, with the drift trigger
    * retraining + hot-swapping mid-stream when it fires — the index
    * evolves with the stream instead of serving an index an operator
    * swaps in (the [[admission]] path). Because the generation is
    * resolved per micro-batch inside `foreachBatch`, a swap is one
    * reference write at a batch boundary: no query restart, no state
    * migration (the admission pipeline is stateless), and serve
    * continuity holds by [[Ivf.retrainIndex]]'s materialize-before-swap
    * contract. StreamingSpec pins the whole arc: mid-stream drift fires,
    * the retrained generation serves the NEXT batch, and verdicts equal
    * the batch `indexAdmit`/`maintainIndex` chain replayed per phase.
    *
    * Batch lineage is cut (`localCheckpoint`) before the fold so the
    * index never references a spent micro-batch source.
    *
    * DURABLE mode (`indexDir` set): the standing index survives process
    * restarts, batch-sized IO per fold. [[start]] saves the initial
    * generation; every no-retrain fold lands via [[Ivf.persistFold]]
    * (own `folds/<batchId>/` relation + an atomically-published meta
    * recording counters and the fold ledger); every drift retrain saves
    * a whole fresh generation ([[Ivf.saveIndex]] with the batchId). A
    * restarted process calls [[resume]]: [[Ivf.loadIndex]] rebuilds the
    * serving index (base inv ∪ recorded folds) and the recorded
    * `last_batch_id` guards the foreachBatch at-least-once overlap — a
    * replayed batch that was already folded AND sunk is skipped whole
    * (judging it against an index that now CONTAINS it would near-dup
    * it against itself). `sink` must stay idempotent in `batchId`, the
    * standard contract. Without `indexDir` the chain is session-bound
    * and a restart rebuilds from the ledger. */
  final class Maintained(spark: SparkSession, stream: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      tauPct: Int = 90, nprobe: Int = 4,
      maxNewFraction: Double = 0.5, nCentroids: Int = 0,
      refineIters: Int = 0, indexDir: Option[String] = None) {
    @volatile private var query: org.apache.spark.sql.streaming.StreamingQuery = _
    @volatile private var current: Ivf.IvfIndex = _
    @volatile private var lastFolded: Long = -1L

    /** The serving generation (the latest fold/retrain result). */
    def index: Ivf.IvfIndex = current

    /** The last durably-folded batch id (-1 until a durable fold). */
    def lastFoldedBatchId: Long = lastFolded

    /** Start serving + maintaining from `initial`; ownership transfers
      * to this driver (released on swap or [[stop]]). Stream ids must be
      * new — the [[Ivf.indexAdmit]] admission contract; a replayed batch
      * would re-fold, exactly as re-inserting into the batch chain would.
      * In durable mode the initial generation is persisted before the
      * stream starts — a crash in the very first batch resumes from it. */
    def start(initial: Ivf.IvfIndex): Unit = synchronized {
      require(query == null, "already started")
      current = initial
      lastFolded = -1L
      indexDir.foreach(d => Ivf.saveIndex(initial, d))
      startQuery()
    }

    /** Durable-mode restart: rebuild the serving index from `indexDir`
      * and continue the SAME checkpointed stream — replayed batches at
      * or below the recorded fold point are skipped whole. */
    def resume(): Unit = synchronized {
      require(query == null, "already started")
      val d = indexDir.getOrElse(
        throw new IllegalArgumentException("resume() needs indexDir"))
      current = Ivf.loadIndex(spark, d)
      lastFolded = Ivf.lastFoldedBatchId(spark, d)
      startQuery()
    }

    private def startQuery(): Unit = {
      query = stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > lastFolded) {
            val b = batch.localCheckpoint(true)
            val idx = current
            // verdicts against the pre-fold generation, materialized before
            // the fold can supersede it (a batch never near-dups itself)
            sink(Ivf.indexAdmit(b, idx, tauPct, nprobe)
              .localCheckpoint(true), batchId)
            val refreshed = Ivf.refreshIndex(idx, b)
            val next =
              if (refreshed.needsRetrain(maxNewFraction)) {
                val retrained =
                  Ivf.retrainIndex(refreshed, nCentroids, refineIters)
                refreshed.release()
                // a retrain collapses the fold ledger into a fresh gen
                indexDir.foreach(d =>
                  Ivf.saveIndex(retrained, d, lastBatchId = batchId))
                retrained
              } else {
                indexDir.foreach(d =>
                  Ivf.persistFold(d, b, refreshed, batchId))
                refreshed
              }
            current = next
            if (indexDir.isDefined) lastFolded = batchId
            idx.release()
          }
        }
        .start()
    }

    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = synchronized {
      if (query != null) { query.stop(); query.awaitTermination(); query = null }
      if (current != null) { current.release(); current = null }
    }
  }

  /** A runner serving [[Ivf.indexAdmit]] over a stream of
    * `(vec_id, embedding)` rows ([[StreamingAdmission]]). */
  def admission(stream: DataFrame, checkpointDir: String,
                sink: (DataFrame, Long) => Unit,
                tauPct: Int = 90, nprobe: Int = 4)
      : StreamingAdmission[Ivf.IvfIndex] =
    new StreamingAdmission[Ivf.IvfIndex](stream, checkpointDir,
      Ivf.indexAdmit(_, _, tauPct, nprobe), _.release(), sink)
}
