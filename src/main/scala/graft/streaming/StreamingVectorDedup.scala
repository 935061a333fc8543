package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.pipeline.Ivf
import graft.pipeline.Similarity.{cosDouble, dot}

/** Streaming embedding-dedup admission: each vector of an ingest stream
  * is checked for high-cosine near-duplicates against a STATIC standing
  * IVF index ([[Ivf.buildIndex]] / [[Ivf.refreshIndex]]) — the vector-
  * modality twin of [[StreamingNearDup]], emitting
  * [[Ivf.indexAdmit]]-shaped `(vec_id, verdict, near_dup_of, cos_micros)`
  * verdicts.
  *
  * The pipeline is stateless per vector, the [[StreamingNearDup]]
  * discipline: preparation (integer-micros scaling + exact norm) and
  * probe ranking against the broadcast frozen centroids are one narrow
  * per-row pass; candidates come from a stream-static left join against
  * the index's persisted inverted file on centroid_id (only the probed
  * `nprobe` buckets' vectors are ever touched per input row); and the
  * best-candidate reduction runs in a `flatMapGroupsWithState` that
  * never stores state — every candidate row derives from its vector's
  * single input row, so the group always completes within its
  * micro-batch. Zero state growth, no watermark, and streaming == batch
  * verdicts on ANY replay split (StreamingSpec gates equivalence against
  * [[Ivf.indexAdmit]] on the same fixture). Zero-norm vectors keep an
  * empty probe array and surface as 'admitted' through the outer joins,
  * like the batch left join does.
  */
object StreamingVectorDedup {

  final case class Verdict(vec_id: Long, verdict: String,
                           near_dup_of: Option[Long], cos_micros: Option[Long])

  /** Streaming-DRIVEN standing-index lifecycle — the streaming twin of
    * the batch [[Ivf.maintainIndex]] arc: every micro-batch is (1) judged
    * against the CURRENT index generation ([[Ivf.indexAdmit]] verdicts to
    * `sink`), then (2) FOLDED INTO the index, with the drift trigger
    * retraining + hot-swapping mid-stream when it fires — the index
    * evolves with the stream instead of serving a frozen snapshot (the
    * [[verdicts]] path) or waiting for an operator-driven restart (the
    * [[StreamingNearDup.Refreshable]] path). Because the generation is
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

  /** Streaming verdicts for a stream of (vec_id, embedding) rows. */
  def verdicts(spark: SparkSession, stream: DataFrame, index: Ivf.IvfIndex,
               tauPct: Int = 90, nprobe: Int = 4): Dataset[Verdict] = {
    import spark.implicits._
    val bcCents = spark.sparkContext.broadcast(index.cents)
    // One narrow pass per vector: micros scaling + exact norm (the
    // Similarity.prepared arithmetic — float->double cast, *1e6, floor —
    // so values are identical to the batch path's), then probe ranking
    // against the broadcast centroids exactly as Ivf.indexAdmit ranks.
    val keyed = stream
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Option[Seq[Float]])]
      .mapPartitions { it =>
        it.map { case (id, embOpt) =>
          val emb = embOpt.getOrElse(Seq.empty)
          val xs = new Array[Long](emb.length)
          var i = 0
          var n2 = 0L
          while (i < emb.length) {
            xs(i) = math.floor(emb(i).toDouble * 1000000).toLong
            n2 += xs(i) * xs(i)
            i += 1
          }
          val cs = bcCents.value
          val probes =
            if (n2 <= 0) Array.empty[Int]
            else cs.indices
              .sortBy(ci => (-cosDouble(dot(xs, cs(ci).xs), n2, cs(ci).norm2), ci))
              .take(nprobe).toArray
          (id, xs, n2, probes)
        }
      }.toDF("vec_id", "xs", "norm2", "probes")
    val inv = index.inv.select(col("centroid_id"),
      col("vec_id").as("nb_id"), col("xs").as("nb_xs"),
      col("norm2").as("nb_norm2"))
    val scored = keyed
      .select(col("vec_id"), col("xs"), col("norm2"),
        explode_outer(col("probes")).as("centroid_id"))
      .join(inv, Seq("centroid_id"), "left_outer")
      .select(col("vec_id"), col("xs"), col("norm2"),
        col("nb_id"), col("nb_xs"), col("nb_norm2"))
    scored
      .as[(Long, Array[Long], Long, Option[Long], Option[Array[Long]], Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, Verdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (id: Long,
         rows: Iterator[(Long, Array[Long], Long, Option[Long], Option[Array[Long]], Option[Long])],
         _: GroupState[Boolean]) =>
          // no state is ever stored: the group is complete in-batch.
          // Best by (double cosine desc, id asc), threshold on floored
          // micros — the Ivf.indexAdmit rule, value for value.
          var bestCos = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var any = false
          rows.foreach {
            case (_, xs, n2, Some(nb), Some(nbXs), Some(nbN2)) =>
              val c = cosDouble(dot(xs, nbXs), n2, nbN2)
              if (c > bestCos || (c == bestCos && nb < bestId)) {
                bestCos = c; bestId = nb
              }
              any = true
            case _ => ()
          }
          val cm = math.floor(bestCos * 1000000).toLong
          if (any && cm >= tauPct * 10000L)
            Iterator.single(Verdict(id, "near_dup", Some(bestId), Some(cm)))
          else Iterator.single(Verdict(id, "admitted", None, None))
      }
  }
}
