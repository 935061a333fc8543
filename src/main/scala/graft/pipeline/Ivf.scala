package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity.{PreparedVec, cosDouble, dot}
import graft.util.BoundedCollect

/** IVF-style approximate nearest-neighbor search: a coarse quantizer
  * partitions vectors into centroid buckets; a query probes only its
  * `nprobe` nearest buckets — the inverted-file scale path (candidate set
  * bounded by probed buckets, not corpus size).
  *
  * Centroid selection is deterministic (every k-th vector in vec_id order —
  * a seedless analog of k-means|| init that keeps the whole pipeline
  * reproducible without learned state). Assignment and search use the same
  * exact integer-micros arithmetic as [[Similarity]].
  */
object Ivf {

  /** Deterministic coarse centroids: every stride-th prepared vector in
    * `vec_id` order. Selection runs *in the cluster*: the corpus is
    * range-sorted by `vec_id`, indexed with `zipWithIndex` (per-partition
    * sizes + offsets — no single-partition window), and filtered down to
    * the stride rows, so only ≤ `nCentroids` rows ever reach the driver.
    * Equivalent to `row_number() OVER (ORDER BY vec_id) - 1` with
    * `idx % stride = 0 AND idx / stride < nCentroids` — the exact rule the
    * DuckDB oracle evaluates. */
  def centroids(embs: DataFrame, nCentroids: Int): Array[PreparedVec] = {
    val spark = embs.sparkSession
    import spark.implicits._
    strideSelect(Similarity.prepared(embs).as[PreparedVec], nCentroids)
  }

  /** The stride rule over any prepared relation (also used by [[Pq]] over
    * unit-normalized vectors). */
  private[pipeline] def strideSelect(
      prep: org.apache.spark.sql.Dataset[PreparedVec],
      nCentroids: Int): Array[PreparedVec] = {
    val sorted = prep.orderBy("vec_id")
    val n = sorted.count()
    val stride = math.max(1L, n / nCentroids)
    sorted.rdd.zipWithIndex()
      .collect { case (v, i) if i % stride == 0 && i / stride < nCentroids => v }
      .collect()
      .sortBy(_.vec_id)
  }

  /** Lloyd-refined coarse centroids: start from the deterministic stride
    * selection, then run `iters` k-means iterations with EXACT arithmetic —
    * assignment by the same double-cosine rule as [[assigned]] (IEEE-
    * identical across engines, ties to the lower index), update by
    * per-component `Math.floorDiv` of the integer-micros sums (floor, not
    * truncation — the oracle spells this out explicitly, since DuckDB's
    * `//` truncates a HUGEINT quotient toward zero on negative sums).
    * Stride init quality depends on data order; a couple of Lloyd rounds
    * adapts the buckets to the actual distribution, which is what makes
    * nprobe recall hold on clustered corpora.
    *
    * Scale shape: each iteration is ONE mapPartitions pass over the
    * persisted training sample (≤ `trainFactor * nCentroids` rows — O(n)
    * total at the sqrt(n) production sizing, see inline note)
    * emitting at most `nCentroids` partial (sum, count) rows per partition
    * (map-side combine); the driver merges `nCentroids x partitions` tiny
    * partials — no shuffle, nothing corpus-sized ever leaves the executors.
    * Empty clusters keep their previous centroid. */
  def refinedCentroids(embs: DataFrame, nCentroids: Int,
                       iters: Int, trainFactor: Int = TrainFactor): Array[PreparedVec] = {
    val spark = embs.sparkSession
    import spark.implicits._
    refinedCentroidsPrep(Similarity.prepared(embs).as[PreparedVec],
      nCentroids, iters, trainFactor)
  }

  /** [[refinedCentroids]] over an ALREADY-PREPARED relation — the form
    * [[retrainIndex]] uses to retrain off the index's own inverted file
    * (whose rows are exactly the prepared corpus, so training there equals
    * training on the raw union). */
  private[pipeline] def refinedCentroidsPrep(
      prep: org.apache.spark.sql.Dataset[PreparedVec], nCentroids: Int,
      iters: Int, trainFactor: Int = TrainFactor): Array[PreparedVec] = {
    val spark = prep.sparkSession
    val init = strideSelect(prep, nCentroids)
    var cents = init
    if (iters <= 0) return cents
    // Training-cost bound: at the production sizing k = sqrt(n), assigning
    // the FULL corpus each Lloyd pass is n^1.5 work — the one super-linear
    // term in the IVF build (measured 12.1x wall at 100x data, r12). Train
    // on a deterministic evenly-spread sample of min(n, trainFactor*k)
    // rows instead (Bresenham rule (idx*tr) % n < tr over the vec_id-sorted
    // index — pure integer arithmetic the DuckDB oracle re-derives from the
    // same row_number() index), so training is ~trainFactor*k^2 = O(n) and
    // the full corpus is only ever touched by the final [[assigned]] pass.
    // idx*tr stays far inside Long (idx<=n, tr<=~32*sqrt(n): n^1.5 < 2^63
    // for any storable corpus).
    val sorted = prep.orderBy("vec_id")
    val n = sorted.count()
    val trainRows = math.min(n, trainFactor.toLong * nCentroids)
    val train = sorted.rdd.zipWithIndex()
      .collect { case (v, i) if (i * trainRows) % n < trainRows => v }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials = train.mapPartitions { it =>
        val cs = bc.value
        val dim = if (cs.isEmpty) 0 else cs(0).xs.length
        val sums = Array.fill(cs.length)(new Array[Long](dim))
        val counts = new Array[Long](cs.length)
        it.foreach { v =>
          var best = 0
          var bestCos = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            val c = cosDouble(dot(v.xs, cs(i).xs), v.norm2, cs(i).norm2)
            if (c > bestCos) { bestCos = c; best = i }
            i += 1
          }
          counts(best) += 1
          var j = 0
          val s = sums(best)
          while (j < dim && j < v.xs.length) { s(j) += v.xs(j); j += 1 }
        }
        cs.indices.iterator.filter(counts(_) > 0)
          .map(i => (i, sums(i), counts(i)))
      }.collect()
      val merged = partials.groupBy(_._1).map { case (ci, ps) =>
        val dim = ps(0)._2.length
        val sum = new Array[Long](dim)
        var cnt = 0L
        ps.foreach { case (_, s, c) =>
          cnt += c
          var j = 0
          while (j < dim) { sum(j) += s(j); j += 1 }
        }
        val xs = sum.map(Math.floorDiv(_, cnt))
        ci -> PreparedVec(ci.toLong, xs, dot(xs, xs))
      }
      cents = cents.indices.map { i =>
        merged.getOrElse(i,
          PreparedVec(i.toLong, cents(i).xs, cents(i).norm2)) // empty cluster
      }.toArray
    }
    train.unpersist(false)
    // refined centroids with zero norm (all-zero mean) would make cosine
    // undefined; fall back to the stride centroid for such a bucket
    cents.zip(init).map { case (c, c0) => if (c.norm2 > 0) c else c0 }
  }

  /** Lloyd-training sample multiplier: training touches at most
    * `TrainFactor * nCentroids` corpus rows per iteration, making the
    * k-means build O(n) at the sqrt(n)-centroid production sizing. Mirrored
    * verbatim by the oracle's `32 * kc` spelling. */
  val TrainFactor: Int = 32

  /** Vectors tagged with their nearest centroid (max cosine). */
  def assigned(embs: DataFrame, cents: Array[PreparedVec]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    assignedPrep(Similarity.prepared(embs).as[PreparedVec], cents)
  }

  /** [[assigned]] over an already-prepared relation (the retrain path). */
  private[pipeline] def assignedPrep(
      prep: org.apache.spark.sql.Dataset[PreparedVec],
      cents: Array[PreparedVec]): DataFrame = {
    val spark = prep.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    prep.map { v =>
      val cs = bc.value
      var best = 0
      var bestCos = Double.NegativeInfinity
      var i = 0
      while (i < cs.length) {
        val c = cosDouble(dot(v.xs, cs(i).xs), v.norm2, cs(i).norm2)
        if (c > bestCos) { bestCos = c; best = i }
        i += 1
      }
      (best, v.vec_id, v.xs, v.norm2)
    }.toDF("centroid_id", "vec_id", "xs", "norm2")
  }

  /** Scale-proportional centroid count: `max(16, floor(sqrt(n)))`. A
    * FIXED centroid count makes probed-list size grow linearly with the
    * corpus (the r11 100x sweep measured the fixed-16 rungs at 24-30x
    * wall for 100x data); sqrt(n) keeps per-probe candidate counts at
    * ~nprobe*sqrt(n) — the standard IVF sizing rule. Spelled as
    * floor-of-double-sqrt so the DuckDB oracle reproduces it exactly
    * (IEEE sqrt is correctly rounded in both engines). */
  def autoCentroids(n: Long): Int =
    math.max(16L, math.floor(math.sqrt(n.toDouble)).toLong).toInt

  /** Top-k per query probing the `nprobe` nearest centroid buckets.
    * The *query* set is collected and broadcast — correct for the
    * few-queries/huge-corpus shape this models — and bounded by
    * `maxQueryRows`: a predicate that matches a corpus-sized slice fails
    * fast, never shipping more than the bound to the driver.
    *
    * `nCentroids = 0` selects [[autoCentroids]] (sqrt-of-corpus sizing —
    * the production configuration); a positive value pins the bucket
    * count (the fixed-16 oracle-calibration gates). */
  def searchTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
                 nCentroids: Int = 16, nprobe: Int = 4,
                 maxQueryRows: Long = 100000L,
                 refineIters: Int = 0): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val nc =
      if (nCentroids > 0) nCentroids
      else autoCentroids(Similarity.prepared(embs).count())
    val cents = refinedCentroids(embs, nc, refineIters)
    val inv = assigned(embs, cents)
    val querySet = Similarity.prepared(embs).where(queryPred)
    probeSearch(inv, cents, querySet, k, nprobe, maxQueryRows)
  }

  /** Shared probe-and-rank tail of the one-shot and standing-index search
    * paths: rank the `nprobe` nearest buckets per query, pair each probed
    * bucket's vectors with the queries that probe it, exact-cosine rerank
    * to top-k.
    *
    * Probe ranking runs IN THE CLUSTER against broadcast centroids (with
    * sqrt(n) buckets, ranking on the driver would be an
    * O(|q| * sqrt(n) * dim) single-threaded loop), inside the one bounded
    * job that also counts the query set and brings each query and its
    * probed bucket ids to the driver ([[BoundedCollect]]); the queries
    * then reach the bucket scan as a broadcast variable, so guard, probe
    * and candidate pairing take one job before the rank. */
  private def probeSearch(inv: DataFrame, cents: Array[PreparedVec],
      querySet: DataFrame, k: Int, nprobe: Int,
      maxQueryRows: Long): DataFrame = {
    val spark = inv.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bcCents = sc.broadcast(cents)
    val (nQueries, probed) = BoundedCollect(
        querySet.select("vec_id", "xs", "norm2").as[PreparedVec].rdd,
        maxQueryRows)(_.map { q =>
      val cs = bcCents.value
      (q, cs.indices
        .sortBy(i => (-cosDouble(dot(q.xs, cs(i).xs), q.norm2, cs(i).norm2), i))
        .take(nprobe).toArray)
    }.toArray)
    require(probed.isDefined,
      s"IVF search broadcasts the query set: predicate matched $nQueries " +
        s"rows > maxQueryRows=$maxQueryRows; batch the queries or raise the " +
        "bound explicitly for a corpus-scale join")
    // probed bucket -> the queries probing it
    val byCent = probed.get.toSeq.flatten
      .flatMap { case (q, cis) => cis.map(_ -> q) }
      .groupBy(_._1).map { case (ci, qs) => ci -> qs.map(_._2).toArray }
    val bcProbes = sc.broadcast(byCent)
    inv.select("centroid_id", "vec_id", "xs", "norm2")
      .where(col("centroid_id").isin(byCent.keys.toSeq: _*))
      .as[(Int, Long, Array[Long], Long)]
      .flatMap { case (ci, vid, xs, n) =>
        bcProbes.value(ci).iterator.filter(_.vec_id != vid)
          .map(q => (q.vec_id, vid, cosDouble(dot(q.xs, xs), q.norm2, n)))
      }
      .toDF("query_id", "neighbor_id", "cos")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 1000000).cast("long").as("cos_micros"))
  }

  // ================================================================
  // Standing inverted-file index (build once, refresh per batch)
  // ================================================================

  /** Materialized IVF index for repeated search and incremental
    * maintenance: frozen coarse `cents` + the persisted inverted file
    * `inv` (centroid_id, vec_id, xs, norm2). `nTotal` / `nSinceTrain`
    * carry the drift bookkeeping: centroids were trained on
    * `nTotal - nSinceTrain` vectors, everything since joined via
    * [[refreshIndex]] under frozen centroids. Call [[IvfIndex.release]]
    * when done — the [[Dedup.NearDupIndex]] lifetime discipline. */
  final case class IvfIndex(cents: Array[PreparedVec], inv: DataFrame,
                            nTotal: Long, nSinceTrain: Long) {
    def release(): Unit = inv.unpersist()

    /** Fraction of the index assigned since centroids were last trained. */
    def driftFraction: Double =
      if (nTotal <= 0) 0.0 else nSinceTrain.toDouble / nTotal

    /** Retrain trigger: frozen centroids stay near-optimal while the
      * corpus they were trained on dominates; once refreshed vectors are
      * a large fraction of the index, bucket balance (and so nprobe
      * recall) degrades and a rebuild re-adapts the quantizer. The 1/2
      * default is the classic doubling rule — retraining on every
      * doubling keeps total training cost a constant factor of one final
      * build. */
    def needsRetrain(maxNewFraction: Double = 0.5): Boolean =
      driftFraction >= maxNewFraction
  }

  /** Build the standing index: train centroids (auto-sized by default),
    * assign the corpus, persist the inverted file. */
  def buildIndex(embs: DataFrame, nCentroids: Int = 0,
                 refineIters: Int = 0): IvfIndex = {
    val nc =
      if (nCentroids > 0) nCentroids
      else autoCentroids(Similarity.prepared(embs).count())
    val cents = refinedCentroids(embs, nc, refineIters)
    val inv = assigned(embs, cents).persist()
    IvfIndex(cents, inv, inv.count(), 0L)
  }

  /** Incremental maintenance: assign ONLY the batch under the frozen
    * centroids and append it to the inverted file —
    * `refreshIndex(buildIndex(L), B).inv == assigned(L ∪ B, cents(L))`
    * relation-for-relation (SimilaritySpec pins it; the
    * `ann_ivf_index_refresh` oracle gate replays build-then-refresh
    * against a DuckDB rederivation with ledger-trained centroids).
    * Refresh cost tracks the batch (|B| x nCentroids x dim assignment
    * work, no shuffle); the standing corpus is never re-assigned or
    * re-read. The new inverted file is materialized before returning so
    * the caller can `release()` the old index immediately; check
    * [[IvfIndex.needsRetrain]] after long refresh chains — the quantizer
    * itself is what a rebuild re-adapts. */
  def refreshIndex(index: IvfIndex, batch: DataFrame): IvfIndex = {
    val inv2 = index.inv.union(assigned(batch, index.cents)).persist()
    val n2 = inv2.count()
    index.copy(inv = inv2, nTotal = n2,
      nSinceTrain = index.nSinceTrain + (n2 - index.nTotal))
  }

  /** Drift-triggered RETRAIN of a standing index: re-train the coarse
    * quantizer on the index's CURRENT corpus and re-assign every vector —
    * the rebuild that [[IvfIndex.needsRetrain]]'s doubling rule schedules.
    * The inverted file already holds the exact prepared vectors, so
    * retraining off it is identical to `buildIndex` over the raw union:
    * `retrainIndex(refreshIndex(buildIndex(L), B)) == buildIndex(L ∪ B)`
    * centroid-for-centroid and row-for-row (SimilaritySpec pins both; the
    * `ann_ivf_retrain` oracle gate replays refresh → retrain → further
    * refresh against a DuckDB rederivation with retrain-point-trained
    * centroids).
    *
    * Hot swap: the new inverted file is fully materialized (persist +
    * count) BEFORE this returns, so the old generation keeps serving
    * every in-flight search until the caller swaps the reference and
    * `release()`s it — the same serve-continuity contract as
    * [[refreshIndex]]. `nCentroids = 0` re-sizes the quantizer to the
    * GROWN corpus (`autoCentroids`), which is the point of retraining:
    * sqrt(n) buckets re-balance as n grows.
    *
    * The index does not record the Lloyd refinement depth it was built
    * with — an index built with `refineIters > 0` must have the same
    * value RE-PASSED here (and to [[maintainIndex]]) or the retrain
    * silently reverts to seed centroids; nCentroids = 0 re-sizing is
    * deliberate (see above), refineIters defaulting is not. */
  def retrainIndex(index: IvfIndex, nCentroids: Int = 0,
                   refineIters: Int = 0): IvfIndex = {
    val spark = index.inv.sparkSession
    import spark.implicits._
    val prep = index.inv.select("vec_id", "xs", "norm2").as[PreparedVec]
    val nc =
      if (nCentroids > 0) nCentroids else autoCentroids(index.nTotal)
    val cents = refinedCentroidsPrep(prep, nc, refineIters)
    val inv2 = assignedPrep(prep, cents).persist()
    val n2 = inv2.count() // materialize before the caller releases the old
    IvfIndex(cents, inv2, n2, 0L)
  }

  /** Standing-index maintenance driver — the lifecycle policy in one
    * call: fold the batch in under frozen centroids, then, if the drift
    * trigger fires, retrain + hot-swap. Returns the index generation to
    * serve next; the PASSED-IN index is the caller's to `release()` once
    * this returns (the intermediate refreshed generation, when a retrain
    * superseded it, is released here). With the default `maxNewFraction`
    * this is the doubling rule: total training cost over any refresh
    * chain stays a constant factor of one final build. */
  def maintainIndex(index: IvfIndex, batch: DataFrame,
                    maxNewFraction: Double = 0.5, nCentroids: Int = 0,
                    refineIters: Int = 0): IvfIndex = {
    val refreshed = refreshIndex(index, batch)
    if (refreshed.needsRetrain(maxNewFraction)) {
      val retrained = retrainIndex(refreshed, nCentroids, refineIters)
      refreshed.release() // retrained is materialized; drop the interim gen
      retrained
    } else refreshed
  }

  /** Persist a standing index under `dir` — the serving story at fleet
    * scale: an index generation lives in object storage and OUTLIVES the
    * process that trained it (the [[Search.buildIndex]] discipline; the
    * in-memory [[IvfIndex]] is the hot working set, this is the durable
    * generation). Three relations: `inv/` (the inverted file, clustered
    * by centroid_id so a probe's bucket read prunes to few files),
    * `cents/` (array-order-indexed centroids — the array POSITION is the
    * centroid id; vec_id is provenance only), `meta/` (1 row: the drift
    * counters, so a loaded index resumes its refresh chain exactly where
    * the saved one left off). */
  def saveIndex(index: IvfIndex, dir: String, nFiles: Int = 16,
                lastBatchId: Long = -1L): Unit = {
    val spark = index.inv.sparkSession
    import spark.implicits._
    // generation-versioned ([[IndexGen.publish]]): the three relations
    // land in a fresh gen dir as concurrent writes and ONE atomic pointer
    // rename publishes them, so retrain + persist compose — saving over a
    // served directory swaps whole generations, never mixes an old inv
    // with new cents
    IndexGen.publish(spark, dir)(
      gen => index.inv
        .repartitionByRange(nFiles, col("centroid_id"), col("vec_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite").parquet(s"$gen/inv"),
      gen => index.cents.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.vec_id, c.xs.toSeq, c.norm2) }
        .toDF("idx", "vec_id", "xs", "norm2")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/cents"),
      gen => Seq((index.nTotal, index.nSinceTrain, lastBatchId, Seq.empty[Long]))
        .toDF("n_total", "n_since_train", "last_batch_id", "folded_ids")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/meta"))
  }

  /** The meta relation a generation currently serves: `meta_<id>/`
    * named by the `META` pointer once a durable fold has landed, the
    * build-time `meta/` before that. */
  private def metaPath(genPath: String): String =
    IndexGen.readPointer(genPath, "META")
      .map(m => s"$genPath/$m").getOrElse(s"$genPath/meta")

  private def metaRow(spark: org.apache.spark.sql.SparkSession,
                      genPath: String): org.apache.spark.sql.Row =
    spark.read.parquet(metaPath(genPath)).head()

  private def metaField[T](r: org.apache.spark.sql.Row, name: String,
                           default: T): T =
    if (r.schema.fieldNames.contains(name)) r.getAs[T](name) else default

  /** Durably APPEND a refresh fold to the serving generation — the
    * batch-sized IO twin of [[refreshIndex]] for an index that must
    * survive process restarts (the [[graft.streaming.StreamingVectorDedup.Maintained]]
    * durable mode). Layout: the batch's assigned rows land in their own
    * `folds/<batchId>/` relation (mode=overwrite, so a REPLAYED fold
    * overwrites itself — idempotent under the foreachBatch at-least-once
    * contract), then a fresh `meta_<batchId>/` recording the advanced
    * counters and the fold ledger is PUBLISHED by one atomic `META`
    * pointer rename — the commit point. A crash before the pointer flip
    * leaves the previous meta serving (the orphan fold directory is
    * invisible and overwritten on replay); after it, the fold is fully
    * recorded. [[loadIndex]] unions base inv + the recorded folds.
    *
    * Fold directories accumulate until the next retrain ([[saveIndex]]
    * writes a fresh generation with an empty ledger) — the doubling rule
    * bounds the count at ~corpus/batch, and maintenance collapses them
    * on every drift retrain. `refreshed` is the IN-MEMORY result of
    * [[refreshIndex]] for this batch (its counters are what gets
    * recorded); `batch` is the raw batch the caller refreshed with. */
  def persistFold(dir: String, batch: DataFrame, refreshed: IvfIndex,
                  batchId: Long, nFiles: Int = 4): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cur = IndexGen.resolve(dir)
    val prev = metaRow(spark, cur)
    val prevFolds =
      metaField[scala.collection.Seq[Long]](prev, "folded_ids", Nil).toSeq
    assigned(batch, refreshed.cents)
      .coalesce(nFiles)
      .write.mode("overwrite").parquet(s"$cur/folds/$batchId")
    val metaName = s"meta_$batchId"
    Seq((refreshed.nTotal, refreshed.nSinceTrain, batchId,
        (prevFolds :+ batchId).distinct.sorted))
      .toDF("n_total", "n_since_train", "last_batch_id", "folded_ids")
      .coalesce(1).write.mode("overwrite").parquet(s"$cur/$metaName")
    val old = IndexGen.readPointer(cur, "META")
    IndexGen.publishPointer(cur, "META", metaName) // commit point
    // keep the superseded meta one cycle (reader grace), prune older
    Option(new java.io.File(cur).list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("meta_") && n != metaName &&
        !old.contains(n) && !n.endsWith(".tmp"))
      .foreach(n => IndexGen.deleteRec(new java.io.File(cur, n)))
  }

  /** The last batch id durably folded into (or saved with) the serving
    * generation; -1 for a pre-durable save. The restart guard: a resumed
    * stream skips every batchId <= this (already folded AND already
    * sunk — the foreachBatch at-least-once overlap). */
  def lastFoldedBatchId(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Long =
    metaField[Long](metaRow(spark, IndexGen.resolve(dir)),
      "last_batch_id", -1L)

  /** Load a [[saveIndex]] directory into a servable standing index:
    * `loadIndex(save(idx)) == idx` relation-for-relation and
    * counter-for-counter (SimilaritySpec pins it; the `ann_ivf_persisted`
    * oracle gate serves a refresh on TOP of a loaded index against the
    * same DuckDB rederivation as the in-memory chain, so a persistence
    * round-trip that loses a vector, reorders the centroid array, or
    * resets the drift counters fails the hash). The inverted file is
    * persisted (it is the hot working set); release() as usual. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                dir: String): IvfIndex = {
    import spark.implicits._
    val cur = IndexGen.resolve(dir) // ONE generation serves this load
    val cents = spark.read.parquet(s"$cur/cents")
      .orderBy("idx")
      .select("vec_id", "xs", "norm2").as[PreparedVec]
      .collect()
    val meta = metaRow(spark, cur)
    // base inverted file + every durably-recorded fold (persistFold) —
    // the ledger lives in meta, so an uncommitted orphan fold dir is
    // invisible; a generation without folds reads exactly as saved
    val cols = Seq("centroid_id", "vec_id", "xs", "norm2")
    val base = spark.read.parquet(s"$cur/inv").select(cols.map(col): _*)
    val folds =
      metaField[scala.collection.Seq[Long]](meta, "folded_ids", Nil).toSeq
    val inv = folds.foldLeft(base) { (d, id) =>
      d.union(spark.read.parquet(s"$cur/folds/$id").select(cols.map(col): _*))
    }.persist()
    IvfIndex(cents, inv,
      meta.getAs[Long]("n_total"), meta.getAs[Long]("n_since_train"))
  }

  /** Top-k over a standing [[IvfIndex]]: queries are drawn from the
    * index's own inverted file by `queryPred` (the prepared vectors are
    * already there — no re-preparation pass), probing `nprobe` buckets
    * exactly as [[searchTopK]] does. */
  def searchIndexTopK(index: IvfIndex, queryPred: Column, k: Int = 5,
                      nprobe: Int = 4,
                      maxQueryRows: Long = 100000L): DataFrame =
    probeSearch(index.inv, index.cents, index.inv.where(queryPred),
      k, nprobe, maxQueryRows)

  /** Embedding-dedup ADMISSION against a standing [[IvfIndex]] — the
    * vector-modality twin of [[Dedup.incrementalNearDup]]: each batch
    * vector probes its `nprobe` nearest frozen-centroid buckets and is
    * a near-dup iff its best candidate cosine reaches `tauPct`
    * (best by exact double cosine, ties to the lower index id; verdict
    * threshold compares floored integer micros, so it is exactly
    * re-derivable cross-engine). Emits one row PER BATCH VECTOR:
    * `(vec_id, verdict, near_dup_of, cos_micros)` with nulls unless
    * near-dup — zero/absent-norm vectors and vectors whose probed
    * buckets are empty surface as 'admitted' through the left join, the
    * incremental-dedup family shape.
    *
    * Scale shape: probing is a narrow batch-sized pass against broadcast
    * centroids; candidates come from ONE equi-join of the batch-sized
    * probe relation with the persisted inverted file on centroid_id
    * (no broadcast assumption — admission batches are allowed to be
    * corpus-proportional, AQE picks the strategy), so candidate volume
    * is |B| x nprobe x avg-bucket, never corpus x corpus. Batch ids
    * must be disjoint from index ids (the admission contract). */
  def indexAdmit(batch: DataFrame, index: IvfIndex, tauPct: Int = 90,
                 nprobe: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bcCents = spark.sparkContext.broadcast(index.cents)
    val probes = Similarity.prepared(batch).as[PreparedVec].flatMap { q =>
      val cs = bcCents.value
      cs.indices
        .sortBy(i => (-cosDouble(dot(q.xs, cs(i).xs), q.norm2, cs(i).norm2), i))
        .take(nprobe)
        .map(ci => (q.vec_id, ci, q.xs, q.norm2))
    }.toDF("query_id", "centroid_id", "xs_q", "n_q")
    val best = index.inv.select("centroid_id", "vec_id", "xs", "norm2")
      .join(probes, "centroid_id")
      .as[(Int, Long, Array[Long], Long, Long, Array[Long], Long)]
      .map { case (_, vid, xs, n, qid, xsQ, nQ) =>
        (qid, vid, cosDouble(dot(xsQ, xs), nQ, n))
      }
      .toDF("vec_id", "neighbor_id", "cos")
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("neighbor_id")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).as("nb"),
        floor(col("m.cos") * 1000000).cast("long").as("cm"))
    val isDup = col("cm").isNotNull && col("cm") >= tauPct * 10000L
    batch.select(col("vec_id").cast("long").as("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(isDup, lit("near_dup")).otherwise(lit("admitted")).as("verdict"),
        when(isDup, col("nb")).as("near_dup_of"),
        when(isDup, col("cm")).as("cos_micros"))
  }
}
