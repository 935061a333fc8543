package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity.PreparedVec

/** Product quantization: the memory-scale path for embedding search.
  *
  * A D-dim vector is split into `m` contiguous subvectors; each subspace
  * gets its own codebook of `k` centroid subvectors, and a vector is stored
  * as `m` small codes (its nearest centroid per subspace) — 64 float
  * components (256 B) become 8 codes (8 B), the 32x compression that lets a
  * 100 TB embedding corpus's index live in cluster memory. Search uses
  * asymmetric distance computation (ADC): a query precomputes its exact
  * distance to every codebook entry (an `m x k` table), after which each
  * corpus vector scores in `m` table lookups over its codes — no float
  * vector is ever touched at scan time.
  *
  * Determinism: subvector distances are EXACT integer arithmetic over the
  * [[Similarity]] integer-micros scaling (squared L2, ties to the lower
  * code), and codebooks use the same seedless stride rule as
  * [[Ivf.centroids]], so the whole train-encode-search pipeline is a pure
  * function of the corpus that the DuckDB oracle re-derives bit-for-bit.
  *
  * Scale shape: codebooks are `m*k` subvectors — broadcast-sized by
  * construction. Encoding is one `mapPartitions` pass (narrow, no shuffle).
  * ADC search broadcasts the per-query lookup tables (guarded by
  * `maxQueryRows`) and keeps per-partition bounded top-k heaps like
  * [[Similarity.bruteTopK]]; only `queries x k` partial rows reach the
  * final rank.
  */
object Pq extends Serializable {

  final case class CodeRow(vec_id: Long, sub: Int, code: Int, err: Long)

  /** Unit-normalized integer-micros vectors: `floor(x * 1e6 / sqrt(norm2))`
    * per component over the [[Similarity.prepared]] micros. Every operation
    * is IEEE-correctly-rounded on exact integer inputs, so Spark and DuckDB
    * produce identical longs. On unit vectors squared L2 is monotone with
    * cosine (`‖a−b‖² = 2 − 2cosθ`), which makes PQ's L2 codebooks and ADC
    * ranking agree with the cosine semantics of the rest of the stack. */
  private def unitPrepared(embs: DataFrame) = {
    val spark = embs.sparkSession
    import spark.implicits._
    Similarity.prepared(embs)
      .select(col("vec_id"), transform(col("xs"), x =>
        floor(x.cast("double") * lit(1000000.0) /
          sqrt(col("norm2").cast("double"))).cast("long")).as("xs"))
      .withColumn("norm2",
        Similarity.nativeDot(spark, col("xs"), col("xs")))
      .as[PreparedVec]
  }

  /** Per-subspace codebooks `[sub][code] -> centroid subvector`, from the
    * stride-selected unit-normalized corpus rows (every stride-th vector in
    * vec_id order — [[Ivf.centroids]]' exact rule), sliced into `m` equal
    * subspaces. */
  def codebooks(embs: DataFrame, m: Int, k: Int): Array[Array[Array[Long]]] = {
    val cents = Ivf.strideSelect(unitPrepared(embs), k)
    require(cents.nonEmpty, "PQ codebooks need a non-empty prepared corpus")
    val dim = cents(0).xs.length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m subspaces")
    val sd = dim / m
    Array.tabulate(m)(s => cents.map(_.xs.slice(s * sd, (s + 1) * sd)))
  }

  /** Exact squared L2 between `v[off, off+len)` and a codebook subvector. */
  private def sqDist(v: Array[Long], off: Int, c: Array[Long]): Long = {
    var s = 0L
    var j = 0
    while (j < c.length) { val d = v(off + j) - c(j); s += d * d; j += 1 }
    s
  }

  private def encodeOne(v: PreparedVec, books: Array[Array[Array[Long]]],
                        sd: Int): (Array[Int], Array[Long]) = {
    val m = books.length
    val codes = new Array[Int](m)
    val errs = new Array[Long](m)
    var s = 0
    while (s < m) {
      val cb = books(s)
      var best = 0
      var bestD = Long.MaxValue
      var ci = 0
      while (ci < cb.length) {
        val d = sqDist(v.xs, s * sd, cb(ci))
        if (d < bestD) { bestD = d; best = ci } // strict: ties keep lower code
        ci += 1
      }
      codes(s) = best
      errs(s) = bestD
      s += 1
    }
    (codes, errs)
  }

  /** PQ encoding as a relation: one row per (vector, subspace) with the
    * chosen code and that subspace's exact quantization error. */
  def encoded(embs: DataFrame, m: Int = 8, k: Int = 16): DataFrame =
    encodedWith(embs, codebooks(embs, m, k))

  /** [[encoded]] under ALREADY-TRAINED codebooks — the primitive the
    * standing code index's refresh path reuses to encode only a batch
    * (graft-visible so the spec can pin refresh == encode-all-with-
    * frozen-books relation-for-relation). */
  private[graft] def encodedWith(embs: DataFrame,
      books: Array[Array[Array[Long]]]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val sd = books(0)(0).length
    val bc = spark.sparkContext.broadcast(books)
    unitPrepared(embs).mapPartitions { it =>
      it.flatMap { v =>
        val (codes, errs) = encodeOne(v, bc.value, sd)
        codes.indices.iterator.map(s => CodeRow(v.vec_id, s, codes(s), errs(s)))
      }
    }.toDF()
  }

  /** Materialized PQ code index: frozen `books` + the persisted code
    * relation (the [[Ivf.IvfIndex]] shape for the codes-only ADC tier).
    * `nTotal`/`nSinceTrain` carry the same drift bookkeeping. */
  final case class PqIndex(books: Array[Array[Array[Long]]], codes: DataFrame,
                           m: Int, nTotal: Long, nSinceTrain: Long) {
    def release(): Unit = codes.unpersist()
    def driftFraction: Double =
      if (nTotal <= 0) 0.0 else nSinceTrain.toDouble / nTotal
    /** Doubling-rule retrain trigger — see [[Ivf.IvfIndex.needsRetrain]]. */
    def needsRetrain(maxNewFraction: Double = 0.5): Boolean =
      driftFraction >= maxNewFraction
  }

  /** Train codebooks and encode the corpus into a standing code index. */
  def buildCodeIndex(embs: DataFrame, m: Int = 8, k: Int = 16): PqIndex = {
    val books = codebooks(embs, m, k)
    val codes = encodedWith(embs, books).persist()
    PqIndex(books, codes, m, codes.count() / m, 0L)
  }

  /** Incremental maintenance: encode ONLY the batch under the frozen
    * codebooks and append —
    * `refreshCodeIndex(buildCodeIndex(L), B).codes ==
    * encode(L ∪ B, books(L))` relation-for-relation (the
    * `ann_pq_index_refresh` oracle gate replays build-then-refresh
    * against a DuckDB rederivation with ledger-trained codebooks).
    * Refresh cost is |B| x k x dim encode work; the standing corpus is
    * never re-encoded. Check [[PqIndex.needsRetrain]] on long chains. */
  def refreshCodeIndex(index: PqIndex, batch: DataFrame): PqIndex = {
    val codes2 = index.codes.union(encodedWith(batch, index.books)).persist()
    val n2 = codes2.count() / index.m
    index.copy(codes = codes2, nTotal = n2,
      nSinceTrain = index.nSinceTrain + (n2 - index.nTotal))
  }

  /** Drift-triggered RETRAIN of a standing code index: re-train codebooks
    * on the grown corpus and re-encode everything — the rebuild that
    * [[PqIndex.needsRetrain]]'s doubling rule schedules. Unlike the IVF
    * inverted file, PQ codes are LOSSY (the index does not retain the
    * vectors it quantized away — that is the whole point of PQ), so the
    * caller must hand retrain the raw corpus `ledger ∪ every admitted
    * batch`; `retrainCodeIndex(chain, corpus) == buildCodeIndex(corpus)`
    * relation-for-relation (SimilaritySpec pins books + codes; the
    * `ann_pq_retrain` oracle gate replays refresh → retrain → further
    * refresh against a DuckDB rederivation with retrain-point codebooks).
    * Hot swap: the new code relation is materialized (persist + count)
    * before returning, the [[Ivf.retrainIndex]] serve-continuity
    * contract.
    *
    * `k <= 0` (the default) retrains with the INDEX'S OWN codebook size
    * (`books(0).length`), so an index built with non-default k keeps its
    * hyperparameters across the retrain — pass k explicitly only to
    * deliberately re-size the codebooks. */
  def retrainCodeIndex(index: PqIndex, corpus: DataFrame,
                       k: Int = 0): PqIndex = {
    val kEff = if (k > 0) k else index.books(0).length
    val books = codebooks(corpus, index.m, kEff)
    val codes = encodedWith(corpus, books).persist()
    val n = codes.count() / index.m
    PqIndex(books, codes, index.m, n, 0L)
  }

  /** Standing code-index maintenance driver ([[Ivf.maintainIndex]]'s
    * shape): encode the batch under frozen books, then retrain + hot-swap
    * if the drift trigger fires. `corpus` must be the full raw corpus
    * after this batch (ledger ∪ batches — see [[retrainCodeIndex]] for
    * why PQ cannot reconstruct it from the codes); it is only touched
    * when the trigger fires. The passed-in index is the caller's to
    * `release()`; a superseded interim refresh generation is released
    * here. `k <= 0` keeps the index's own codebook size across the
    * retrain (the [[retrainCodeIndex]] hyperparameter rule). */
  def maintainCodeIndex(index: PqIndex, batch: DataFrame, corpus: DataFrame,
                        maxNewFraction: Double = 0.5, k: Int = 0): PqIndex = {
    val refreshed = refreshCodeIndex(index, batch)
    if (refreshed.needsRetrain(maxNewFraction)) {
      val retrained = retrainCodeIndex(refreshed, corpus, k)
      refreshed.release()
      retrained
    } else refreshed
  }

  /** Persist a standing code index under `dir` ([[Ivf.saveIndex]]'s
    * discipline for the codes tier): `codes/` (vec_id-clustered code
    * relation), `books/` (one row per (sub, code, component) codebook
    * cell — array positions are the ids), `meta/` (m + drift counters).
    * The durable generation a served fleet loads; the in-memory
    * [[PqIndex]] stays the hot working set. */
  def saveCodeIndex(index: PqIndex, dir: String, nFiles: Int = 16): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    // generation-versioned ([[IndexGen.publish]]): concurrent writes,
    // then one atomic pointer rename publishes codes/books/meta together
    // — retrain + persist compose
    IndexGen.publish(spark, dir)(
      gen => index.codes
        .repartitionByRange(nFiles, col("vec_id"), col("sub"))
        .sortWithinPartitions("vec_id", "sub")
        .write.mode("overwrite").parquet(s"$gen/codes"),
      gen => (for (s <- index.books.indices; ci <- index.books(s).indices;
            j <- index.books(s)(ci).indices)
          yield (s, ci, j, index.books(s)(ci)(j)))
        .toDF("s", "cid", "j", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/books"),
      gen => Seq((index.m, index.nTotal, index.nSinceTrain))
        .toDF("m", "n_total", "n_since_train")
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/meta"))
  }

  /** Load a [[saveCodeIndex]] directory: `loadCodeIndex(save(idx)) == idx`
    * books-for-books, codes-for-codes and counter-for-counter
    * (SimilaritySpec pins it; the `ann_pq_persisted` oracle gate refreshes
    * on top of a loaded index against the in-memory chain's DuckDB
    * rederivation). */
  def loadCodeIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): PqIndex = {
    val cur = IndexGen.resolve(dir) // ONE generation serves this load
    val meta = spark.read.parquet(s"$cur/meta").head()
    val m = meta.getAs[Int]("m")
    val cells = spark.read.parquet(s"$cur/books").collect()
      .map(r => ((r.getAs[Int]("s"), r.getAs[Int]("cid"), r.getAs[Int]("j")),
        r.getAs[Long]("v"))).toMap
    val nSub = cells.keys.map(_._1).max + 1
    require(nSub == m, s"books relation has $nSub subspaces, meta says $m")
    val books = Array.tabulate(m) { s =>
      val k = cells.keys.collect { case (`s`, ci, _) => ci }.max + 1
      Array.tabulate(k) { ci =>
        val sd = cells.keys.collect { case (`s`, `ci`, j) => j }.max + 1
        Array.tabulate(sd)(j => cells((s, ci, j)))
      }
    }
    val codes = spark.read.parquet(s"$cur/codes")
      .select("vec_id", "sub", "code", "err").persist()
    PqIndex(books, codes, m,
      meta.getAs[Long]("n_total"), meta.getAs[Long]("n_since_train"))
  }

  /** ADC top-k per query: smallest approximate squared distance
    * `sum_s table[q][s][code_s(x)]`, ties to the lower neighbor id. The
    * query set is collected and broadcast (same few-queries/huge-corpus
    * contract and `maxQueryRows` guard as [[Similarity.bruteTopK]]); the
    * corpus side streams as codes only. */
  def adcTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
              m: Int = 8, codebookSize: Int = 16,
              maxQueryRows: Long = 100000L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val books = codebooks(embs, m, codebookSize)
    val sd = books(0)(0).length
    val bcBooks = spark.sparkContext.broadcast(books)
    val querySet = unitPrepared(embs).where(queryPred)
    val nQueries = querySet.count()
    require(nQueries <= maxQueryRows,
      s"adcTopK broadcasts the query set: predicate matched $nQueries " +
        s"rows > maxQueryRows=$maxQueryRows; batch the queries or raise " +
        "the bound explicitly")
    val queries = querySet.collect().sortBy(_.vec_id)
    // per-query ADC lookup tables: exact distance to every codebook entry
    val tables = queries.map { q =>
      Array.tabulate(m)(s => books(s).map(c => sqDist(q.xs, s * sd, c)))
    }
    val qids = queries.map(_.vec_id)
    val bcT = spark.sparkContext.broadcast(tables)
    val partials = unitPrepared(embs).mapPartitions { it =>
      val ts = bcT.value
      // per-query bounded max-heap of (adist, neighbor_id): root = worst kept
      val heaps = qids.map(_ => mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), (Long, Long)](t => (t._1, t._2))))
      it.foreach { v =>
        val (codes, _) = encodeOne(v, bcBooks.value, sd)
        var qi = 0
        while (qi < qids.length) {
          if (qids(qi) != v.vec_id) {
            var ad = 0L
            var s = 0
            while (s < m) { ad += ts(qi)(s)(codes(s)); s += 1 }
            val h = heaps(qi)
            if (h.size < k) h.enqueue((ad, v.vec_id))
            else {
              val worst = h.head
              if (ad < worst._1 || (ad == worst._1 && v.vec_id < worst._2)) {
                h.dequeue(); h.enqueue((ad, v.vec_id))
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (ad, nid) => (qids(qi), nid, ad) }
      }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    partials
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** Exact full-vector squared L2. */
  private def intL2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** IVF-PQ: the composition that IS the production 100 TB ANN index. A
    * coarse quantizer (stride centroids over the unit vectors, exact
    * integer L2 assignment — on unit vectors L2 order equals cosine order)
    * partitions the corpus into `nCoarse` buckets; each vector stores its
    * bucket id plus the PQ codes of its RESIDUAL (v − centroid), which is
    * far better quantizable than v itself (residual energy ≪ vector
    * energy). A query probes its `nprobe` nearest buckets and scores ONLY
    * their members, by per-probe ADC tables built from the query's
    * residual against that bucket's centroid. Every distance in the whole
    * pipeline is exact BIGINT arithmetic — no floating point anywhere —
    * so the oracle re-derives it bit-for-bit.
    *
    * Scale shape: candidate count is bounded by the probed buckets (not
    * the corpus), the scan reads `m` codes + one bucket id per vector, and
    * the coarse/PQ codebooks are broadcast-sized by construction. */
  def ivfPqTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
                nCoarse: Int = 16, nprobe: Int = 4, m: Int = 8,
                codebookSize: Int = 16, refineIters: Int = 2,
                maxQueryRows: Long = 100000L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val unit = unitPrepared(embs)
    val coarse = Ivf.strideSelect(unit, nCoarse).map(_.xs)
    require(coarse.nonEmpty, "IVF-PQ needs a non-empty prepared corpus")
    val dim = coarse(0).length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m subspaces")
    val sd = dim / m
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    def assignCoarse(xs: Array[Long], cs: Array[Array[Long]]): Int = {
      var best = 0
      var bestD = Long.MaxValue
      var ci = 0
      while (ci < cs.length) {
        val d = intL2(xs, cs(ci))
        if (d < bestD) { bestD = d; best = ci } // ties keep the lower cid
        ci += 1
      }
      best
    }
    // residual relation: (coarse bucket, vec_id, v − centroid)
    val resid = unit.map { v =>
      val cs = bcCoarse.value
      val cid = assignCoarse(v.xs, cs)
      val c = cs(cid)
      val r = new Array[Long](v.xs.length)
      var i = 0
      while (i < r.length) { r(i) = v.xs(i) - c(i); i += 1 }
      (cid, v.vec_id, r)
    }
    // residual PQ codebooks: stride init over residuals in vec_id order,
    // then per-subspace exact-integer Lloyd refinement. Unlike the flat-PQ
    // case (clustered corpus -> stride rows are already near cluster
    // modes), residuals are near-isotropic noise around 0: a random
    // residual is a POOR quantizer for another residual, and measured
    // recall collapses without the k-means step (0.48 vs 0.76 reranked).
    val residPrep = resid.map { case (_, id, r) => PreparedVec(id, r, 0L) }
    val books = {
      val cents = Ivf.strideSelect(residPrep, codebookSize)
      val init = Array.tabulate(m)(s => cents.map(_.xs.slice(s * sd, (s + 1) * sd)))
      refineBooks(residPrep, init, sd, refineIters)
    }
    val bcBooks = spark.sparkContext.broadcast(books)
    // queries: probe lists + per-probe ADC tables from the query residual
    val querySet = unit.where(queryPred)
    val nQueries = querySet.count()
    require(nQueries <= maxQueryRows,
      s"ivfPqTopK broadcasts the query set: predicate matched $nQueries " +
        s"rows > maxQueryRows=$maxQueryRows; batch the queries or raise " +
        "the bound explicitly")
    val queries = querySet.collect().sortBy(_.vec_id)
    val qids = queries.map(_.vec_id)
    // tables(qi): probed cid -> [sub][code] exact distance of the query's
    // residual AGAINST THAT BUCKET's centroid to each codebook entry
    val probesAndTables = queries.map { q =>
      val probed = coarse.indices
        .sortBy(ci => (intL2(q.xs, coarse(ci)), ci))
        .take(nprobe)
      probed.map { ci =>
        val c = coarse(ci)
        val qr = new Array[Long](q.xs.length)
        var i = 0
        while (i < qr.length) { qr(i) = q.xs(i) - c(i); i += 1 }
        ci -> Array.tabulate(m)(s => books(s).map(cb => sqDist(qr, s * sd, cb)))
      }.toMap
    }
    val bcT = spark.sparkContext.broadcast(probesAndTables)
    val partials = resid.mapPartitions { it =>
      val ts = bcT.value
      val heaps = qids.map(_ => mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), (Long, Long)](t => (t._1, t._2))))
      it.foreach { case (cid, vid, r) =>
        val (codes, _) = encodeOne(PreparedVec(vid, r, 0L), bcBooks.value, sd)
        var qi = 0
        while (qi < qids.length) {
          if (qids(qi) != vid) {
            ts(qi).get(cid).foreach { table =>
              var ad = 0L
              var s = 0
              while (s < m) { ad += table(s)(codes(s)); s += 1 }
              val h = heaps(qi)
              if (h.size < k) h.enqueue((ad, vid))
              else {
                val worst = h.head
                if (ad < worst._1 || (ad == worst._1 && vid < worst._2)) {
                  h.dequeue(); h.enqueue((ad, vid))
                }
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (ad, nid) => (qids(qi), nid, ad) }
      }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    partials
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** IVF-PQ with the exact-cosine refine step (same contract as
    * [[adcRerankTopK]]): the probed-bucket ADC shortlist is reranked with
    * exact integer-micros cosine. */
  def ivfPqRerankTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
                      shortlist: Int = 50, nCoarse: Int = 16, nprobe: Int = 4,
                      m: Int = 8, codebookSize: Int = 16, refineIters: Int = 2,
                      maxQueryRows: Long = 100000L): DataFrame =
    rerankExact(embs, queryPred,
      ivfPqTopK(embs, queryPred, shortlist, nCoarse, nprobe, m, codebookSize,
        refineIters, maxQueryRows).select(col("query_id"), col("neighbor_id")), k)

  /** Per-subspace exact-integer Lloyd refinement of PQ codebooks (the
    * [[Ivf.refinedCentroids]] shape, m subspaces at once): each iteration
    * is ONE mapPartitions pass emitting at most `m * k` partial
    * (sum, count) rows per partition; the driver merges tiny partials and
    * takes per-component `Math.floorDiv` means (floor, not truncation, so
    * DuckDB's `//` reproduces negative components exactly). Assignment ties
    * keep the lower code; empty cells keep their previous entry. */
  private def refineBooks(residPrep: org.apache.spark.sql.Dataset[PreparedVec],
                          init: Array[Array[Array[Long]]], sd: Int,
                          iters: Int): Array[Array[Array[Long]]] = {
    var books = init
    if (iters <= 0) return books
    val spark = residPrep.sparkSession
    val m = books.length
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val partials = residPrep.rdd.mapPartitions { it =>
        val bs = bc.value
        val kk = bs(0).length
        val sums = Array.fill(m, kk)(new Array[Long](sd))
        val counts = Array.fill(m, kk)(0L)
        it.foreach { v =>
          var s = 0
          while (s < m) {
            val cb = bs(s)
            var best = 0
            var bestD = Long.MaxValue
            var ci = 0
            while (ci < cb.length) {
              val d = sqDist(v.xs, s * sd, cb(ci))
              if (d < bestD) { bestD = d; best = ci }
              ci += 1
            }
            counts(s)(best) += 1
            val acc = sums(s)(best)
            var j = 0
            while (j < sd) { acc(j) += v.xs(s * sd + j); j += 1 }
            s += 1
          }
        }
        (for (s <- 0 until m; ci <- 0 until kk if counts(s)(ci) > 0)
          yield ((s, ci), (sums(s)(ci), counts(s)(ci)))).iterator
      }.collect()
      val merged = partials.groupBy(_._1).map { case (key, ps) =>
        val sum = new Array[Long](sd)
        var cnt = 0L
        ps.foreach { case (_, (sv, c)) =>
          cnt += c
          var j = 0
          while (j < sd) { sum(j) += sv(j); j += 1 }
        }
        key -> sum.map(Math.floorDiv(_, cnt))
      }
      books = Array.tabulate(m)(s => Array.tabulate(books(s).length)(ci =>
        merged.getOrElse((s, ci), books(s)(ci))))
    }
    books
  }

  /** The production PQ search: ADC generates a `shortlist`-sized candidate
    * set per query (codes only — no float vector touched), then ONLY those
    * candidates are reranked with the exact integer-micros cosine. PQ's
    * quantization error decides which ~50 rows get exact scoring, not the
    * final order, so recall approaches brute force while the scan cost
    * stays `m` table lookups per corpus row (the asymmetric refine step of
    * the classic IVFADC pipeline). Output shape matches
    * [[Similarity.bruteTopK]] (`cos_micros` ranking, id tie-break). */
  def adcRerankTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
                    shortlist: Int = 50, m: Int = 8, codebookSize: Int = 16,
                    maxQueryRows: Long = 100000L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    rerankExact(embs, queryPred,
      adcTopK(embs, queryPred, shortlist, m, codebookSize, maxQueryRows)
        .select(col("query_id"), col("neighbor_id")), k)
  }

  /** Exact-cosine rerank of a small `(query_id, neighbor_id)` candidate
    * relation: candidates broadcast-join back to the prepared corpus,
    * scored with the original (non-unit) integer micros — cosine is
    * scale-invariant, and this matches [[Similarity.bruteTopK]]'s
    * arithmetic exactly. */
  private def rerankExact(embs: DataFrame, queryPred: Column,
                          cand: DataFrame, k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val queries = Similarity.prepared(embs).where(queryPred)
      .as[PreparedVec].collect().map(q => q.vec_id -> q).toMap
    val bcQ = spark.sparkContext.broadcast(queries)
    val prep = Similarity.prepared(embs)
    val scored = prep
      .join(broadcast(cand), prep("vec_id") === cand("neighbor_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("xs"), col("norm2"))
      .as[(Long, Long, Array[Long], Long)]
      .map { case (qid, nid, xs, n2) =>
        val q = bcQ.value(qid)
        (qid, nid, Similarity.cosDouble(Similarity.dot(q.xs, xs), q.norm2, n2))
      }
      .toDF("query_id", "neighbor_id", "cos")
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 1000000).cast("long").as("cos_micros"))
  }
}
