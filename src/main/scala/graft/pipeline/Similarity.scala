package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Determinism strategy: embeddings are scaled to integer micros per
  * component (`floor(v * 1e6)`); dot products and squared norms are then
  * *exact* BIGINT arithmetic, and the cosine ordering key is built from
  * exact integers with only IEEE-deterministic double ops (sqrt, divide) —
  * identical in Spark and DuckDB regardless of evaluation order.
  *
  * Execution strategy: the per-pair inner product runs as a tight primitive
  * loop inside `mapPartitions` against a broadcast of the (small) prepared
  * side — the same shape Spark uses for broadcast joins, ~10x faster than
  * interpreted higher-order-function evaluation per pair. The *candidate*
  * side stays fully distributed, so the operators scale with the corpus:
  * `bruteTopK` broadcasts only the query set; `lshNearDup` is the 100 TB
  * path (sign-random-projection buckets bound the candidate pairing).
  */
object Similarity {

  final case class PreparedVec(vec_id: Long, xs: Array[Long], norm2: Long)
  final case class PairRow(vec_a: Long, vec_b: Long, dot: Long, n_a: Long, n_b: Long)
  final case class TopKRow(query_id: Long, neighbor_id: Long, cos: Double)

  /** Integer-micros view of a float vector (exact from here on). */
  def scaledVec(emb: Column): Column =
    transform(emb, v => floor(v.cast("double") * 1000000).cast("long"))

  /** Exact BIGINT dot product of two scaled vectors (declarative
    * higher-order fallback form). */
  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Dot product via the native codegen'd [[graft.functions.LongArrayDot]]
    * when the GraftExtensions function is registered in the session, else
    * the interpreted higher-order fallback (identical values). */
  def nativeDot(spark: SparkSession, a: Column, b: Column): Column =
    if (spark.catalog.functionExists("graft_dot")) call_function("graft_dot", a, b)
    else dotLong(a, b)

  /** Embeddings with scaled vector + exact squared norm, zero vectors
    * dropped (cosine undefined). */
  def prepared(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), scaledVec(col("embedding")).as("xs"))
      .withColumn("norm2", nativeDot(embs.sparkSession, col("xs"), col("xs")))
      .where(col("norm2") > 0)

  /** Exact integer dot product over the common prefix of `a` and `b`. */
  private[graft] def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact `cos >= tauPct/100` via cross-multiplied squares — double
    * fast-path with a BigInt decision only at the boundary, so the result
    * is exactly the integer rule the DuckDB oracle evaluates in HUGEINT. */
  private def cosAtLeast(d: Long, n1: Long, n2: Long, tauPct: Int): Boolean = {
    if (d < 0) false
    else {
      val lhs = d.toDouble * d.toDouble * 10000.0
      val rhs = n1.toDouble * n2.toDouble * (tauPct.toLong * tauPct)
      if (lhs > rhs * (1 + 1e-9)) true
      else if (lhs < rhs * (1 - 1e-9)) false
      else BigInt(d) * BigInt(d) * 10000 >= BigInt(n1) * BigInt(n2) * (tauPct * tauPct)
    }
  }

  /** IEEE-deterministic cosine from exact integers. */
  private[graft] def cosDouble(d: Long, n1: Long, n2: Long): Double =
    d.toDouble / (math.sqrt(n1.toDouble) * math.sqrt(n2.toDouble))

  /** Exact near-duplicate pairs with cosine >= tauPct/100. Brute-force
    * baseline: one side broadcast, the other streamed — the LSH variant is
    * the scale path. The broadcast side is guarded by `maxBroadcastRows`:
    * a corpus past that bound fails fast with a pointer to [[lshNearDup]]
    * instead of OOM-ing the driver mid-collect. */
  def nearDupExact(embs: DataFrame, tauPct: Int = 95,
                   maxBroadcastRows: Long = 1000000L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val prep = prepared(embs).as[PreparedVec]
    val n = prep.count()
    require(n <= maxBroadcastRows,
      s"nearDupExact is the brute-force baseline: corpus has $n prepared " +
        s"vectors > maxBroadcastRows=$maxBroadcastRows; use lshNearDup for " +
        "corpora past broadcast scale")
    val bc = spark.sparkContext.broadcast(prep.collect().sortBy(_.vec_id))
    prep.mapPartitions { it =>
      val all = bc.value
      it.flatMap { a =>
        // only pairs with vec_b > vec_a; binary search the start offset
        var lo = 0; var hi = all.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (all(mid).vec_id <= a.vec_id) lo = mid + 1 else hi = mid
        }
        (lo until all.length).iterator.flatMap { j =>
          val b = all(j)
          val d = dot(a.xs, b.xs)
          if (cosAtLeast(d, a.norm2, b.norm2, tauPct))
            Some(PairRow(a.vec_id, b.vec_id, d, a.norm2, b.norm2))
          else None
        }
      }
    }.toDF()
  }

  /** Brute-force cosine top-k per query vector: queries broadcast, per-
    * partition top-k heaps, final exact rank over the tiny partials. */
  def bruteTopK(embs: DataFrame, queryPred: Column, k: Int = 5,
                maxQueryRows: Long = 100000L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val prep = prepared(embs).as[PreparedVec]
    val querySet = prepared(embs).where(queryPred)
    val nQueries = querySet.count()
    // same guard as Ivf.searchTopK: the few-queries/huge-corpus shape
    // collects the query side — fail fast on a corpus-sized predicate
    require(nQueries <= maxQueryRows,
      s"bruteTopK broadcasts the query set: predicate matched $nQueries " +
        s"rows > maxQueryRows=$maxQueryRows; batch the queries or raise " +
        "the bound explicitly")
    val queries = spark.sparkContext.broadcast(
      querySet.as[PreparedVec].collect())
    val partials = prep.mapPartitions { it =>
      val qs = queries.value
      // per-query bounded min-heap of (cos, neighbor_id)
      val heaps = qs.map(_ => mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))))
      it.foreach { c =>
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          if (q.vec_id != c.vec_id) {
            val cos = cosDouble(dot(q.xs, c.xs), q.norm2, c.norm2)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((cos, c.vec_id))
            else {
              val worst = h.head
              if (cos > worst._1 || (cos == worst._1 && c.vec_id < worst._2)) {
                h.dequeue(); h.enqueue((cos, c.vec_id))
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (cos, nid) => TopKRow(qs(qi).vec_id, nid, cos) }
      }
    }
    partials.toDF()
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 1000000).cast("long").as("cos_micros"))
  }

  /** Int8 max-abs quantization summaries per vector, in exact integer
    * arithmetic: `qi = ((x + maxabs) * 254) div (2 * maxabs) - 127` over
    * integer micros — the shifted numerator is non-negative, so Spark's
    * truncating `div` and DuckDB's floor `//` agree. Emits scalar summaries
    * (the checksum is position-weighted, so any misquantized component
    * changes it); the full int8 array is a projection away for a real
    * writer. */
  def quantizeStats(embs: DataFrame): DataFrame =
    prepared(embs)
      .withColumn("maxabs",
        expr("aggregate(xs, CAST(0 AS BIGINT), (m, x) -> greatest(m, abs(x)))"))
      .withColumn("q",
        expr("transform(xs, x -> ((x + maxabs) * 254) div (2 * maxabs) - 127)"))
      .selectExpr("vec_id", "maxabs AS maxabs_micros",
        "array_min(q) AS q_min", "array_max(q) AS q_max",
        "aggregate(zip_with(q, sequence(1, size(q)), (qi, i) -> qi * CAST(i AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x) AS q_checksum")

  /** Per-dimension corpus statistics of the scaled (integer-micros)
    * embeddings — `dim, n, min, max, sum, mean` — the normalization /
    * range-audit pass a training pipeline runs before quantization or
    * whitening (and the input a per-dim scaler broadcasts back).
    *
    * Scale shape: `posexplode` is narrow (dims rows per vector emitted
    * inside the scan stage), and the `groupBy(dim)` hash aggregate
    * combines map-side, so the single exchange carries dims x partitions
    * partial rows — never n_vecs x dims. Sums are exact BIGINT micros:
    * components are bounded by ~2^21 micros, leaving ~2^42 vectors per
    * dimension of headroom — comfortably past 100 TB. (A sum of SQUARES
    * would not fit; a variance variant belongs in decimal(38)
    * accumulation, deliberately not this operator.) Mean is the shared
    * `floor(sum/count)` double-division spelling, exact while |sum| <
    * 2^53 and floor-consistent with the oracle for negative sums. */
  def dimStats(embs: DataFrame): DataFrame =
    embs
      .select(posexplode(scaledVec(col("embedding"))).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), min("v").as("min_micros"),
        max("v").as("max_micros"), sum("v").as("sum_micros"))
      .withColumn("mean_micros",
        floor(col("sum_micros") / col("n")).cast("long"))

  /** The p-th deterministic ±1 hyperplane — public so the DuckDB oracle can
    * embed the identical literals and reproduce bucketing exactly.
    *
    * Derived from md5, NOT from the shared LCG's low bit: with both LCG
    * multiplier and increment odd, `lcg(x) % 2` strictly alternates with x,
    * which made every "random" hyperplane the same alternating ±1 vector —
    * all sign bits collapsed to ONE projection and the whole corpus landed
    * in 2 buckets (found in round 4; the md5 planes are balanced with low
    * cross-plane correlation). The literals are embedded in the oracle SQL,
    * so only the Scala-side derivation quality matters. */
  def srpPlane(p: Int, dim: Int): IndexedSeq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map(i => if (Dedup.md5Top60(md, s"srp:$p:$i") % 2 == 0) 1L else -1L)
  }

  /** Sign-random-projection bucket key: `planes` sign bits of LCG-derived
    * hyperplane dots. */
  def srpBucket(xs: Column, dim: Int, planes: Int = 12): Column = {
    val bits = (0 until planes).map { p =>
      val plane = array(srpPlane(p, dim).map(lit): _*)
      when(dotLong(xs, plane) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Number of hyperplanes sized to the corpus: expected bucket size is
    * `n / 2^planes`, so `planes = ceil(log2(n / targetBucket))` keeps the
    * within-bucket all-pairs work constant per bucket as the corpus grows
    * (clamped to [4, 30]). Callers at a fixed test SF pass an explicit
    * `planes` for oracle reproducibility. */
  def planesFor(n: Long, targetBucket: Int = 32): Int = {
    val buckets = math.max(1L, n / math.max(1, targetBucket))
    math.min(30, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** *Banded* SRP near-dup pairs (same exact integer accept rule as
    * [[nearDupExact]], restricted to within-bucket candidates): `bands`
    * independent sign-bucket families of `planesPerBand` hyperplanes each;
    * a pair becomes a candidate when ANY band agrees on all its bits —
    * the same band/row trade MinHash uses, which is what gives LSH usable
    * recall at loose thresholds (a single wide sign code has recall
    * `p^planes`, the banded form `1-(1-p^r)^B`).
    *
    * `planesPerBand <= 0` sizes itself from the corpus via [[planesFor]],
    * so per-band occupancy stays ~constant as the corpus grows.
    * `maxBucket` caps degenerate buckets — an oversized bucket is dropped
    * (cost O(cap), not O(bucket²), per task); the DuckDB oracle applies the
    * identical size filter. Candidate pairing runs per (band, key) group
    * via flatMapGroups, so join fan-out is bounded by bucket size at any
    * corpus size.
    *
    * Every dropped bucket is counted in named `LongAccumulator`s
    * (`graft.lshNearDup.dropped_buckets` / `.dropped_docs`, visible in the
    * Spark UI; pass `droppedBuckets` / `droppedDocs` to read them
    * programmatically, as SimilaritySpec does) — the same two-metric shape
    * as the Dedup capBuckets sites, so a few huge dropped buckets and many
    * tiny ones are distinguishable here too. The doc count is the *capped*
    * size (at most maxBucket+1 per bucket): the iterator is never drained
    * past the cap, so the true size of a giant bucket is deliberately not
    * measured. The cap is deterministic and oracle-mirrored, but was
    * previously *invisible at runtime* — a degenerate hyperplane family
    * collapsing everything into a few giant (dropped) buckets produced a
    * silent 0-pair result. Accumulator counts can over-report under task
    * retries or speculation; they are observability, not a correctness
    * output. */
  def lshNearDup(embs: DataFrame, dim: Int, tauPct: Int = 95,
                 bands: Int = 8, planesPerBand: Int = 0,
                 maxBucket: Int = 64,
                 droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None,
                 droppedDocs: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dropAcc = droppedBuckets.getOrElse(
      spark.sparkContext.longAccumulator("graft.lshNearDup.dropped_buckets"))
    val docAcc = droppedDocs.getOrElse(
      spark.sparkContext.longAccumulator("graft.lshNearDup.dropped_docs"))
    val prep = prepared(embs)
    // sizing only needs the order of magnitude: the RAW count (a
    // metadata-only count-star on parquet sources) avoids running the
    // norm computation of prepared() just to pick a band width
    val r =
      if (planesPerBand > 0) planesPerBand
      else planesFor(embs.count())
    // all band keys in one projection; posexplode -> (band, key) rows
    val bandKeys = array((0 until bands).map { b =>
      val bits = (0 until r).map { j =>
        val plane = array(srpPlane(b * r + j, dim).map(lit): _*)
        when(dotLong(col("xs"), plane) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }: _*)
    prep.select(col("vec_id"), col("xs"), col("norm2"),
        posexplode(bandKeys).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("vec_id"), col("xs"), col("norm2"))
      .as[(Int, Long, Long, Array[Long], Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_, it) =>
        // consume at most maxBucket+1 rows: oversized buckets cost O(cap),
        // not O(bucket), and are dropped deterministically
        val rows = it.take(maxBucket + 1).toArray
        if (rows.length > maxBucket) {
          dropAcc.add(1L); docAcc.add(rows.length.toLong); Iterator.empty
        }
        else {
          val sorted = rows.sortBy(_._3)
          for {
            i <- sorted.indices.iterator
            j <- (i + 1 until sorted.length).iterator
            d = dot(sorted(i)._4, sorted(j)._4)
            if cosAtLeast(d, sorted(i)._5, sorted(j)._5, tauPct)
          } yield (sorted(i)._3, sorted(j)._3, d)
        }
      }
      .toDF("vec_a", "vec_b", "dot")
      .distinct()
  }

  /** SemDeDup — semantic deduplication via within-cluster cosine pruning
    * (Abbas et al., "SemDeDup: Data-efficient learning at web scale through
    * semantic deduplication", 2023). K-means-cluster the embedding space
    * with the same deterministic Lloyd machinery the IVF index uses
    * ([[Ivf.refinedCentroids]] / [[Ivf.assigned]]), then within each
    * cluster drop every vector that has an *earlier* (lower vec_id)
    * cluster-mate at cosine >= tauPct/100. One verdict row per vector:
    * `(vec_id, centroid_id, keep)`.
    *
    * Keep rule: the paper keeps one member per within-cluster duplicate
    * group (random, or farthest from the centroid); this implementation
    * keeps the lowest vec_id of any near-dup pair — a vector is dropped iff
    * ANY earlier cluster-mate is within tau, whether or not that mate
    * itself survives. That dominance form is deterministic, order-free, and
    * exactly re-derivable by the SQL oracle (an `EXISTS` against the pair
    * relation), unlike the paper's random representative.
    *
    * Scale shape: the quadratic comparison never crosses a cluster
    * boundary — (n/k)² work per cluster, and k grows with the corpus so
    * cluster size (the real knob) stays bounded; clustering first is the
    * whole point of SemDeDup. ONE shuffle (groupByKey on centroid id), and
    * each cluster's verdicts are emitted straight from its group iterator:
    * no pair relation is ever materialized, no `distinct`, no join back.
    * Per-pair work is the same primitive-loop exact-integer kernel as
    * [[nearDupExact]] (double fast path, BigInt only at the boundary), with
    * an early exit at the first earlier near-dup. `maxClusterSize` fails
    * fast on a degenerate clustering — a silent mega-cluster would be
    * O(n²); at scale raise `nCentroids`, not the cap. */
  def semDedup(embs: DataFrame, tauPct: Int = 40, nCentroids: Int = 16,
               refineIters: Int = 2, maxClusterSize: Int = 100000): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = Ivf.refinedCentroids(embs, nCentroids, refineIters)
    Ivf.assigned(embs, cents)
      .as[(Int, Long, Array[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.take(maxClusterSize + 1).toArray
        require(rows.length <= maxClusterSize,
          s"semDedup: cluster $cid exceeds maxClusterSize=$maxClusterSize; " +
            "raise nCentroids — cluster size, not corpus size, bounds the " +
            "quadratic pruning work")
        val sorted = rows.sortBy(_._2)
        sorted.indices.iterator.map { j =>
          val b = sorted(j)
          var dup = false
          var i = 0
          while (!dup && i < j) {
            val a = sorted(i)
            dup = cosAtLeast(dot(a._3, b._3), a._4, b._4, tauPct)
            i += 1
          }
          (b._2, cid.toLong, !dup)
        }
      }
      .toDF("vec_id", "centroid_id", "keep")
  }

  /** Per-cluster prototypicality rank — the scoring pass of
    * prototype-based data pruning (Sorscher et al., "Beyond neural scaling
    * laws: beating power law scaling via data pruning", NeurIPS 2022):
    * every vector's cosine to its own k-means centroid, floored to integer
    * micros, ranked within the cluster (rank 1 = most prototypical). A
    * pruning pipeline drops the top-ranked (most redundant) fraction of
    * each cluster when data is abundant, the bottom-ranked (hardest /
    * noisiest) fraction when it is scarce; this operator emits the full
    * ranking and leaves the cut to the caller.
    *
    * Ordering is on the FLOORED integer (`proto_micros`), not the raw
    * double, with vec_id as the tiebreak — so the rank is exactly
    * re-derivable by the oracle and stable across engines.
    *
    * Scale shape: centroids are k driver-side vectors broadcast into a
    * narrow join (no shuffle for the scoring), then one rank window
    * partitioned by centroid id. Window parallelism is k — size k to the
    * fleet exactly as IVF does; per-cluster sort input is (n/k) rows of
    * three numeric columns, and WindowGroupLimit does not apply because the
    * full ranking (not a top-k) is the product. */
  def prototypicality(embs: DataFrame, nCentroids: Int = 16,
                      refineIters: Int = 2): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = Ivf.refinedCentroids(embs, nCentroids, refineIters)
    val centDf = cents.toSeq.toDF()
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("xs").as("cxs"), col("norm2").as("cnorm2"))
    Ivf.assigned(embs, cents)
      .join(broadcast(centDf), "centroid_id")
      .withColumn("proto_micros",
        floor(nativeDot(spark, col("xs"), col("cxs")).cast("double")
          / (sqrt(col("norm2").cast("double")) * sqrt(col("cnorm2").cast("double")))
          * 1000000).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("centroid_id")
          .orderBy(col("proto_micros").desc, col("vec_id"))))
      .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"),
        col("proto_micros"), col("rk"))
  }
}
