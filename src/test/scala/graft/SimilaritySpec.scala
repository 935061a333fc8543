package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def vec(v: Double*): Array[Float] = v.map(_.toFloat).toArray

  // 1 and 2 nearly identical; 3 scaled copy of 1 (cosine 1); 4 orthogonal;
  // 5 opposite direction.
  private val embs = Seq(
    (1L, vec(1, 0, 0, 0, 1, 0, 0, 1), 0),
    (2L, vec(1, 0.01, 0, 0, 1, 0, 0, 0.99), 0),
    (3L, vec(2, 0, 0, 0, 2, 0, 0, 2), 0),
    (4L, vec(0, 1, 0, 1, 0, 1, 0, 0), 1),
    (5L, vec(-1, 0, 0, 0, -1, 0, 0, -1), 1))
    .toDF("vec_id", "embedding", "label")

  test("exact near-dup finds high-cosine pairs only") {
    val pairs = Similarity.nearDupExact(embs, tauPct = 95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L))) // scale-invariant
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // negative dot
  }

  test("dimStats matches the per-dimension model, floors negative means") {
    val df = Seq(
      (1L, vec(0.5, -0.25)),
      (2L, vec(1.0, 0.75)),
      (3L, vec(-0.5, -1.0))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(df).orderBy("dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0, 3L, -500000L, 1000000L, 1000000L, 333333L),
      // sum -500000 over 3: floor(-166666.67) = -166667, not trunc -166666
      (1, 3L, -1000000L, 750000L, -500000L, -166667L)))
  }

  test("dimStats plans one map-side-combined exchange, nothing else") {
    val plan = Similarity.dimStats(embs).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, s"one exchange expected:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial + final aggregate expected:\n$plan")
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val rows = Similarity.bruteTopK(embs, col("vec_id") === 1L, k = 4).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("cos_micros")))
    assert(rows.length == 4)
    // cosine(1,3) = 1 exactly > cosine(1,2) > cosine(1,4) = 0 > cosine(1,5) = -1
    assert(rows.map(_._2).toSeq == Seq(3L, 2L, 4L, 5L))
    assert(rows.head._3 >= 999999) // cos ~ 1.0
    assert(rows.last._3 == -1000000)
  }

  test("LSH near-dup recalls the exact pairs on identical-direction vectors") {
    val exact = Similarity.nearDupExact(embs, tauPct = 95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDup(embs, dim = dim, tauPct = 95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical-direction vectors always share every sign bucket
    assert(lsh.contains((1L, 3L)))
    assert(lsh.subsetOf(exact)) // LSH never invents pairs (same decision rule)
  }

  test("banded LSH recalls a real fraction of brute pairs on real embeddings") {
    // regression guard for the r4 srpPlane degeneracy: with collapsed
    // hyperplanes the capped LSH path silently returned 0 pairs while the
    // oracle agreed (shared literals). Assert real recall against the
    // brute-force twin on the actual fixture distribution.
    val real = Tables.embeddings(spark, "/root/testdata/sf0.01")
    // the embedding_neardup_lsh ORACLE hardcodes planesFor(500); the Spark
    // side auto-sizes from the raw corpus count — pin their agreement here
    // so a fixture change fails a spec instead of the hash gate
    assert(Similarity.planesFor(real.count()) == Similarity.planesFor(500L))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.nearDupExact(real, tauPct = 40))
    val lsh = pairSet(Similarity.lshNearDup(real, dim = 64, tauPct = 40))
    assert(exact.size >= 50, s"fixture changed? brute pairs=${exact.size}")
    assert(lsh.subsetOf(exact), "LSH must never invent pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (${lsh.size}/${exact.size})")
    // bucket spread sanity: candidates cannot all come from one projection
    val buckets = Similarity.prepared(real)
      .withColumn("b", Similarity.srpBucket(org.apache.spark.sql.functions.col("xs"), 64, 12))
      .select("b").distinct().count()
    assert(buckets > 16, s"sign buckets collapsed to $buckets values")
  }

  test("IVF probes recover most of the brute-force top-k on real embeddings") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.bruteTopK(real, pred, k = 5))
    val ivf = asSet(graft.pipeline.Ivf.searchTopK(real, pred, k = 5,
      nCentroids = 16, nprobe = 6))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(exact.nonEmpty)
    assert(recall >= 0.5, s"recall=$recall exact=${exact.size} hit=${(exact & ivf).size}")
    // determinism: same call, same result
    assert(ivf == asSet(graft.pipeline.Ivf.searchTopK(real, pred, k = 5,
      nCentroids = 16, nprobe = 6)))
  }

  test("IVF search guard: fails at maxQueryRows + 1 query rows, by name, " +
      "and serves exactly maxQueryRows") {
    val pred = col("vec_id") <= 3L
    val m = Similarity.prepared(embs).where(pred).count()
    assert(m == 3L)
    def search(bound: Long) = graft.pipeline.Ivf.searchTopK(embs, pred, k = 2,
      nCentroids = 2, maxQueryRows = bound)
    val e = intercept[IllegalArgumentException](search(m - 1))
    assert(e.getMessage == "requirement failed: IVF search broadcasts the query " +
      s"set: predicate matched $m rows > maxQueryRows=${m - 1}; batch the " +
      "queries or raise the bound explicitly for a corpus-scale join")
    assert(search(m).collect().toSet == search(100000L).collect().toSet)
  }

  test("IVF standing index: refresh == rebuild under frozen centroids, " +
      "drift bookkeeping drives the retrain trigger") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ledger = real.where(col("vec_id") % 10 < 5)
    val batch = real.where(col("vec_id") % 10 >= 5)
    val built = graft.pipeline.Ivf.buildIndex(ledger, nCentroids = 16)
    assert(built.nSinceTrain == 0L && !built.needsRetrain())
    val refreshed = graft.pipeline.Ivf.refreshIndex(built, batch)
    // relation-for-relation: the refreshed inverted file equals assigning
    // the FULL corpus under the ledger-trained frozen centroids
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = graft.pipeline.Ivf.assigned(real, built.cents)
    assert(asMap(refreshed.inv) == asMap(rebuilt))
    // drift bookkeeping: exactly the batch's prepared rows count as new,
    // and the doubling-rule trigger fires once new >= half the index
    val nLedger = Similarity.prepared(ledger).count()
    val nBatch = Similarity.prepared(batch).count()
    assert(refreshed.nTotal == nLedger + nBatch)
    assert(refreshed.nSinceTrain == nBatch)
    assert(refreshed.needsRetrain() ==
      (nBatch.toDouble / (nLedger + nBatch) >= 0.5))
    assert(refreshed.needsRetrain(maxNewFraction = 0.01))
    // a full-corpus standing index serves the one-shot searchTopK results
    val pred = col("vec_id") % 100 === 0
    val full = graft.pipeline.Ivf.buildIndex(real, nCentroids = 16)
    val viaIndex = graft.pipeline.Ivf
      .searchIndexTopK(full, pred, k = 5, nprobe = 6).collect().toSet
    val oneShot = graft.pipeline.Ivf
      .searchTopK(real, pred, k = 5, nCentroids = 16, nprobe = 6)
      .collect().toSet
    assert(viaIndex == oneShot)
    built.release(); refreshed.release(); full.release()
  }

  test("IVF drift-triggered retrain hot-swaps to an index equal to a " +
      "from-scratch build, and search holds across the swap boundary") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ledger = real.where(col("vec_id") % 10 < 3)
    val batch1 = real.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6)
    val batch2 = real.where(col("vec_id") % 10 >= 6)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def centsEq(a: Array[graft.pipeline.Similarity.PreparedVec],
                b: Array[graft.pipeline.Similarity.PreparedVec]) =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.xs.sameElements(y.xs) && x.norm2 == y.norm2 }

    // below the threshold, maintenance is a plain refresh: centroids
    // frozen, drift bookkeeping advances
    val built = graft.pipeline.Ivf.buildIndex(ledger)
    val kept = graft.pipeline.Ivf.maintainIndex(built, batch1,
      maxNewFraction = 0.9)
    assert(centsEq(kept.cents, built.cents) && kept.nSinceTrain > 0L)
    kept.release()

    // at the threshold the trigger fires: the swapped-in generation equals
    // buildIndex on the union — centroid-for-centroid (including the
    // auto-resize to the grown corpus) and row-for-row — with drift reset
    val retrained = graft.pipeline.Ivf.maintainIndex(built, batch1,
      maxNewFraction = 0.4)
    built.release()
    val fromScratch = graft.pipeline.Ivf.buildIndex(
      real.where(col("vec_id") % 10 < 6))
    assert(retrained.nSinceTrain == 0L)
    assert(centsEq(retrained.cents, fromScratch.cents))
    assert(asMap(retrained.inv) == asMap(fromScratch.inv))
    assert(retrained.nTotal == fromScratch.nTotal)

    // serve-continuity across the NEXT boundary: a further refresh onto
    // the retrained generation answers queries exactly as the
    // build-then-refresh index over the same corpus split does
    val served = graft.pipeline.Ivf.refreshIndex(retrained, batch2)
    retrained.release()
    val twin = graft.pipeline.Ivf.refreshIndex(fromScratch, batch2)
    fromScratch.release()
    val pred = col("vec_id") % 100 === 0
    val a = graft.pipeline.Ivf.searchIndexTopK(served, pred).collect().toSet
    val b = graft.pipeline.Ivf.searchIndexTopK(twin, pred).collect().toSet
    assert(a == b && a.nonEmpty)
    served.release(); twin.release()

    // the Lloyd-refined retrain path: retraining off the inverted file
    // with k-means iterations equals the from-scratch refined build —
    // the training SAMPLE (Bresenham slice) and both Lloyd passes must
    // re-derive identically from the index's stored prepared vectors
    val chain = graft.pipeline.Ivf.refreshIndex(
      graft.pipeline.Ivf.buildIndex(ledger, nCentroids = 16), batch1)
    val rk = graft.pipeline.Ivf.retrainIndex(chain,
      nCentroids = 16, refineIters = 2)
    chain.release()
    val fk = graft.pipeline.Ivf.buildIndex(
      real.where(col("vec_id") % 10 < 6), nCentroids = 16, refineIters = 2)
    assert(centsEq(rk.cents, fk.cents))
    assert(asMap(rk.inv) == asMap(fk.inv))
    rk.release(); fk.release()
  }

  test("IVF and PQ index persistence round-trips exactly: relations, " +
      "trained state, drift counters, and refresh-on-loaded behavior") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ledger = real.where(col("vec_id") % 10 < 5)
    val batch = real.where(col("vec_id") % 10 >= 5)

    // IVF: save -> load equals the original index in every observable
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val built = graft.pipeline.Ivf.buildIndex(ledger)
    graft.pipeline.Ivf.saveIndex(built, ivfDir)
    val loaded = graft.pipeline.Ivf.loadIndex(spark, ivfDir)
    assert(loaded.cents.length == built.cents.length)
    assert(loaded.cents.zip(built.cents).forall { case (a, b) =>
      a.xs.sameElements(b.xs) && a.norm2 == b.norm2 && a.vec_id == b.vec_id })
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asMap(loaded.inv) == asMap(built.inv))
    assert(loaded.nTotal == built.nTotal &&
      loaded.nSinceTrain == built.nSinceTrain)
    // refresh chains resume identically on the loaded generation
    val rA = graft.pipeline.Ivf.refreshIndex(built, batch)
    val rB = graft.pipeline.Ivf.refreshIndex(loaded, batch)
    assert(asMap(rA.inv) == asMap(rB.inv))
    assert(rA.nSinceTrain == rB.nSinceTrain && rA.nTotal == rB.nTotal)
    val pred = col("vec_id") % 100 === 0
    assert(graft.pipeline.Ivf.searchIndexTopK(rA, pred).collect().toSet ==
      graft.pipeline.Ivf.searchIndexTopK(rB, pred).collect().toSet)
    built.release(); loaded.release(); rA.release(); rB.release()

    // PQ: books, codes, and counters round-trip; refresh encodes the
    // batch under the PERSISTED frozen books
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    val pqBuilt = graft.pipeline.Pq.buildCodeIndex(ledger)
    graft.pipeline.Pq.saveCodeIndex(pqBuilt, pqDir)
    val pqLoaded = graft.pipeline.Pq.loadCodeIndex(spark, pqDir)
    assert(pqLoaded.m == pqBuilt.m)
    assert(pqLoaded.books.length == pqBuilt.books.length)
    assert(pqLoaded.books.zip(pqBuilt.books).forall { case (sa, sb) =>
      sa.zip(sb).forall { case (ca, cb) => ca.sameElements(cb) } })
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(asSet(pqLoaded.codes) == asSet(pqBuilt.codes))
    assert(pqLoaded.nTotal == pqBuilt.nTotal &&
      pqLoaded.nSinceTrain == pqBuilt.nSinceTrain)
    val pA = graft.pipeline.Pq.refreshCodeIndex(pqBuilt, batch)
    val pB = graft.pipeline.Pq.refreshCodeIndex(pqLoaded, batch)
    assert(asSet(pA.codes) == asSet(pB.codes))
    pqBuilt.release(); pqLoaded.release(); pA.release(); pB.release()
  }

  test("PQ drift-triggered retrain == buildCodeIndex on the grown corpus, " +
      "books and codes; maintenance below threshold keeps frozen books") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ledger = real.where(col("vec_id") % 10 < 3)
    val batch1 = real.where(col("vec_id") % 10 >= 3 && col("vec_id") % 10 < 6)
    val union = real.where(col("vec_id") % 10 < 6)
    def booksEq(a: Array[Array[Array[Long]]], b: Array[Array[Array[Long]]]) =
      a.length == b.length && a.zip(b).forall { case (sa, sb) =>
        sa.length == sb.length && sa.zip(sb).forall { case (ca, cb) =>
          ca.sameElements(cb) } }
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    val built = graft.pipeline.Pq.buildCodeIndex(ledger)
    val kept = graft.pipeline.Pq.maintainCodeIndex(built, batch1, union,
      maxNewFraction = 0.9)
    assert(booksEq(kept.books, built.books) && kept.nSinceTrain > 0L)
    kept.release()

    val retrained = graft.pipeline.Pq.maintainCodeIndex(built, batch1, union,
      maxNewFraction = 0.4)
    built.release()
    val fromScratch = graft.pipeline.Pq.buildCodeIndex(union)
    assert(retrained.nSinceTrain == 0L)
    assert(booksEq(retrained.books, fromScratch.books))
    assert(asSet(retrained.codes) == asSet(fromScratch.codes))
    assert(retrained.nTotal == fromScratch.nTotal)
    retrained.release(); fromScratch.release()
  }

  test("k-means-refined IVF matches brute recall and actually moves centroids") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.bruteTopK(real, pred, k = 5))
    val strideIvf = asSet(graft.pipeline.Ivf.searchTopK(real, pred, k = 5,
      nCentroids = 16, nprobe = 6))
    val kmeansIvf = asSet(graft.pipeline.Ivf.searchTopK(real, pred, k = 5,
      nCentroids = 16, nprobe = 6, refineIters = 2))
    val strideRecall = (exact & strideIvf).size.toDouble / exact.size
    val kmeansRecall = (exact & kmeansIvf).size.toDouble / exact.size
    assert(kmeansRecall >= 0.5, s"kmeans recall=$kmeansRecall")
    // Lloyd rounds adapt buckets to the distribution — allow noise but the
    // refinement must not collapse recall below the naive init
    assert(kmeansRecall >= strideRecall - 0.1,
      s"kmeans=$kmeansRecall stride=$strideRecall")
    // the refinement must actually move centroids off the stride init
    val init = graft.pipeline.Ivf.centroids(real, 16)
    val refined = graft.pipeline.Ivf.refinedCentroids(real, 16, iters = 2)
    assert(refined.zip(init).exists { case (r, i) => !r.xs.sameElements(i.xs) })
    // determinism: same call, same centroids and same results
    val again = graft.pipeline.Ivf.refinedCentroids(real, 16, iters = 2)
    assert(refined.zip(again).forall { case (a, b) =>
      a.xs.sameElements(b.xs) && a.norm2 == b.norm2 })
    assert(kmeansIvf == asSet(graft.pipeline.Ivf.searchTopK(real, pred, k = 5,
      nCentroids = 16, nprobe = 6, refineIters = 2)))
  }

  test("PQ standing code index: refresh == encode-all under frozen codebooks") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ledger = real.where(col("vec_id") % 10 < 5)
    val batch = real.where(col("vec_id") % 10 >= 5)
    val built = graft.pipeline.Pq.buildCodeIndex(ledger)
    val refreshed = graft.pipeline.Pq.refreshCodeIndex(built, batch)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // refresh == encoding the FULL corpus under the ledger-trained frozen
    // books, relation-for-relation — which differs from a full retrain
    // (different stride sample), pinning that refresh did NOT retrain
    assert(asSet(refreshed.codes) ==
      asSet(graft.pipeline.Pq.encodedWith(real, built.books)))
    assert(asSet(built.codes).subsetOf(asSet(refreshed.codes)))
    assert(refreshed.nSinceTrain == refreshed.nTotal - built.nTotal)
    assert(refreshed.needsRetrain(0.01))
    built.release(); refreshed.release()
  }

  test("PQ encode: codebook members quantize to themselves with zero error") {
    // 4 vectors, dim 8, m=2/k=2 -> stride 2: centroids are rows 0 and 2
    // (vec_ids 1 and 3); those must encode to their own code with err 0
    val four = Seq(
      (1L, vec(1, 0, 0, 0, 1, 0, 0, 1), 0),
      (2L, vec(0, 1, 0, 0, 0, 1, 0, 0), 0),
      (3L, vec(5, 5, 5, 5, 5, 5, 5, 5), 0),
      (4L, vec(5, 5, 5, 4, 5, 5, 5, 4), 0)).toDF("vec_id", "embedding", "label")
    val rows = graft.pipeline.Pq.encoded(four, m = 2, k = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub")) ->
        (r.getAs[Int]("code"), r.getAs[Long]("err"))).toMap
    assert(rows.size == 8) // 4 vectors x 2 subspaces
    assert(rows((1L, 0)) == (0, 0L) && rows((1L, 1)) == (0, 0L))
    assert(rows((3L, 0)) == (1, 0L) && rows((3L, 1)) == (1, 0L))
    // 4 is nearer centroid 3 than centroid 1 in both halves, err > 0
    assert(rows((4L, 0))._1 == 1 && rows((4L, 0))._2 > 0L)
    assert(rows((4L, 1))._1 == 1)
  }

  test("PQ ADC shortlist contains the exact top-k; rerank recovers the ranking") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.bruteTopK(real, pred, k = 5))
    assert(exact.nonEmpty)
    // the contract rerank depends on: the 100-deep ADC shortlist holds a
    // clear majority of the true top-5 (16-code quantization can't order
    // near-ties — measured 8% top-5 agreement — but it CAN shortlist)
    val shortlist = asSet(graft.pipeline.Pq.adcTopK(real, pred, k = 100))
    val slRecall = (exact & shortlist).size.toDouble / exact.size
    assert(slRecall >= 0.6,
      s"shortlist recall=$slRecall exact=${exact.size} hit=${(exact & shortlist).size}")
    // the production search: ADC shortlist + exact cosine rerank
    val rr = graft.pipeline.Pq.adcRerankTopK(real, pred, k = 5, shortlist = 100)
    val rrSet = asSet(rr)
    val rrRecall = (exact & rrSet).size.toDouble / exact.size
    assert(rrRecall >= 0.6,
      s"rerank recall=$rrRecall exact=${exact.size} hit=${(exact & rrSet).size}")
    // determinism: integer ADC distances + IEEE cosine, bit-identical reruns
    assert(rrSet == asSet(
      graft.pipeline.Pq.adcRerankTopK(real, pred, k = 5, shortlist = 100)))
    // ADC distances are exact integer sums of subspace table entries
    val adc = graft.pipeline.Pq.adcTopK(real, pred, k = 5)
    assert(adc.collect().forall(_.getAs[Long]("adc_dist") >= 0L))
    assert(asSet(adc) == asSet(graft.pipeline.Pq.adcTopK(real, pred, k = 5)))
  }

  test("IVF-PQ rerank recalls the brute top-k through probed residual buckets") {
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = asSet(Similarity.bruteTopK(real, pred, k = 5))
    assert(exact.nonEmpty)
    // production-ish parameters: 6 of 16 buckets probed, 8-bit codebooks,
    // 2 Lloyd iterations on the residual books, exact rerank of the top-100
    val rr = graft.pipeline.Pq.ivfPqRerankTopK(real, pred, k = 5,
      shortlist = 100, nprobe = 6, codebookSize = 256, refineIters = 2)
    val rrSet = asSet(rr)
    val recall = (exact & rrSet).size.toDouble / exact.size
    assert(recall >= 0.5,
      s"recall=$recall exact=${exact.size} hit=${(exact & rrSet).size}")
    assert(rrSet == asSet(graft.pipeline.Pq.ivfPqRerankTopK(real, pred, k = 5,
      shortlist = 100, nprobe = 6, codebookSize = 256, refineIters = 2)))
    // the bucket restriction is real: probing 1 of 16 buckets must not
    // return more candidates than probing 6
    val narrow = graft.pipeline.Pq.ivfPqTopK(real, pred, k = 1000, nprobe = 1)
      .count()
    val wide = graft.pipeline.Pq.ivfPqTopK(real, pred, k = 1000, nprobe = 6)
      .count()
    assert(narrow < wide, s"nprobe=1 gave $narrow rows vs nprobe=6 $wide")
  }

  test("ADC heap cut keeps the smallest neighbor ids on distance ties") {
    // regression: the shortlist heaps once evicted the SMALLEST id on equal
    // distance (tiebreak negated) — invisible at rank 5, caught by the
    // rank-50 oracle. Ten identical vectors tie at every distance; the cut
    // must keep exactly the lowest ids.
    val base = vec(1, 2, 3, 4, 5, 6, 7, 8)
    val dups = (1L to 10L).map(i => (i, base, 0)).toDF("vec_id", "embedding", "label")
    val got = graft.pipeline.Pq.adcTopK(dups, col("vec_id") === 1L, k = 5,
        m = 2, codebookSize = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).sorted.toSeq
    assert(got == Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("PQ rejects a subspace count that does not divide the dimension") {
    intercept[IllegalArgumentException] {
      graft.pipeline.Pq.encoded(embs, m = 3, k = 2).collect()
    }
  }

  test("lshNearDup counts dropped buckets AND docs in the accumulators") {
    // maxBucket=1 drops every shared bucket whole: the result silently
    // shrinks to 0 pairs, but the accumulators now name the cause — and
    // the docs metric distinguishes a few big buckets from many small ones
    val acc = spark.sparkContext.longAccumulator("test.dropped_buckets")
    val docs = spark.sparkContext.longAccumulator("test.dropped_docs")
    val pairs = Similarity.lshNearDup(embs, dim = dim, tauPct = 95,
      maxBucket = 1, droppedBuckets = Some(acc), droppedDocs = Some(docs)).collect()
    assert(pairs.isEmpty)
    assert(acc.value > 0L, "cap fired but the metric stayed silent")
    // each dropped bucket contributed its capped size (maxBucket+1 = 2)
    assert(docs.value == 2L * acc.value)
    // healthy run on the same corpus: nothing dropped on either metric
    val acc2 = spark.sparkContext.longAccumulator("test.dropped_buckets2")
    val docs2 = spark.sparkContext.longAccumulator("test.dropped_docs2")
    Similarity.lshNearDup(embs, dim = dim, tauPct = 95,
      droppedBuckets = Some(acc2), droppedDocs = Some(docs2)).collect()
    assert(acc2.value == 0L && docs2.value == 0L)
  }

  test("zero vectors are excluded from similarity") {
    val withZero = embs.union(Seq((6L, vec(0, 0, 0, 0, 0, 0, 0, 0), 2))
      .toDF("vec_id", "embedding", "label"))
    val pairs = Similarity.nearDupExact(withZero, tauPct = 40).collect()
    assert(!pairs.exists(r => r.getLong(0) == 6L || r.getLong(1) == 6L))
  }
}
