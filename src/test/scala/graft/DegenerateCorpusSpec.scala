package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Standing regression gate for the round-10 degenerate-corpus sweeps
  * (EmptyCorpusProbe): every bug class found there gets the exact
  * query-on-degenerate-input that used to crash. The full 144-query
  * sweeps stay in the probe; this spec pins the six fixed sites plus
  * the PQ family's named-precondition contract.
  */
class DegenerateCorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val srcDir = "/root/testdata/sf0.001"

  /** Write a degenerate copy of every driver table and return its dir.
    * mode: "empty" | "one" (single row) | "nulls" (20 rows, every
    * non-key column null). */
  private def corpus(mode: String): String = {
    val dir = s"/tmp/graft_test_degenerate_$mode"
    val marker = new java.io.File(s"$dir/.done")
    if (!marker.exists()) {
      Tables.all.foreach { t =>
        val src = spark.read.parquet(s"$srcDir/$t.parquet")
        val out = mode match {
          case "empty" => src.limit(0)
          case "one" => src.limit(1)
          case "nulls" =>
            val key = src.columns.head
            src.limit(20).select(src.columns.toSeq.map { c =>
              if (c == key) col(c)
              else lit(null).cast(src.schema(c).dataType).as(c)
            }: _*)
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      marker.createNewFile()
    }
    dir
  }

  private def rows(name: String, dir: String): Long =
    SparkEntry.queries(name)(spark, dir).count()

  test("empty corpus: spectral returns a defined empty direction " +
      "(was: NPE from null Gram cells)") {
    assert(rows("q_spectral_direction", corpus("empty")) == 0L)
  }

  test("empty corpus: partitioned prune reads the schema-less layout " +
      "(was: UNABLE_TO_INFER_SCHEMA on a fileless partitionBy write)") {
    assert(rows("q_partitioned_prune", corpus("empty")) == 0L)
  }

  test("one-row corpus: drift defines shares over an empty era " +
      "(was: DIVIDE_BY_ZERO on the unpopulated side's total)") {
    assert(rows("q_corpus_drift", corpus("one")) >= 0L)
  }

  test("null-heavy corpus: media synthesis, span trim and compaction " +
      "sizes are total (was: NPE / NOT_NULL_ASSERT)") {
    val dir = corpus("nulls")
    assert(rows("multimodal_phash", dir) == 20L)
    assert(rows("q_trim_dup_spans", dir) == 20L)
    assert(rows("q_compaction_plan", dir) >= 0L)
    assert(rows("q_spectral_direction", dir) == 0L) // all-null embeddings
  }

  test("adversarial binary corpus: hostile media payloads (truncated / " +
      "wrong magic / overflow geometry / random bytes) become per-row " +
      "quarantine verdicts, never executor exceptions, and the accepted " +
      "side decodes clean (r11 family — the media twin of the r10 " +
      "adversarial-text sweep)") {
    import spark.implicits._
    import graft.pipeline.Multimodal
    def i32(v: Int): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val rnd = new scala.util.Random(11)
    val intact = Multimodal.mediaTable(
      (0L until 30L).map(i => (i, s"doc number $i body", "s", "en"))
        .toDF("doc_id", "text", "source", "lang"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
        r.getAs[Array[Byte]]("payload")))
    val hostile = intact.flatMap { case (id, kind, p) =>
      val junk = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(junk)
      val overflowed = p.clone()
      if (kind == "image" && p.length > 26) i32(0x20000000).copyToArray(overflowed, 18)
      if (kind == "audio" && p.length > 44) i32(0x7fffffff).copyToArray(overflowed, 40)
      if (kind == "video" && p.length > 8) i32(0x40000000).copyToArray(overflowed, 4)
      Seq(
        (id * 10, kind, p, "s", "en"),                                   // intact
        (id * 10 + 1, kind, java.util.Arrays.copyOf(p, p.length / 2), "s", "en"),
        (id * 10 + 2, kind, junk, "s", "en"),
        (id * 10 + 3, kind, overflowed, "s", "en"),
        (id * 10 + 4, kind, Array.emptyByteArray, "s", "en"))
    }.toSeq.toDF("doc_id", "kind", "payload", "source", "lang")
    val verdicts = Multimodal.quarantineSplit(spark, hostile).collect()
    assert(verdicts.length == 150)
    val byMode = verdicts.groupBy(v => v.doc_id % 10)
    assert(byMode(0L).forall(!_.quarantined), "intact rows must all admit")
    assert(byMode(1L).forall(_.quarantined), "half-truncated rows must all quarantine")
    assert(byMode(3L).forall(_.quarantined), "overflow-geometry rows must all quarantine")
    assert(byMode(4L).forall(v => v.quarantined && v.reason == "bad_magic"))
    // the accepted side (intact rows + any junk that happens to parse)
    // must survive the full downstream decode, exception-free
    val good = Multimodal.goodMedia(spark, hostile)
    assert(Multimodal.extractFeatures(spark, good).count() ==
      good.count())
    assert(Multimodal.perceptualHashes(spark, good).count() ==
      good.count())
  }

  test("index lifecycle on an EMPTY refresh batch: refresh, maintain, " +
      "and retrain are exact no-ops that keep serving (r15 gates swept)") {
    import spark.implicits._
    import graft.pipeline.{Ivf, Pq, Search}
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val embs = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(1, 0.01, 0, 0)), (4L, v(0, 1, 0.01, 0)))
      .toDF("vec_id", "embedding")
    val none = embs.limit(0)
    // IVF: empty refresh keeps counters; maintain does not fire; retrain
    // off the (unchanged) inverted file still works
    val ivf = Ivf.buildIndex(embs, nCentroids = 2)
    val r = Ivf.refreshIndex(ivf, none)
    assert(r.nTotal == 4L && r.nSinceTrain == 0L)
    val m = Ivf.maintainIndex(r, none)
    assert(m.nTotal == 4L && m.nSinceTrain == 0L)
    val rt = Ivf.retrainIndex(m)
    assert(rt.nTotal == 4L && rt.nSinceTrain == 0L)
    ivf.release(); rt.release()
    // PQ: empty refresh keeps counters; maintain with the empty batch
    // leaves the books untouched
    val pq = Pq.buildCodeIndex(embs, m = 2, k = 2)
    val pr = Pq.maintainCodeIndex(pq, none, embs)
    assert(pr.nTotal == 4L && pr.nSinceTrain == 0L)
    pq.release()
    // BM25: empty refresh batch, then compaction of the (still tiny)
    // index — results unchanged
    val docs = Seq((1L, "spark merge join"), (2L, "filter cat dog"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_degen_bm25").toString
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    Search.refreshIndex(spark, dir, docs.limit(0), "doc_id", "text")
    Search.compactIndex(spark, dir, nFiles = 2)
    val got = Search.bm25TopKIndexed(spark, dir, Seq(0L -> Seq("merge")), 5)
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("doc_id") == 1L)
  }

  test("save/load of an EMPTY index round-trips and refreshes like a " +
      "fresh build; compacting a never-built root fails by name") {
    import spark.implicits._
    import graft.pipeline.{Dedup, Ivf, Search}
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    val batch = Seq((10L, "spark merge join shuffles exchange wide", "en"),
      (11L, "spark merge join shuffles exchange wide", "en"))
      .toDF("doc_id", "text", "lang")
    // near-dup: empty build -> save -> load -> refresh(batch) == build(batch)
    val ndDir = java.nio.file.Files
      .createTempDirectory("graft_degen_nd").toString
    val nd0 = Dedup.buildNearDupIndex(emptyDocs)
    Dedup.saveNearDupIndex(nd0, ndDir)
    val ndL = Dedup.loadNearDupIndex(spark, ndDir)
    val ndR = Dedup.refreshNearDupIndex(ndL, batch)
    val ndB = Dedup.buildNearDupIndex(batch)
    def bset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).sorted)).toSet
    assert(bset(ndR.buckets.select("bkey", "ids"))
      == bset(ndB.buckets.select("bkey", "ids")))
    nd0.release(); ndR.release(); ndB.release()
    // hamming: empty build -> save -> load -> refresh == build
    val hDir = java.nio.file.Files
      .createTempDirectory("graft_degen_ham").toString
    val sigs = Seq(("img", 1L, 7L), ("img", 2L, 7L))
      .toDF("kind", "doc_id", "sig")
    val h0 = Dedup.buildHammingIndex(sigs.limit(0), partitionCols = Seq("kind"))
    Dedup.saveHammingIndex(h0, hDir)
    val hL = Dedup.loadHammingIndex(spark, hDir)
    assert(hL.partitionCols == Seq("kind"))
    val hR = Dedup.refreshHammingIndex(hL, sigs)
    val hB = Dedup.buildHammingIndex(sigs, partitionCols = Seq("kind"))
    assert(hR.buckets.collect().map(_.getString(0)).sorted.toSeq
      == hB.buckets.collect().map(_.getString(0)).sorted.toSeq)
    h0.release(); hR.release(); hB.release()
    // IVF: an index over an empty corpus persists and loads (no
    // centroids, no vectors, zeroed counters)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_degen_ivf").toString
    val emptyEmbs = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val iv0 = graft.pipeline.Ivf.buildIndex(emptyEmbs)
    Ivf.saveIndex(iv0, ivfDir)
    val ivL = Ivf.loadIndex(spark, ivfDir)
    assert(ivL.cents.isEmpty && ivL.nTotal == 0L && ivL.nSinceTrain == 0L)
    iv0.release(); ivL.release()
    // BM25 compaction of a never-built root: named failure, not an NPE
    val e = intercept[IllegalArgumentException] {
      Search.compactIndex(spark, java.nio.file.Files
        .createTempDirectory("graft_degen_nobuild").toString)
    }
    assert(e.getMessage.contains("no index generation"),
      s"precondition must stay named, got: ${e.getMessage}")
  }

  test("PQ family keeps its NAMED precondition on an unprepared corpus") {
    val e = intercept[IllegalArgumentException] {
      rows("ann_pq_topk", corpus("empty"))
    }
    assert(e.getMessage.contains("non-empty prepared corpus"),
      s"precondition must stay named, got: ${e.getMessage}")
  }
}
