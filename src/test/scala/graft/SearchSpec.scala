package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverGraph
import graft.pipeline.{IndexGen, Search}

/** BM25 ranking semantics (rational-idf variant, exact BIGINT scoring). */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Input rows the scans of `body`'s jobs read: `body` runs under a fresh
    * job group, and a marker job run after it tells when the listener bus
    * has delivered every task end of those jobs. */
  private def rowsRead(body: => Any): Long = {
    val sc = spark.sparkContext
    val group = s"rows-read-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val read = new java.util.concurrent.atomic.AtomicLong
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(stages.add)
          case Some(g) if g == s"$group-marker" => delivered.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "rowsRead")
      body
      sc.setJobGroup(s"$group-marker", "rowsRead marker")
      sc.parallelize(Seq(1), 1).count()
      assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      read.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def topk(docs: Seq[(Long, String)], terms: Seq[String], k: Int = 10) =
    Search.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq(0L -> terms), k)
      .orderBy("rk")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micros")))

  test("higher tf ranks higher, with diminishing (saturating) returns") {
    val got = topk(Seq(
      (1L, "cat dog dog dog"),
      (2L, "cat dog dog fox"),
      (3L, "cat fox fox fox")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    // saturation: tf 3 scores less than 3x the tf 1 contribution
    val one = topk(Seq((1L, "dog fox fox fox"), (2L, "cat fox fox fox")), Seq("dog"))
    assert(got.head._2 < 3 * one.head._2)
  }

  test("rare terms outweigh common terms") {
    // 'rare' appears in 1 of 5 docs, 'common' in all 5; doc 1 has only
    // common, doc 2 only rare (same tf, same length).
    val docs = Seq(
      (1L, "common aaa bbb"),
      (2L, "rare common ccc"),
      (3L, "common ddd eee"),
      (4L, "common fff ggg"),
      (5L, "common hhh iii"))
    val got = topk(docs, Seq("rare", "common"))
    assert(got.head._1 == 2L)
  }

  test("shorter documents win at equal tf (length normalization)") {
    val got = topk(Seq(
      (1L, "dog cat cat cat cat cat cat cat"),
      (2L, "dog cat")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(2L, 1L))
  }

  test("k bounds the result and ties break by doc_id") {
    val docs = (1L to 8L).map(i => (i, "dog cat"))
    val got = topk(docs, Seq("dog"), k = 3)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._2).distinct.size == 1) // identical docs, equal scores
  }

  test("documents without any query term are absent") {
    val got = topk(Seq((1L, "dog"), (2L, "cat")), Seq("dog"))
    assert(got.map(_._1).toSeq == Seq(1L))
  }

  test("moreLikeThis uses the query doc's top-tf terms and excludes itself") {
    val docs = Seq(
      (0L, "dog dog dog cat zebra"), // query: top-2 terms = dog, cat
      (1L, "dog dog cat"),
      (2L, "dog cat"),
      (3L, "zebra zebra zebra"), // matches only the EXCLUDED 3rd term
      (4L, "fox fox fox")).toDF("doc_id", "text")
    val got = Search.moreLikeThis(docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("doc_id") === 0, nTerms = 2, k = 10)
      .orderBy("rk").collect()
    // doc 0 itself absent; zebra-only doc 3 absent (zebra not in top-2);
    // dog+cat docs present, higher-tf first
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getAs[Long]("query_id") == 0L))
  }

  test("bm25TopKIndexed matches bm25TopK and term-prunes the postings scan") {
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark")).toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("join", "merge"), 1L -> Seq("spark", "filter"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val viaIndex = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(viaIndex == direct)
    // the build-once/query-many scale property: the query-term list reaches
    // the postings parquet scan as a pushed In filter (with the term-sorted
    // layout that is a row-group seek, not an index scan) in the relation
    // both query paths read, and the served query reads fewer postings
    // rows than the index holds ("window" sorts into one of the two files)
    val plan = Search.prunedPostings(spark, IndexGen.resolve(dir), qs.flatMap(_._2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(term"), s"no In(term, ...) pushdown:\n$plan")
    val total = spark.read.parquet(s"${IndexGen.resolve(dir)}/postings").count()
    val read = rowsRead(Search.bm25TopKIndexed(spark, dir, Seq(2L -> Seq("window")), k = 10))
    assert(read > 0 && read < total, s"served query read $read of $total postings rows")
    // the Spark plan (bound 0) ranks the bounded job's cached scan: beyond
    // the driver path's reads it reads at most the cached pruned rows once
    // per branch (postings join, df count); a second parquet scan would
    // read the whole row group again ("window" is 1 row of its file's 7)
    val pruned = Search.prunedPostings(spark, IndexGen.resolve(dir), Seq("window")).count()
    val planRead = rowsRead(Search.topKIndexed(spark, dir, Seq(2L -> Seq("window")), 10,
      1200000L, 750000L, 0L))
    assert(planRead <= read + 2 * pruned,
      s"Spark plan read $planRead rows, driver path $read, $pruned pruned")
  }

  test("refreshIndex equals a from-scratch rebuild relation-for-relation") {
    import org.apache.spark.sql.functions.{col, sum}
    // shared terms (spark, merge), batch-only terms (stream, batch), a
    // token-less batch doc (weighs on n but not on postings/sum_dl)
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "...")).toDF("doc_id", "text")
    val ledger = docs.where(col("doc_id") <= 4)
    val batch = docs.where(col("doc_id") > 4)
    val refreshedDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_refresh").toString
    Search.buildIndex(ledger, "doc_id", "text", refreshedDir, nFiles = 2)
    Search.refreshIndex(spark, refreshedDir, batch, "doc_id", "text")
    val rebuiltDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_rebuild").toString
    Search.buildIndex(docs, "doc_id", "text", rebuiltDir, nFiles = 2)
    // termdf as a reader sees it: refresh appends per-batch df deltas,
    // so a term's df is the sum of its rows
    def rel(dir: String, name: String): Set[String] = {
      val r = spark.read.parquet(s"${IndexGen.resolve(dir)}/$name")
      (if (name == "termdf") r.groupBy("term").agg(sum("df").cast("long").as("df")) else r)
        .collect().map(_.toSeq.mkString("|")).toSet
    }
    for (name <- Seq("postings", "termdf", "stats"))
      assert(rel(refreshedDir, name) == rel(rebuiltDir, name),
        s"$name diverged between refresh and rebuild")
    // and the served results agree with the direct full-corpus path
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "filter"))
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, refreshedDir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
  }

  test("compactIndex rewrites a refresh-chained directory content-equal " +
      "to a fresh build, and refresh lands cleanly on the compacted gen") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "..."),
      (8L, "dog stream spark")).toDF("doc_id", "text")
    val dir =
      java.nio.file.Files.createTempDirectory("graft_bm25_compact").toString
    // refresh chain: build on 1-3, fold in 4-6, then compact
    Search.buildIndex(docs.where(col("doc_id") <= 3),
      "doc_id", "text", dir, nFiles = 2)
    Search.refreshIndex(spark, dir,
      docs.where(col("doc_id") > 3 && col("doc_id") <= 6),
      "doc_id", "text")
    Search.compactIndex(spark, dir, nFiles = 2)
    def rel(d: String, name: String): Set[String] =
      spark.read.parquet(s"${IndexGen.resolve(d)}/$name").collect()
        .map(_.toSeq.mkString("|")).toSet
    // the compacted generation IS a fresh build: same three relations,
    // derived from the standing postings without re-tokenizing the corpus
    val freshDir =
      java.nio.file.Files.createTempDirectory("graft_bm25_fresh").toString
    Search.buildIndex(docs.where(col("doc_id") <= 6),
      "doc_id", "text", freshDir, nFiles = 2)
    for (name <- Seq("postings", "termdf", "stats"))
      assert(rel(dir, name) == rel(freshDir, name),
        s"$name diverged between compaction and fresh build")
    // one-cycle grace: the superseded generation survives, older ones pruned
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
    // a post-compaction refresh appends onto the new generation and the
    // served results still equal the direct full-corpus path
    Search.refreshIndex(spark, dir, docs.where(col("doc_id") > 6),
      "doc_id", "text")
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
  }

  test("compaction flips generations atomically under concurrent readers: " +
      "no query ever observes a mixed or missing generation") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "dog stream spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_swap").toString
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    val expected = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    // reader loop: every query must see EXACTLY the expected result —
    // compaction is a pure re-layout, so a deviation means the reader
    // paired relations across generations; an exception means it caught
    // a half-swapped (missing) directory. Both were possible under the
    // r15 per-relation-rename swap; the pointer flip forbids them.
    @volatile var failure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
            .orderBy("query_id", "rk").collect().toSeq
          if (got != expected)
            throw new AssertionError(s"mixed generation observed: $got")
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try for (_ <- 1 to 3) Search.compactIndex(spark, dir, nFiles = 2)
    finally { stop.set(true); reader.join() }
    assert(failure.isEmpty, s"concurrent reader failed: ${failure.map(_.toString)}")
    // steady state: serving generation + one-cycle grace predecessor
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
  }

  test("refresh flips generations atomically under concurrent readers: " +
      "every query serves a whole pre- or post-batch generation") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins merge shuffles"),
      (2L, "window filter spark"),
      (3L, "merge join join"),
      (4L, "filter cat dog"),
      (5L, "stream batch spark spark"),
      (6L, "merge stream stream"),
      (7L, "dog stream spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_refresh_race").toString
    Search.buildIndex(docs.where(col("doc_id") <= 5),
      "doc_id", "text", dir, nFiles = 2)
    val qs = Seq(0L -> Seq("merge", "stream"), 1L -> Seq("spark", "dog"))
    // The refresh pipeline is deterministic, so the three legal whole-
    // generation results (pre-batch, post-batch-6, post-batch-6-and-7)
    // are precomputed by replaying the chain — a reader racing the real
    // chain must observe EXACTLY one of them; anything else means it
    // paired postings/termdf/stats across a batch boundary (possible
    // under the r16 in-place termdf/stats overwrite; the generation
    // flip forbids it)
    val legal = scala.collection.mutable.ArrayBuffer(
      Search.bm25TopKIndexed(spark, dir, qs, k = 10)
        .orderBy("query_id", "rk").collect().toSeq)
    for (hi <- Seq(6L, 7L)) {
      val twin = java.nio.file.Files
        .createTempDirectory(s"graft_bm25_refresh_twin$hi").toString
      Search.buildIndex(docs.where(col("doc_id") <= 5),
        "doc_id", "text", twin, nFiles = 2)
      for (b <- 6L to hi)
        Search.refreshIndex(spark, twin, docs.where(col("doc_id") === b),
          "doc_id", "text")
      legal += Search.bm25TopKIndexed(spark, twin, qs, k = 10)
        .orderBy("query_id", "rk").collect().toSeq
    }
    @volatile var failure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
            .orderBy("query_id", "rk").collect().toSeq
          if (!legal.contains(got))
            throw new AssertionError(s"mixed generation observed: $got")
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      Search.refreshIndex(spark, dir, docs.where(col("doc_id") === 6),
        "doc_id", "text")
      Search.refreshIndex(spark, dir, docs.where(col("doc_id") === 7),
        "doc_id", "text")
    } finally { stop.set(true); reader.join() }
    assert(failure.isEmpty, s"concurrent reader failed: ${failure.map(_.toString)}")
    // the final chain serves exactly the full-corpus direct results
    val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    val served = Search.bm25TopKIndexed(spark, dir, qs, k = 10)
      .orderBy("query_id", "rk").collect().toSeq
    assert(served == direct)
    // steady state: serving generation + one-cycle grace predecessor
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("gen_")) == 2)
  }

  /** Top-k from the driver path and from the forced Spark plan, ordered;
    * asserts both have the same schema and rows. */
  private def bothPaths(dir: String, qs: Seq[(Long, Seq[String])], k: Int = 10,
      k1Micros: Long = 1200000L, bMicros: Long = 750000L): Seq[Row] = {
    def run(bound: Long) = Search.topKIndexed(spark, dir, qs, k, k1Micros, bMicros, bound)
    val d = run(DriverGraph.MaxEdges)
    val p = run(0L)
    assert(d.schema == p.schema, "driver path and Spark plan schemas differ")
    val dr = d.orderBy("query_id", "rk").collect().toSeq
    assert(dr == p.orderBy("query_id", "rk").collect().toSeq,
      "driver path and Spark plan rows differ")
    // at the pruned row count (partitions past their share of the bound
    // are packed by a second job) and one under it (the Spark plan)
    val rows = Search.prunedPostings(spark, IndexGen.resolve(dir), qs.flatMap(_._2)).count()
    for (bound <- Seq(rows, rows - 1) if bound > 0)
      assert(run(bound).orderBy("query_id", "rk").collect().toSeq == dr,
        s"bound $bound of $rows pruned rows")
    dr
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("driver-path top-k equals the forced Spark plan and bm25TopK on seeded " +
      "corpora: ties, repeated and absent terms, token-less docs, refresh deltas") {
    import org.apache.spark.sql.functions.col
    val vocab = Vector("spark", "merge", "join", "filter", "stream", "batch",
      "window", "dog", "cat", "fox")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val base = (1L to 40L).map { id =>
        val n = rng.nextInt(7) // 0 tokens: a token-less doc
        id -> (if (n == 0) "... --" else Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      // exact copies of earlier docs: equal scores, ties broken by doc_id
      val docs = (base ++ base.take(6).map { case (id, t) => (id + 100, t) }).toDF("doc_id", "text")
      val qs = Seq(
        0L -> Seq(vocab(rng.nextInt(vocab.size))),
        1L -> Seq("merge", "merge", "join"), // a repeated term
        2L -> Seq("absentterm", "spark"), // a term absent from the index
        3L -> Seq("absentterm"),
        4L -> Seq(vocab(rng.nextInt(vocab.size)), vocab(rng.nextInt(vocab.size))))
      val direct = Search.bm25TopK(docs, "doc_id", "text", qs, k = 5)
        .orderBy("query_id", "rk").collect().toSeq
      val built = tmpDir("graft_bm25_paths")
      Search.buildIndex(docs, "doc_id", "text", built, nFiles = 2)
      assert(bothPaths(built, qs, k = 5) == direct, s"seed=$seed build")
      // a refresh chain: two termdf deltas, postings file sets appended
      val chained = tmpDir("graft_bm25_paths_chain")
      Search.buildIndex(docs.where(col("doc_id") <= 20), "doc_id", "text", chained, nFiles = 2)
      Search.refreshIndex(spark, chained,
        docs.where(col("doc_id") > 20 && col("doc_id") <= 40), "doc_id", "text")
      Search.refreshIndex(spark, chained, docs.where(col("doc_id") > 40), "doc_id", "text")
      assert(bothPaths(chained, qs, k = 5) == direct, s"seed=$seed refresh chain")
    }
  }

  test("driver path raises the Spark plan's ANSI overflow error") {
    val dir = tmpDir("graft_bm25_ansi")
    Search.buildIndex(Seq((1L, "spark merge"), (2L, "merge join")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nFiles = 2)
    def overflowed(bound: Long): Boolean = {
      val e = intercept[Exception] {
        Search.topKIndexed(spark, dir, Seq(0L -> Seq("merge")), 5,
          Long.MaxValue / 2, 750000L, bound).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW"))
    }
    assert(overflowed(DriverGraph.MaxEdges) && overflowed(0L))
  }

  test("a generation whose writer throws is not published and the next " +
      "flip prunes its orphan") {
    val docs = Seq((1L, "spark merge join"), (2L, "filter cat dog")).toDF("doc_id", "text")
    val dir = tmpDir("graft_bm25_failed_gen")
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val qs = Seq(0L -> Seq("merge", "dog"))
    val before = Search.bm25TopKIndexed(spark, dir, qs, 5).collect().toSeq
    val serving = IndexGen.current(dir)
    val e = intercept[IllegalStateException] {
      IndexGen.publish(spark, dir)(
        gen => spark.range(3).write.parquet(s"$gen/ok"),
        _ => throw new IllegalStateException("writer failed"))
    }
    assert(e.getMessage == "writer failed")
    assert(IndexGen.current(dir) == serving)
    assert(Search.bm25TopKIndexed(spark, dir, qs, 5).collect().toSeq == before)
    val gens = () => new java.io.File(dir).list().filter(_.startsWith("gen_")).sorted.toSeq
    assert(gens() == Seq("gen_000000", "gen_000001")) // the orphan
    Search.compactIndex(spark, dir, nFiles = 2)
    assert(gens() == Seq("gen_000000", "gen_000002"))
    assert(Search.bm25TopKIndexed(spark, dir, qs, 5).collect().toSeq == before)
  }

  test("a pinned generation survives two flips and is pruned once unpinned") {
    val docs = Seq((1L, "spark merge join"), (2L, "filter cat dog")).toDF("doc_id", "text")
    val dir = tmpDir("graft_bm25_pin")
    Search.buildIndex(docs, "doc_id", "text", dir, nFiles = 2)
    val pinned = IndexGen.withPinned(dir) { gen =>
      Search.compactIndex(spark, dir, nFiles = 2)
      Search.compactIndex(spark, dir, nFiles = 2)
      // two flips later, outside the one-cycle grace window, still whole
      assert(spark.read.parquet(s"$gen/postings").count() == 6L)
      gen
    }
    assert(new java.io.File(pinned).isDirectory)
    Search.compactIndex(spark, dir, nFiles = 2)
    assert(!new java.io.File(pinned).exists())
    assert(new java.io.File(dir).list().count(_.startsWith("gen_")) == 2)
  }

  test("rrfFuse sums reciprocal ranks, handles single-list docs, ranks top-k") {
    val a = Seq((0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L))
      .toDF("query_id", "rk", "doc_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 13L))
      .toDF("query_id", "rk", "doc_id")
    val got = Search.rrfFuse(a, b, k = 10).orderBy("rk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_micros"),
        r.getAs[Long]("text_rk"), r.getAs[Long]("vec_rk")))
    // doc 11: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 — the only 2-list doc
    assert(got.head == ((11L, 32522L, 2L, 1L)))
    // doc 10: text rank 1 only = 1e6/61
    assert(got(1) == ((10L, 16393L, 1L, 0L)))
    // doc 13: vector rank 2 only = 1e6/62; ties with nothing
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    // every doc exactly once
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("phraseMatches finds exact token sequences, overlaps and repeats " +
      "included, order-sensitively") {
    val docs = Seq(
      (1L, "new york new york city"),   // "new york" twice
      (2L, "york new"),                  // reversed: no match
      (3L, "the new york times"),
      (4L, "a new and a york"),          // non-adjacent: no match
      (5L, "new new new")).toDF("doc_id", "text")
    val two = Search.phraseMatches(docs, Seq("new", "york"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 2L, 3L -> 1L))
    // 3-term phrase, repeated term inside the phrase
    val three = Search.phraseMatches(docs, Seq("new", "york", "new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(three == Map(1L -> 1L))
    // self-overlapping repeated-token phrase: "new new" in "new new new"
    val rep = Search.phraseMatches(docs, Seq("new", "new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(5L -> 2L, 1L -> 0L).filter(_._2 > 0))
    // single-term phrase degrades to term occurrence counts
    val one = Search.phraseMatches(docs, Seq("new"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
    // case-insensitive via the shared lexer
    val caps = Search.phraseMatches(
      Seq((9L, "New YORK")).toDF("doc_id", "text"), Seq("new", "york"))
    assert(caps.head().getLong(1) == 1L)
  }
}
