package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventsStream, PlacementMonitor, StreamingJoin}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("watermarked windowed aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.typeCountsPerWindow(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((t(10, 5), "click", 1.0), (t(10, 40), "click", 2.0),
        (t(11, 5), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Long]("sum_value_micros"))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3000000L)))
      assert(rows.contains(("2024-01-01 11:00:00.0", "view", 1L, 3000000L)))
    } finally q.stop()
  }

  test("mapGroupsWithState counts sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionCounts(spark, mem.toDS(), gapMs = 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      mem.addData(EventsStream.Event(1L, 1000L, "a", 0),
        EventsStream.Event(1L, 1500L, "b", 0))
      q.processAllAvailable()
      // second batch: within gap (continues session), then far future (new one)
      mem.addData(EventsStream.Event(1L, 2000L, "c", 0),
        EventsStream.Event(1L, 99999L, "d", 0))
      q.processAllAvailable()
      val last = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sessions")))
      assert(last.contains((1L, 2L)), last.mkString(","))
    } finally q.stop()
  }

  test("session_window streaming sessions equal batch session_window exactly") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two sessions (25 min > 10 min gap); user 2: one; user 3: the
    // boundary case — 10:10 is EXACTLY gap after 10:00, and session_window
    // merges it (a new session needs strictly > gap, the lag model's rule)
    val batch1 = Seq(
      (1L, t(10, 0), 1.0), (1L, t(10, 5), 2.0),
      (2L, t(10, 0), 4.0), (3L, t(10, 0), 6.0))
    val batch2 = Seq( // out of order in-batch
      (1L, t(10, 30), 3.0), (3L, t(10, 10), 5.0))
    val events = batch1 ++ batch2
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = graft.streaming.EventSessions.sessions(
        mem.toDF().toDF("user_id", "ts", "value"),
        gap = "10 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    def asSet(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
        r.getAs[Timestamp]("session_end").toString, r.getAs[Long]("n_events"),
        r.getAs[Long]("sum_value_micros"))).toSet
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
      // two sentinel batches push the watermark past every real session end
      mem.addData((99L, t(23, 0), 0.0)); q.processAllAvailable()
      mem.addData((99L, t(23, 30), 0.0)); q.processAllAvailable()
      val got = asSet(spark.table("sess_stream")
        .where(col("user_id") =!= 99L).collect())
      val batch = asSet(graft.streaming.EventSessions.sessions(
          events.toDF("user_id", "ts", "value"), gap = "10 minutes")
        .collect())
      assert(got == batch,
        s"stream-only=${got -- batch} batch-only=${batch -- got}")
      // boundary pin: user 3's exactly-gap event MERGES (> rule, not >=)
      assert(batch.count(_._1 == 3L) == 1)
      assert(batch.find(_._1 == 3L).exists(_._4 == 2L))
      assert(batch.count(_._1 == 1L) == 2)
      assert(batch.count(_._1 == 2L) == 1)
      // micros sums are exact per-event truncations
      assert(batch.find(t5 => t5._1 == 1L && t5._4 == 2L).exists(_._5 == 3000000L))
    } finally q.stop()
  }

  test("streaming dedup emits only the first document per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.firstSeen(spark,
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "hello world"), (2L, "HELLO  world"), (3L, "other"))
      q.processAllAvailable()
      // second batch: duplicate of batch 1 must be suppressed by state
      mem.addData((4L, "hello   WORLD"), (5L, "brand new"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming near-dup verdicts equal the batch operator on split replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val ledger = Seq((1L, words(20)), (2L, words(20)),
      (3L, "totally unrelated ledger doc content here")).toDF("doc_id", "text")
    val batchRows = Seq(
      (101L, words(20)),                                // exact copy, tie -> id 1
      (102L, words(19) + " x"),                         // near copy
      (103L, (1 to 10).map(i => s"u$i").mkString(" ")), // unique
      (104L, "hi there"))                               // < 3 tokens
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
    val expected = Dedup.incrementalNearDup(
        batchRows.toDF("doc_id", "text"), ledger).collect().map(key).toSet
    val mem = MemoryStream[(Long, String)]
    val out = new Collected
    val rq = new graft.streaming.StreamingNearDup.Refreshable(spark,
      mem.toDF().toDF("doc_id", "text"), checkpoint("graft_neardup_split"),
      (ds, batchId) => out.sink(ds.toDF(), batchId))
    rq.start(Dedup.buildNearDupIndex(ledger))
    try {
      // split across micro-batches: verdicts are per-doc stateless, so any
      // replay split must produce exactly the batch operator's output
      mem.addData(batchRows.take(2)); rq.processAllAvailable()
      mem.addData(batchRows.drop(2)); rq.processAllAvailable()
      val got = out.rows.map(key).toSet
      assert(got == expected)
      assert(got.map(_._1) == Set(101L, 102L, 103L, 104L))
      assertStateless(rq.query)
    } finally rq.stop()
  }

  /** A foreachBatch sink keeping each micro-batch's rows by batch id, so
    * a replayed batch overwrites its first delivery (idempotent). */
  private final class Collected {
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long,
      Array[org.apache.spark.sql.Row]]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      byBatch.put(batchId, df.collect())
    def rows: Seq[org.apache.spark.sql.Row] = {
      import scala.jdk.CollectionConverters._
      byBatch.values.asScala.flatten.toSeq
    }
  }

  /** Total state-store rows as of the latest progress that reports a
    * state operator (no-data batches report none). */
  private def lastStateRows(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
      .lastOption

  private def checkpoint(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The "stateless per row" claim, measured: the query ran batches and
    * no progress report names a state operator at all. */
  private def assertStateless(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    val progress = q.recentProgress.toSeq
    assert(progress.nonEmpty && progress.forall(_.stateOperators.isEmpty),
      s"admission must run no stateful operator: " +
        progress.flatMap(_.stateOperators.map(_.operatorName)))
  }

  test("streaming vector admission equals the batch IVF indexAdmit on " +
      "split replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Ivf
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // two directions in the ledger; nCentroids=2 stride-selects ids 1, 3
    val ledgerRows = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(1, 0.01, 0, 0)), (4L, v(0, 1, 0.01, 0)))
    val batchRows = Seq(
      (101L, v(1, 0, 0, 0.005)), // near ledger 1 -> near_dup
      (102L, v(0, 0, 1, 0)),     // orthogonal to everything -> admitted
      (103L, v(0, 0, 0, 0)),     // zero vector -> admitted (no probes)
      (104L, v(0, 1, 0.005, 0))) // near ledger 2 -> near_dup
    val index = Ivf.buildIndex(ledgerRows.toDF("vec_id", "embedding"),
      nCentroids = 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
    val expected = Ivf.indexAdmit(batchRows.toDF("vec_id", "embedding"),
        index, tauPct = 95, nprobe = 2).collect().map(key).toSet
    assert(expected.exists(_._2 == "near_dup") &&
      expected.exists(_._2 == "admitted"), s"degenerate fixture: $expected")
    val mem = MemoryStream[(Long, Array[Float])]
    val out = new Collected
    val rq = graft.streaming.StreamingVectorDedup.admission(
      mem.toDF().toDF("vec_id", "embedding"), checkpoint("graft_vec_split"),
      out.sink, tauPct = 95, nprobe = 2)
    rq.start(index)
    try {
      // split across micro-batches: verdicts are per-vector stateless, so
      // any replay split must produce exactly the batch operator's output
      mem.addData(batchRows.take(2)); rq.processAllAvailable()
      mem.addData(batchRows.drop(2)); rq.processAllAvailable()
      val got = out.rows.map(key).toSet
      assert(got == expected)
      assert(got.map(_._1) == Set(101L, 102L, 103L, 104L))
      assertStateless(rq.query)
    } finally rq.stop()
  }

  test("streaming-driven index lifecycle: mid-stream drift retrain " +
      "hot-swaps and verdicts equal the batch maintain chain on replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Ivf
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // ledger n=4; phase1 adds 3 (drift 3/7 < 0.5 -> refresh only);
    // phase2 adds 4 (drift 7/11 >= 0.5 -> retrain fires MID-STREAM)
    val ledgerRows = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(1, 0.01, 0, 0)), (4L, v(0, 1, 0.01, 0)))
    val phase1 = Seq(
      (101L, v(1, 0, 0, 0.005)),  // near ledger 1 -> near_dup
      (102L, v(0, 0, 1, 0)),      // new direction -> admitted
      (103L, v(0, 0, 1, 0.004)))  // near 102, but 102 is NOT folded yet
                                  // within the same batch -> admitted
    val phase2 = Seq(
      (201L, v(0, 0, 1, 0.003)),  // near the FOLDED 102/103 -> near_dup
      (202L, v(0.5, 0.5, 0.5, 0.5)), // spread out -> admitted
      (203L, v(0, 1, 0.008, 0)),  // near ledger 2/4 -> near_dup
      (204L, v(0, 0, 0, 1)))      // new direction -> admitted
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
    // the batch chain this stream must replay exactly
    val idx0b = Ivf.buildIndex(ledgerRows.toDF("vec_id", "embedding"),
      nCentroids = 2)
    val e1 = Ivf.indexAdmit(phase1.toDF("vec_id", "embedding"), idx0b,
      tauPct = 95, nprobe = 2).collect().map(key).toSet
    val idx1b = Ivf.maintainIndex(idx0b, phase1.toDF("vec_id", "embedding"))
    assert(idx1b.nSinceTrain == 3L, "phase1 fold must NOT retrain")
    val e2 = Ivf.indexAdmit(phase2.toDF("vec_id", "embedding"), idx1b,
      tauPct = 95, nprobe = 2).collect().map(key).toSet
    val idx2b = Ivf.maintainIndex(idx1b, phase2.toDF("vec_id", "embedding"))
    assert(idx2b.nSinceTrain == 0L && idx2b.nTotal == 11L,
      "phase2 fold must fire the drift retrain")
    assert(e1.exists(_._2 == "near_dup") && e2.exists(v => v._1 == 201L &&
      v._2 == "near_dup"), s"degenerate fixture: $e1 / $e2")
    val mem = MemoryStream[(Long, Array[Float])]
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long,
      Array[org.apache.spark.sql.Row]]()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vec_maintained").toString
    val m = new graft.streaming.StreamingVectorDedup.Maintained(spark,
      mem.toDF().toDF("vec_id", "embedding"), ckpt,
      (df, batchId) => byBatch.put(batchId, df.collect()),
      tauPct = 95, nprobe = 2)
    m.start(Ivf.buildIndex(ledgerRows.toDF("vec_id", "embedding"),
      nCentroids = 2))
    try {
      mem.addData(phase1: _*); m.processAllAvailable()
      assert(m.index.nSinceTrain == 3L && m.index.nTotal == 7L,
        "stream fold 1 must refresh without retraining")
      mem.addData(phase2: _*); m.processAllAvailable()
      // the drift trigger fired INSIDE the stream and the retrained
      // generation is serving (counter reset, corpus-wide re-assignment)
      assert(m.index.nSinceTrain == 0L && m.index.nTotal == 11L,
        "stream fold 2 must retrain + hot-swap")
      assert(m.index.cents.length == idx2b.cents.length,
        "retrained quantizer must re-size like the batch chain's")
      import scala.jdk.CollectionConverters._
      val got = byBatch.values.asScala.flatten.map(key).toSet
      assert(got == (e1 ++ e2))
      // post-swap serve continuity: a third batch is judged by the
      // RETRAINED generation, equal to the batch operator against it
      val phase3 = Seq((301L, v(0, 0, 1, 0.002)))
      val e3 = Ivf.indexAdmit(phase3.toDF("vec_id", "embedding"), idx2b,
        tauPct = 95, nprobe = 2).collect().map(key).toSet
      mem.addData(phase3: _*); m.processAllAvailable()
      val got3 = byBatch.values.asScala.flatten.map(key).toSet -- got
      assert(got3 == e3, s"post-swap verdicts diverged: $got3 vs $e3")
      assert(e3.exists(v => v._1 == 301L && v._2 == "near_dup"),
        "301 must near-dup against a vector only the folded index knows")
    } finally { m.stop(); idx2b.release() }
  }

  test("streaming media admission equals the batch incremental hamming " +
      "verdicts on split replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Dedup, Multimodal}
    import org.apache.spark.sql.functions.col
    // originals cover all three kinds (id % 3); re-crawls use +900 ids
    // (divisible by 3, kind preserved): one exact payload dup, one
    // single-byte perturbation, one unrelated
    val originals = Seq(
      (0L, "aaaa bbbb cccc dddd"), (1L, "hello world sample audio text"),
      (2L, "video content words here"), (3L, "unrelated other text block"),
      (4L, "another audio document"), (5L, "yet another video file"))
      .map { case (i, t) => (i, t, "s", "en") }
      .toDF("doc_id", "text", "source", "lang")
    val recrawl = Seq(
      (900L, "aaaa bbbb cccc dddd"),
      (901L, "Hello world sample audio text"),
      (902L, "completely different words entirely new"))
      .map { case (i, t) => (i, t, "s", "en") }
      .toDF("doc_id", "text", "source", "lang")
    def sigs(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.perceptualHashes(spark, Multimodal.mediaTable(docs)).toDF()
        .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    val expected = Dedup.incrementalHammingDedup(
        sigs(recrawl), sigs(originals), partitionCols = Seq("kind"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
        r.getAs[String]("verdict"),
        Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long])))
      .toSet
    // the fixture must exercise both verdicts or it proves nothing
    assert(expected.exists(_._3 == "near_dup") &&
      expected.exists(_._3 == "admitted"), expected)

    val index = Dedup.buildHammingIndex(sigs(originals),
      partitionCols = Seq("kind"))
    val mem = MemoryStream[Multimodal.MediaRow]
    val out = new Collected
    val rq = graft.streaming.StreamingMediaDedup.admission(mem.toDF(),
      checkpoint("graft_media_split"), out.sink)
    rq.start(index)
    try {
      val rows = Multimodal.mediaTable(recrawl)
        .as[Multimodal.MediaRow].collect().sortBy(_.doc_id)
      mem.addData(rows.take(1).toSeq: _*); rq.processAllAvailable()
      mem.addData(rows.drop(1).toSeq: _*); rq.processAllAvailable()
      val got = out.rows
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
          r.getAs[String]("verdict"),
          Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long])))
        .toSet
      assert(got == expected, s"stream=$got batch=$expected")
      assertStateless(rq.query)
    } finally rq.stop()
  }

  test("streaming media admission quarantines corrupt payloads mid-stream " +
      "instead of dying, matching batch quarantineSplit + admission") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Dedup, Multimodal}
    import org.apache.spark.sql.functions.col
    // originals cover all three kinds (id % 3); the recrawl ids 900..908
    // sweep kind (id % 3) x corruption family (id % 4: intact / magic
    // overwritten / last byte dropped / truncated to 8 bytes), with the
    // intact rows split between a payload dup (900, 904) and an
    // unrelated doc (908) so all three verdicts appear
    val originals = Seq(
      (0L, "aaaa bbbb cccc dddd"), (1L, "hello world sample audio text"),
      (2L, "video content words here"), (3L, "unrelated other text block"),
      (4L, "another audio document"), (5L, "yet another video file"))
      .map { case (i, t) => (i, t, "s", "en") }
      .toDF("doc_id", "text", "source", "lang")
    val recrawl = Seq(
      (900L, "aaaa bbbb cccc dddd"),                  // kind 0, intact: dup
      (901L, "hello world sample audio text"),        // corrupt: bad magic
      (902L, "video content words here"),             // corrupt: short 1 byte
      (903L, "unrelated other text block"),           // corrupt: 8 bytes
      (904L, "hello world sample audio text"),        // kind 1, intact: dup
      (905L, "yet another video file"),               // corrupt: bad magic
      (906L, "aaaa bbbb cccc dddd"),                  // corrupt: short 1 byte
      (907L, "another audio document"),               // corrupt: 8 bytes
      (908L, "completely different words entirely"))  // kind 2, intact: new
      .map { case (i, t) => (i, t, "s", "en") }
      .toDF("doc_id", "text", "source", "lang")
    val recrawlMedia =
      Multimodal.corruptMedia(spark, Multimodal.mediaTable(recrawl))
    def sigsOf(media: org.apache.spark.sql.DataFrame) =
      Multimodal.perceptualHashes(spark, media).toDF()
        .select(col("kind"), col("doc_id"), col("phash").as("sig"))
    // batch twin: quarantineSplit classifies; its decodable side feeds the
    // incremental hamming admission — the streaming path must reproduce
    // BOTH halves from one pass
    val split = Multimodal.quarantineSplit(spark, recrawlMedia).toDF()
    val expectedQ = split.where(col("quarantined"))
      .select("doc_id", "kind", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1), "quarantined",
        None: Option[Long], None: Option[Long], Option(r.getString(2))))
      .toSet
    val good = split.where(!col("quarantined"))
      .select("doc_id", "kind", "payload", "source", "lang")
    val expectedA = Dedup.incrementalHammingDedup(
        sigsOf(good), sigsOf(Multimodal.mediaTable(originals)),
        partitionCols = Seq("kind"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
        r.getAs[String]("verdict"),
        Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long]),
        None: Option[String]))
      .toSet
    val expected = expectedQ ++ expectedA
    // the fixture must exercise all three verdicts and >= 2 distinct
    // quarantine reason classes or it proves nothing
    assert(expectedQ.flatMap(_._6).size >= 2, expectedQ)
    assert(expectedA.exists(_._3 == "near_dup") &&
      expectedA.exists(_._3 == "admitted"), expectedA)

    val index = Dedup.buildHammingIndex(
      sigsOf(Multimodal.mediaTable(originals)), partitionCols = Seq("kind"))
    val mem = MemoryStream[Multimodal.MediaRow]
    val out = new Collected
    val rq = graft.streaming.StreamingMediaDedup.admission(mem.toDF(),
      checkpoint("graft_media_quarantine"), out.sink)
    rq.start(index)
    try {
      val rows = recrawlMedia.as[Multimodal.MediaRow].collect().sortBy(_.doc_id)
      // corrupt payloads land in the FIRST micro-batch (901, 902): the
      // stream must survive them and keep serving the later batch
      mem.addData(rows.take(3).toSeq: _*); rq.processAllAvailable()
      mem.addData(rows.drop(3).toSeq: _*); rq.processAllAvailable()
      assert(rq.query.exception.isEmpty,
        s"stream died on corrupt payload: ${rq.query.exception}")
      val got = out.rows
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"),
          r.getAs[String]("verdict"),
          Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("hamming")).map(_.asInstanceOf[Long]),
          Option(r.getAs[String]("reason"))))
        .toSet
      assert(got == expected, s"stream=$got batch=$expected")
    } finally rq.stop()
  }

  test("streaming near-dup verdicts stay continuous across a mid-stream " +
    "ledger index refresh") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    import graft.streaming.StreamingNearDup.Verdict
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    def uwords(n: Int) = (1 to n).map(i => s"u$i").mkString(" ")
    val ledger1 = Seq((1L, words(20)),
      (3L, "totally unrelated ledger doc content here")).toDF("doc_id", "text")
    // refreshed ledger adds doc 4, a near-copy of BOTH phase-1 doc 103 and
    // phase-2 doc 201 — so the refresh visibly flips 201's verdict while
    // 103 (already admitted under ledger1) must NOT be re-judged
    val ledger2 = Seq((1L, words(20)), (4L, uwords(10)),
      (3L, "totally unrelated ledger doc content here")).toDF("doc_id", "text")
    val phase1 = Seq((101L, words(20)), (103L, uwords(10)))
    val phase2 = Seq((201L, uwords(9) + " z"), (202L, "something else entirely"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
    val expected =
      Dedup.incrementalNearDup(phase1.toDF("doc_id", "text"), ledger1)
        .collect().map(key).toSet ++
      Dedup.incrementalNearDup(phase2.toDF("doc_id", "text"), ledger2)
        .collect().map(key).toSet

    val mem = MemoryStream[(Long, String)]
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Array[Verdict]]()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_neardup_refresh").toString
    val rq = new graft.streaming.StreamingNearDup.Refreshable(spark,
      mem.toDF().toDF("doc_id", "text"), ckpt,
      (ds, batchId) => byBatch.put(batchId, ds.collect()))
    rq.start(Dedup.buildNearDupIndex(ledger1))
    try {
      mem.addData(phase1: _*); rq.processAllAvailable()
      rq.refresh(Dedup.buildNearDupIndex(ledger2))
      mem.addData(phase2: _*); rq.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = byBatch.values.asScala.flatten
        .map(v => (v.doc_id, v.verdict, v.near_dup_of, v.jaccard_pct)).toSet
      val want = expected.map { case (id, vd, of, j) =>
        (id, vd, of.map(_.asInstanceOf[Long]), j.map(_.asInstanceOf[Long])) }
      assert(got == want)
      // the swap is visible: 201 near-dups against the refreshed doc 4...
      assert(got.exists(v => v._1 == 201L && v._2 == "near_dup" && v._3 == Some(4L)))
      // ...and 103's pre-swap admission stands (no reprocessing), even
      // though ledger2 would have judged it a near-dup
      assert(got.count(_._1 == 103L) == 1 &&
        got.exists(v => v._1 == 103L && v._2 == "admitted"))
    } finally rq.stop()
  }

  test("mid-stream hot swap via INCREMENTAL index refresh equals the " +
      "full-rebuild swap (the production upkeep path)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    import graft.streaming.StreamingNearDup.Verdict
    // same fixture as the rebuild-swap test above, but the new index is
    // refreshNearDupIndex(old, delta) instead of build(ledger2) — the
    // shape a standing 100 TB ledger actually uses (append the admitted
    // batch, never re-shingle the corpus)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    def uwords(n: Int) = (1 to n).map(i => s"u$i").mkString(" ")
    val ledger1 = Seq((1L, words(20)),
      (3L, "totally unrelated ledger doc content here")).toDF("doc_id", "text")
    val delta = Seq((4L, uwords(10))).toDF("doc_id", "text")
    val ledger2 = ledger1.union(delta)
    val phase1 = Seq((101L, words(20)), (103L, uwords(10)))
    val phase2 = Seq((201L, uwords(9) + " z"), (202L, "something else entirely"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
    val expected =
      Dedup.incrementalNearDup(phase1.toDF("doc_id", "text"), ledger1)
        .collect().map(key).toSet ++
      Dedup.incrementalNearDup(phase2.toDF("doc_id", "text"), ledger2)
        .collect().map(key).toSet
    val mem = MemoryStream[(Long, String)]
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Array[Verdict]]()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_neardup_incr_refresh").toString
    val rq = new graft.streaming.StreamingNearDup.Refreshable(spark,
      mem.toDF().toDF("doc_id", "text"), ckpt,
      (ds, batchId) => byBatch.put(batchId, ds.collect()))
    val idx1 = Dedup.buildNearDupIndex(ledger1)
    rq.start(idx1)
    try {
      mem.addData(phase1: _*); rq.processAllAvailable()
      rq.refresh(Dedup.refreshNearDupIndex(idx1, delta))
      mem.addData(phase2: _*); rq.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = byBatch.values.asScala.flatten
        .map(v => (v.doc_id, v.verdict, v.near_dup_of, v.jaccard_pct)).toSet
      val want = expected.map { case (id, vd, of, j) =>
        (id, vd, of.map(_.asInstanceOf[Long]), j.map(_.asInstanceOf[Long])) }
      assert(got == want)
      // the refreshed posting is live: 201 near-dups against delta doc 4
      assert(got.exists(v => v._1 == 201L && v._2 == "near_dup" && v._3 == Some(4L)))
    } finally rq.stop()
  }

  test("refresh swaps the served index inside the running query: same " +
      "runId, old index released, next batch judged by the new index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    import org.apache.spark.storage.StorageLevel
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    def uwords(n: Int) = (1 to n).map(i => s"u$i").mkString(" ")
    val ledger1 = Seq((1L, words(20)),
      (3L, "totally unrelated ledger doc content here")).toDF("doc_id", "text")
    val ledger2 = ledger1.union(Seq((4L, uwords(10))).toDF("doc_id", "text"))
    val mem = MemoryStream[(Long, String)]
    val out = new Collected
    val rq = new graft.streaming.StreamingNearDup.Refreshable(spark,
      mem.toDF().toDF("doc_id", "text"), checkpoint("graft_neardup_swap"),
      (ds, batchId) => out.sink(ds.toDF(), batchId))
    val idx1 = Dedup.buildNearDupIndex(ledger1)
    rq.start(idx1)
    try {
      mem.addData((101L, words(20))); rq.processAllAvailable()
      val runId = rq.query.runId
      val idx2 = Dedup.buildNearDupIndex(ledger2)
      rq.refresh(idx2)
      assert(rq.query.isActive && rq.query.runId == runId,
        "refresh must not stop or restart the query")
      assert(Seq(idx1.buckets, idx1.shingles, idx1.dropped)
        .forall(_.storageLevel == StorageLevel.NONE), "old index not released")
      val phase2 = Seq((201L, uwords(9) + " z"), (202L, "something else"))
      mem.addData(phase2: _*); rq.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))
      val want = Dedup.indexNearDup(phase2.toDF("doc_id", "text"), idx2)
        .collect().map(key).toSet
      assert(out.byBatch.get(1L).map(key).toSet == want)
      assert(want.exists(v => v._1 == 201L && v._3 == Some(4L)),
        s"degenerate fixture: $want")
      assert(rq.query.runId == runId)
    } finally rq.stop()
  }

  test("streaming dedup TTL expires state and re-admits late duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.StreamingDedup.firstSeenTtl(spark,
        mem.toDF().toDF("doc_id", "ts", "text"),
        watermarkDelay = "0 seconds", ttlMs = 5000L)
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
      // batch 1: duplicate within batch -> first doc only
      mem.addData((1L, t(0), "dup text"), (2L, t(0), "dup  TEXT"))
      q.processAllAvailable()
      // batch 2 advances max event time; watermark still at t(0)
      mem.addData((3L, t(100), "advancer one"))
      q.processAllAvailable()
      // batch 3: watermark now t(100) > t(0)+5s -> 'dup text' state expires
      mem.addData((5L, t(200), "advancer two"))
      q.processAllAvailable()
      // batch 4: same fingerprint after expiry -> re-admitted
      mem.addData((6L, t(210), "dup text"))
      q.processAllAvailable()
      val ids = spark.table("dedup_ttl").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L, 6L), ids.toSeq.sorted.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup TTL survives pre-expiry duplicates (timeout re-armed)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.StreamingDedup.firstSeenTtl(spark,
        mem.toDF().toDF("doc_id", "ts", "text"),
        watermarkDelay = "0 seconds", ttlMs = 5000L)
      .writeStream.format("memory").queryName("dedup_ttl_rearm")
      .outputMode("append").start()
    try {
      def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
      mem.addData((1L, t(0), "dup text"))           // first seen; expiry t+5s
      q.processAllAvailable()
      // duplicate BEFORE expiry: must be suppressed AND must not erase the
      // timeout (Spark clears a group's timeout on every invocation)
      mem.addData((2L, t(2), "dup  TEXT"))
      q.processAllAvailable()
      mem.addData((3L, t(100), "advancer one"))     // watermark -> t(2)
      q.processAllAvailable()
      mem.addData((4L, t(200), "advancer two"))     // watermark -> t(100): expiry fires
      q.processAllAvailable()
      mem.addData((5L, t(210), "dup text"))         // re-admitted after expiry
      q.processAllAvailable()
      val ids = spark.table("dedup_ttl_rearm").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 4L, 5L), ids.toSeq.sorted.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup equals batch Dedup.exact on replayed fixture documents") {
    // the batch-replay equivalence gate: streaming output cannot be
    // oracle-checked live, but replaying the same corpus through the batch
    // operator must yield the identical survivor set. Feed in doc_id order
    // so streaming first-seen coincides with batch keep-min-doc_id.
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    // planted duplicates (whitespace/case variants) guarantee the gate is
    // non-trivial even if the fixture had no exact dups
    val planted = Seq((900001L, base.head._2),
      (900002L, "  " + base.last._2.toUpperCase + "  "))
    val all = base.toSeq ++ planted
    val expected = graft.pipeline.Dedup.exact(all.toDF("doc_id", "text"))
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.firstSeen(spark,
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_replay")
      .outputMode("append").start()
    try {
      all.grouped(math.max(1, all.size / 5)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val got = spark.table("dedup_replay").collect().map(_.getLong(0)).toSet
      assert(expected.size < all.size, "fixture+planted must contain duplicates")
      assert(got == expected,
        s"stream-only=${(got -- expected).toSeq.sorted} batch-only=${(expected -- got).toSeq.sorted}")
    } finally q.stop()
  }

  test("TTL streaming dedup equals per-window batch Dedup.exact") {
    // windowed batch model: split the replayed event stream into session
    // windows (gap > ttl => every state must have expired between windows),
    // run the BATCH operator per window, union the survivors. Valid when
    // intra-window repeats fall within ttl of their first occurrence and a
    // watermark-advancing batch separates expiry from re-admission (Spark
    // fires EventTimeTimeout only for groups with no data in the trigger).
    implicit val sqlCtx = spark.sqlContext
    val ttlMs = 5000L
    def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
    val batches = Seq(
      Seq((1L, t(0), "alpha doc"), (2L, t(0), "alpha doc"), (3L, t(1), "beta doc")),
      Seq((4L, t(2), "alpha doc")),      // dup within ttl -> suppressed
      Seq((5L, t(100), "gamma doc")),    // advances watermark past expiries
      Seq((8L, t(105), "delta doc")),    // trigger with no alpha/beta data: timeouts fire
      Seq((6L, t(110), "alpha doc"), (7L, t(110), "beta doc"))) // re-admitted
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.StreamingDedup.firstSeenTtl(spark,
        mem.toDF().toDF("doc_id", "ts", "text"),
        watermarkDelay = "0 seconds", ttlMs = ttlMs)
      .writeStream.format("memory").queryName("dedup_ttl_replay")
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = spark.table("dedup_ttl_replay").collect().map(_.getLong(0)).toSet
      val windows = batches.flatten.sortBy(e => (e._2.getTime, e._1))
        .foldLeft(Vector.empty[Vector[(Long, Timestamp, String)]]) { (acc, e) =>
          if (acc.nonEmpty && e._2.getTime - acc.last.last._2.getTime <= ttlMs)
            acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
        }
      assert(windows.size == 2, s"test data must form 2 ttl windows, got ${windows.size}")
      val expected = windows.flatMap { w =>
        graft.pipeline.Dedup.exact(w.map(e => (e._1, e._3)).toDF("doc_id", "text"))
          .where(col("keep")).select("doc_id").as[Long].collect()
      }.toSet
      assert(got == expected,
        s"stream-only=${(got -- expected).toSeq.sorted} batch-only=${(expected -- got).toSeq.sorted}")
    } finally q.stop()
  }

  test("placement monitor re-verifies streamed replica snapshots") {
    val tmp = Files.createTempDirectory("graft-monitor").toFile.getAbsolutePath
    val snapDir = s"$tmp/snapshots"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val topo = sources.MetaFixtures.topology(spark)
    val blocks = Seq((1L, 3), (2L, 3)).toDF("block_id", "require_replica")
    // block 1: balanced 2+1 across DCs; block 2: all on one node
    Seq((1L, 0, "dn-2", "st-2-0-0"), (1L, 1, "dn-4", "st-4-0-0"),
      (1L, 2, "dn-1", "st-1-0-0"),
      (2L, 0, "dn-7", "st-7-0-0"), (2L, 1, "dn-7", "st-7-0-0"),
      (2L, 2, "dn-7", "st-7-0-0"))
      .toDF("block_id", "replica_index", "datanode_uuid", "storage_id")
      .repartition(1).write.parquet(snapDir)
    val q = PlacementMonitor.start(spark, snapDir, topo, blocks, outDir,
      Trigger.AvailableNow(), ckpt)
    q.awaitTermination(60000)
    val res = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("satisfied")).toMap
    assert(res == Map(1L -> true, 2L -> false))
  }

  /** Deterministic synthetic step events: ~60 entities, three steps with
    * assorted orderings, gaps and repeats. */
  private def funnelFixture: Seq[graft.streaming.StreamingFunnel.StepEvent] =
    (0L until 60L).flatMap { u =>
      val base = u * 1000L
      val evs = Seq(
        graft.streaming.StreamingFunnel.StepEvent(u, 1, base + (u * 7) % 50),
        graft.streaming.StreamingFunnel.StepEvent(u, 1, base + 60 + (u * 13) % 40),
        graft.streaming.StreamingFunnel.StepEvent(u, 2, base + (u * 11) % 120),
        graft.streaming.StreamingFunnel.StepEvent(u, 2, base + 130 + (u % 3) * 40),
        graft.streaming.StreamingFunnel.StepEvent(u, 3, base + (u * 17) % 260))
      // a third of entities never see step 3 in range; some get a late one
      if (u % 3 == 0) evs.filter(_.step != 3)
      else if (u % 5 == 0)
        evs :+ graft.streaming.StreamingFunnel.StepEvent(u, 3, base + 900)
      else evs
    }

  private def batchFunnel(events: Seq[graft.streaming.StreamingFunnel.StepEvent],
      window: Option[Long]): Map[Long, Seq[Long]] = {
    val names = Map(1 -> "a", 2 -> "b", 3 -> "c")
    val df = events.map(e => (e.entity, names(e.step), e.ts))
      .toDF("u", "event_type", "ts")
    graft.operators.Funnel
      .earliestCompletion(df, "u", "ts", "event_type", Seq("a", "b", "c"), window)
      .where(col("depth") === 3)
      .collect()
      .map(r => r.getAs[Long]("u") ->
        Seq(r.getAs[Long]("t1"), r.getAs[Long]("t2"), r.getAs[Long]("t3")))
      .toMap
  }

  test("streaming funnel completions equal batch funnel on shuffled replay") {
    implicit val sqlCtx = spark.sqlContext
    val events = funnelFixture
    val window = Some(400L)
    val expected = batchFunnel(events, window)
    // adversarial order: shuffle deterministically, deliver in 6 chunks
    val shuffled = events.sortBy(e => (e.ts * 2654435761L + e.entity) % 997)
    val mem = MemoryStream[graft.streaming.StreamingFunnel.StepEvent]
    val q = graft.streaming.StreamingFunnel.completions(mem.toDS(), 3, window)
      .writeStream.format("memory").queryName("funnel_replay")
      .outputMode("append").start()
    try {
      shuffled.grouped(math.max(1, shuffled.size / 6)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val got = spark.table("funnel_replay").collect()
        .map(r => r.getLong(0)).toSet
      assert(expected.nonEmpty && expected.size < 60)
      assert(got == expected.keySet,
        s"stream-only=${(got -- expected.keySet).toSeq.sorted} " +
          s"batch-only=${(expected.keySet -- got).toSeq.sorted}")
    } finally q.stop()
  }

  test("adversarial late step-1 with window: emission is final, batch diverges") {
    // The documented scope of the window guarantee: a late-arriving EARLIER
    // step-1 event shrinks the window and can invalidate an already-emitted
    // completion. Streaming output is append-only (no retraction), so the
    // emitted row stands while batch on the full history reports depth 1.
    import graft.streaming.StreamingFunnel.StepEvent
    implicit val sqlCtx = spark.sqlContext
    val window = Some(100L)
    val early = Seq(StepEvent(7L, 1, 100), StepEvent(7L, 2, 150), StepEvent(7L, 3, 200))
    val late = Seq(StepEvent(7L, 1, 0)) // t1=0 -> limit=100 -> b@150 excluded
    val mem = MemoryStream[StepEvent]
    val q = graft.streaming.StreamingFunnel.completions(mem.toDS(), 3, window)
      .writeStream.format("memory").queryName("funnel_late1")
      .outputMode("append").start()
    try {
      mem.addData(early); q.processAllAvailable()
      mem.addData(late); q.processAllAvailable()
      val got = spark.table("funnel_late1").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == Map(7L -> Seq(100L, 150L, 200L)), "emitted before the late event, final")
      // batch over the full history disagrees — exactly the scoped divergence
      assert(batchFunnel(early ++ late, window).isEmpty)
      // windowless, the SAME history agrees between streaming and batch
      assert(batchFunnel(early ++ late, None) == Map(7L -> Seq(0L, 150L, 200L)))
    } finally q.stop()
  }

  test("funnel state is O(active window), not O(history)") {
    import graft.streaming.StreamingFunnel.{FunnelState, StepEvent}
    val empty = FunnelState(Long.MaxValue, Map.empty, done = false)
    val window = Some(100L)

    // With step-1 known: 10k step-2 events past the window leave no state.
    val (st1, none1) = graft.streaming.StreamingFunnel.applyBatch(
      empty,
      (Iterator.single(StepEvent(1L, 1, 0)) ++
        (1 to 10000).iterator.map(i => StepEvent(1L, 2, 200L + i))),
      nSteps = 3, window, watermark = Long.MinValue)
    assert(none1.isEmpty)
    assert(st1.minStep1 == 0L)
    assert(st1.later.values.map(_.size).sum == 0, "past-window times must drop")

    // In-window candidates are retained, bounded by the window contents.
    val (st2, _) = graft.streaming.StreamingFunnel.applyBatch(
      st1, (1 to 5).iterator.map(i => StepEvent(1L, 2, i * 10L)),
      nSteps = 3, window, watermark = Long.MinValue)
    assert(st2.later(2).size == 5)

    // No step-1 yet + watermark: candidates at or below the horizon evict.
    val (st3, none3) = graft.streaming.StreamingFunnel.applyBatch(
      empty, (1 to 10000).iterator.map(i => StepEvent(2L, 2, i.toLong)),
      nSteps = 3, window, watermark = 10000L)
    assert(none3.isEmpty)
    assert(st3.later.values.map(_.size).sum == 0, "sub-watermark times must evict")

    // ...but candidates a future step-1 could still pair with survive.
    val (st4, _) = graft.streaming.StreamingFunnel.applyBatch(
      empty, (1 to 100).iterator.map(i => StepEvent(3L, 2, 10000L + i)),
      nSteps = 3, window, watermark = 10000L)
    assert(st4.later(2).size == 100)
  }

  test("streaming funnel times equal batch exactly on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val events = funnelFixture.sortBy(_.ts)
    val window = Some(400L)
    val expected = batchFunnel(events, window)
    val mem = MemoryStream[graft.streaming.StreamingFunnel.StepEvent]
    val q = graft.streaming.StreamingFunnel.completions(mem.toDS(), 3, window)
      .writeStream.format("memory").queryName("funnel_inorder")
      .outputMode("append").start()
    try {
      events.grouped(60).foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = spark.table("funnel_inorder").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming drift equals batch distributionDrift on split replay, " +
      "emission is final, state removed on close") {
    import graft.operators.Anomaly
    import graft.streaming.StreamingDrift
    implicit val sqlCtx = spark.sqlContext
    val winMs = 1000L
    // base offset keeps every event strictly above the initial watermark
    // (0): a row AT the watermark is dropped by the late filter
    val base = 10L
    def ts(win: Long, off: Long) = new Timestamp((base + win) * winMs + off)
    // same distribution as the AnomalySpec case: window 0 = baseline
    // (a:2 b:2), window 1 all-a, window 2 introduces c, window 3 skewed
    val bucketOf = Map("a" -> 0L, "b" -> 1L, "c" -> 2L)
    val rows = Seq(
      (0L, "a"), (0L, "a"), (0L, "b"), (0L, "b"),
      (1L, "a"), (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "c"), (2L, "a"),
      (3L, "a"), (3L, "b"), (3L, "b"), (3L, "b")).zipWithIndex
      .map { case ((win, b), i) => ("g", ts(win, i % 7 * 10), bucketOf(b)) }
    // batch reference over identical rows, period = window index
    val batch = Anomaly.distributionDrift(
        rows.toDF("grp", "ts", "bucket")
          .withColumn("period",
            org.apache.spark.sql.functions.expr(
              s"unix_millis(ts) div $winMs - $base")),
        col("grp"), col("period"), col("bucket"))
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("period")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("tv_micros"))).toMap
    // streaming baseline = window 0's shares (what batch uses implicitly)
    val w0 = rows.filter(_._2.getTime < (base + 1) * winMs)
    val tot0 = w0.size
    val baseline = w0.groupBy(_._3).map { case (b, g) =>
      ("g", b) -> g.size * 1000000L / tot0 }
    val mem = MemoryStream[(String, Timestamp, Long)]
    // the late-first replay below is bounded by the delay: with a 10 s
    // watermark delay nothing in the 4 s fixture is ever past-watermark
    val q = StreamingDrift.drift(spark, mem.toDF().toDF("grp", "ts", "bucket"),
        baseline, winMs, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      val (early, late) = rows.splitAt(rows.size / 2)
      mem.addData(late); q.processAllAvailable()   // out-of-order split
      mem.addData(early); q.processAllAvailable()
      // sentinels advance the watermark past window 3's end
      mem.addData(("zz", new Timestamp(50 * winMs), 0L)); q.processAllAvailable()
      mem.addData(("zz", new Timestamp(60 * winMs), 0L)); q.processAllAvailable()
      val got = spark.table("drift_stream")
        .where(col("grp") === "g").collect()
        .map(r => (r.getAs[String]("grp"),
          r.getAs[Long]("window_start_ms") / winMs - base) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("tv_micros"))).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      // exactly one emission per closed window — append-only, final
      assert(spark.table("drift_stream").where(col("grp") === "g").count() == 4)
    } finally q.stop()
  }

  test("streaming windowed quantiles equal the batch cumulative-count " +
      "derivation on split replay; emission is final") {
    import graft.streaming.StreamingQuantiles
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, expr, lit, min, sum}
    implicit val sqlCtx = spark.sqlContext
    val winMs = 1000L
    val base = 10L
    def ts(win: Long, off: Long) = new Timestamp((base + win) * winMs + off)
    // 3 windows x 2 groups, value multiset with duplicates and skew
    val rnd = new scala.util.Random(11)
    val rows = for {
      win <- 0L to 2L; g <- Seq("g1", "g2"); i <- 1 to 20 + (win * 7).toInt
    } yield (g, ts(win, rnd.nextInt(900)), (rnd.nextInt(6) * rnd.nextInt(6)).toLong)
    val ps = Seq(500000L, 900000L, 990000L)
    // independent batch twin: counts -> cumulative window -> first value
    // whose cumulative count passes the nearest-rank-lower index
    val counted = rows.toDF("grp", "ts", "v")
      .withColumn("win", expr(s"unix_millis(ts) div $winMs - $base"))
      .groupBy("grp", "win", "v").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.partitionBy("grp", "win").orderBy("v")))
      .withColumn("n", sum("c").over(Window.partitionBy("grp", "win")))
    val batch = ps.zipWithIndex.map { case (p, i) =>
      counted.where(col("cum") > expr(s"(n - 1) * $p div 1000000"))
        .groupBy("grp", "win").agg(min("v").as(s"q_$i"))
    }.reduce(_.join(_, Seq("grp", "win")))
      .join(counted.groupBy("grp", "win")
        .agg(sum("c").as("n")), Seq("grp", "win"))
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("win")) ->
        (r.getAs[Long]("n"),
          Seq(r.getAs[Long]("q_0"), r.getAs[Long]("q_1"), r.getAs[Long]("q_2"))))
      .toMap
    val mem = MemoryStream[(String, Timestamp, Long)]
    val q = StreamingQuantiles.quantiles(spark,
        mem.toDF().toDF("grp", "ts", "v"), winMs,
        watermarkDelay = "10 seconds", psMicros = ps)
      .writeStream.format("memory").queryName("quantile_stream")
      .outputMode("append").start()
    try {
      val (early, late) = rows.splitAt(rows.size / 2)
      mem.addData(late); q.processAllAvailable() // out-of-order split
      mem.addData(early); q.processAllAvailable()
      mem.addData(("zz", new Timestamp(50 * winMs), 0L)); q.processAllAvailable()
      mem.addData(("zz", new Timestamp(60 * winMs), 0L)); q.processAllAvailable()
      val got = spark.table("quantile_stream")
        .where(col("grp") =!= "zz").collect()
        .map(r => (r.getAs[String]("grp"),
          r.getAs[Long]("window_start_ms") / winMs - base) ->
          (r.getAs[Long]("n"), r.getAs[Seq[Long]]("qs")))
        .toMap
      assert(got == batch, s"stream=$got batch=$batch")
      // one final append-only row per closed (group, window)
      assert(spark.table("quantile_stream")
        .where(col("grp") =!= "zz").count() == 6)
    } finally q.stop()
  }

  test("count-min sketch aggregates in streaming windows, " +
      "byte-identical to the batch sketch per window") {
    import org.apache.spark.sql.functions.{call_function, lit, window}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(10000L + s * 1000L)
    val rows = (0L until 40L).map(i => (ts(i % 4), i % 7))
    val mem = MemoryStream[(Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "2 seconds"))
      .agg(call_function("graft_cms_agg", col("v"), lit(2), lit(64)).as("cms"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(25)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      mem.addData((ts(100), 0L)); q.processAllAvailable()
      mem.addData((ts(120), 0L)); q.processAllAvailable()
      val got = spark.table("cms_stream")
        .selectExpr("window.start AS ws", "cms").collect()
        .map(r => r.getAs[Timestamp]("ws").getTime ->
          r.getAs[Array[Byte]]("cms")).toMap
      val batch = rows.toDF("ts", "v")
        .groupBy(window(col("ts"), "2 seconds"))
        .agg(call_function("graft_cms_agg", col("v"), lit(2), lit(64)).as("cms"))
        .selectExpr("window.start AS ws", "cms").collect()
        .map(r => r.getAs[Timestamp]("ws").getTime ->
          r.getAs[Array[Byte]]("cms")).toMap
      assert(batch.keySet.subsetOf(got.keySet))
      for ((ws, blob) <- batch)
        assert(java.util.Arrays.equals(got(ws), blob),
          s"window $ws sketch differs from batch")
    } finally q.stop()
  }

  test("hll distinct sketch aggregates in streaming windows, " +
      "byte-identical to the batch sketch per window — and the emitted " +
      "window blobs re-merge to the whole-stream sketch") {
    import org.apache.spark.sql.functions.{call_function, col, lit, window}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(10000L + s * 1000L)
    // duplicated users across and within windows: the idempotent-max
    // register merge is what keeps re-deliveries from double-counting
    val rows = (0L until 60L).map(i => (ts(i % 4), i % 13))
    val mem = MemoryStream[(Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "2 seconds"))
      .agg(call_function("graft_hll_agg", col("user"), lit(6)).as("sk"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(37)
      mem.addData(b); q.processAllAvailable()   // out-of-order split
      mem.addData(a); q.processAllAvailable()
      mem.addData((ts(100), 0L)); q.processAllAvailable()
      mem.addData((ts(120), 0L)); q.processAllAvailable()
      val got = spark.table("hll_stream")
        .selectExpr("window.start AS ws", "sk").collect()
        .map(r => r.getAs[Timestamp]("ws").getTime ->
          r.getAs[Array[Byte]]("sk")).toMap
      val batch = rows.toDF("ts", "user")
        .groupBy(window(col("ts"), "2 seconds"))
        .agg(call_function("graft_hll_agg", col("user"), lit(6)).as("sk"))
        .selectExpr("window.start AS ws", "sk").collect()
        .map(r => r.getAs[Timestamp]("ws").getTime ->
          r.getAs[Array[Byte]]("sk")).toMap
      assert(batch.keySet.subsetOf(got.keySet))
      for ((ws, blob) <- batch)
        assert(java.util.Arrays.equals(got(ws), blob),
          s"window $ws sketch differs from batch")
      // downstream re-merge of the emitted per-window blobs == one
      // sketch over every event (the stored-sketch rollup path)
      val merged = spark.table("hll_stream")
        .where(col("window.start") < ts(50)) // the two real windows
        .agg(call_function("graft_hll_merge", col("sk")))
        .head().getAs[Array[Byte]](0)
      val whole = rows.toDF("ts", "user")
        .agg(call_function("graft_hll_agg", col("user"), lit(6)))
        .head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(merged, whole))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join on split replay") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val vRows = Seq((1L, t(10, 0)), (1L, t(10, 30)), (2L, t(10, 5)),
      (3L, t(11, 0)))
    val pRows = Seq((1L, t(10, 20), 5.0), (1L, t(10, 50), 7.0),
      (2L, t(12, 0), 9.0), (4L, t(10, 10), 1.0))
    val vMem = MemoryStream[(Long, Timestamp)]
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingJoin.attributedPairs(
      vMem.toDF().toDF("user_id", "view_ts"),
      pMem.toDF().toDF("user_id", "purchase_ts", "value"),
      window = "1 hour", watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      // split replay, out-of-order WITHIN the watermark on both sides
      vMem.addData(vRows(1), vRows(0)); pMem.addData(pRows(0))
      q.processAllAvailable()
      vMem.addData(vRows(2), vRows(3)); pMem.addData(pRows(1), pRows(2), pRows(3))
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getDouble(3))).toSet
      val batch = StreamingJoin.attributedPairs(
          vRows.toDF("user_id", "view_ts"),
          pRows.toDF("user_id", "purchase_ts", "value"),
          window = "1 hour", watermark = "30 minutes")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getDouble(3))).toSet
      assert(got == batch, s"streaming $got vs batch $batch")
      // sanity on semantics: purchase at 10:20 pairs with the 10:00 view
      // only; purchase at 12:00 (user 2) is outside the 10:05 view's hour
      assert(batch.contains((1L, t(10, 0), t(10, 20), 5.0)))
      assert(!batch.exists(p => p._1 == 2L))
      assert(batch.size == 3) // (10:00,10:20) (10:00,10:50) (10:30,10:50)
    } finally q.stop()
  }

  test("left-outer interval join: matched subset equals the batch inner " +
      "join; unconverted views emit null exactly once at watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val vRows = Seq((1L, t(10, 0)), (1L, t(10, 30)), (2L, t(10, 5)),
      (3L, t(11, 0)))
    val pRows = Seq((1L, t(10, 20), 5.0), (1L, t(10, 50), 7.0),
      (2L, t(12, 0), 9.0), (4L, t(10, 10), 1.0))
    val vMem = MemoryStream[(Long, Timestamp)]
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingJoin.attributedOrNull(
      vMem.toDF().toDF("user_id", "view_ts"),
      pMem.toDF().toDF("user_id", "purchase_ts", "value"),
      window = "1 hour", watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("ss_outer")
      .outputMode("append").start()
    try {
      vMem.addData(vRows(1), vRows(0)); pMem.addData(pRows(0))
      q.processAllAvailable()
      vMem.addData(vRows(2), vRows(3)); pMem.addData(pRows(1), pRows(2), pRows(3))
      q.processAllAvailable()
      // the unmatched-left emission must NOT have fired yet: every null
      // row requires the purchase watermark to pass view_ts + window,
      // and nothing has advanced it past 11:30 so far — a premature null
      // here would be a retractable (wrong) non-conversion verdict
      assert(!spark.table("ss_outer").collect().exists(_.isNullAt(2)),
        "null emission before watermark expiry")
      // push BOTH watermarks far past every view's join range so
      // unmatched view state expires and emits its null row (expiry
      // needs a subsequent batch; nudge twice)
      vMem.addData((99L, t(20, 0))); pMem.addData((99L, t(20, 0), 0.0))
      q.processAllAvailable()
      vMem.addData((99L, t(21, 0))); pMem.addData((99L, t(21, 0), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ss_outer").collect()
        .filter(_.getLong(0) != 99L)
        .map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      // matched subset == the batch INNER join
      val matched = rows.collect {
        case (u, vt, Some(pt), Some(v)) => (u, vt, pt, v)
      }.toSet
      val batch = StreamingJoin.attributedPairs(
          vRows.toDF("user_id", "view_ts"),
          pRows.toDF("user_id", "purchase_ts", "value"),
          window = "1 hour", watermark = "30 minutes")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getDouble(3))).toSet
      assert(matched == batch, s"matched $matched vs batch $batch")
      // expiry emission: the two unconverted views (user 2's purchase is
      // outside its hour; user 3 never purchases) emit null EXACTLY once
      val nulls = rows.collect { case (u, vt, None, None) => (u, vt) }
      assert(nulls.toSet == Set((2L, t(10, 5)), (3L, t(11, 0))),
        s"unexpected null emissions: ${nulls.toSeq}")
      // no view appears both matched and null, and no duplicate nulls
      assert(nulls.distinct.length == nulls.length)
      val matchedViews = matched.map(p => (p._1, p._2))
      assert(nulls.forall(n => !matchedViews.contains(n)), s"$nulls vs $matchedViews")
      // and the COMPLETE streaming output equals the batch LEFT-OUTER on
      // the same within-watermark slice (watermarks are no-ops in batch,
      // so batch attributedOrNull is the plain outer join — the stream's
      // eviction-driven nulls must land it on exactly that relation)
      val batchOuter = StreamingJoin.attributedOrNull(
          vRows.toDF("user_id", "view_ts"),
          pRows.toDF("user_id", "purchase_ts", "value"),
          window = "1 hour", watermark = "30 minutes")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      assert(rows.toSet == batchOuter, s"streaming ${rows.toSet} vs batch $batchOuter")
    } finally q.stop()
  }

  test("interval join drops beyond-watermark stragglers; batch diverges " +
      "(bounded-lateness scope pinned)") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val vMem = MemoryStream[(Long, Timestamp)]
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingJoin.attributedPairs(
      vMem.toDF().toDF("user_id", "view_ts"),
      pMem.toDF().toDF("user_id", "purchase_ts", "value"),
      window = "1 hour", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ss_join_late")
      .outputMode("append").start()
    try {
      vMem.addData((1L, t(10, 0)))
      pMem.addData((9L, t(10, 0), 0.0))
      q.processAllAvailable()
      // advance both watermarks far past the view's join range
      vMem.addData((8L, t(18, 0)))
      pMem.addData((9L, t(18, 0), 0.0))
      q.processAllAvailable()
      // straggler purchase inside the 10:00 view's window, hours late:
      // its event time is behind the watermark, so the buffered view is
      // gone and no pair can be emitted
      pMem.addData((1L, t(10, 30), 5.0))
      q.processAllAvailable()
      assert(!spark.table("ss_join_late").collect()
        .exists(_.getLong(0) == 1L))
    } finally q.stop()
  }

  test("streaming snapshot maintenance converges to the batch CDC fold " +
      "under out-of-order cross-batch arrival") {
    import graft.streaming.StreamingUpsert
    import graft.streaming.StreamingUpsert.{Change, Update}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    // 300 changes over 80 keys, globally unique versions, ~1/4 deletes
    val log = (0 until 300).map { v =>
      val k = rnd.nextInt(80).toLong
      if (rnd.nextInt(4) == 0) Change(k, v.toLong, "delete", "")
      else Change(k, v.toLong, "upsert", s"p$v")
    }
    // arrival order decoupled from version order, split across 3 batches
    val arrival = rnd.shuffle(log)
    val mem = MemoryStream[Change]
    val q = StreamingUpsert.maintain(spark, mem.toDS())
      .writeStream.format("memory").queryName("ups_stream")
      .outputMode("append").start()
    try {
      arrival.grouped(100).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      // materialize: per key, the highest-version changelog row
      val got = spark.table("ups_stream").as[Update].collect()
        .groupBy(_.k).map { case (k, us) => us.maxBy(_.v) }
        .filter(_.present).map(u => u.k -> u.payload).toMap
      val base = spark.emptyDataset[(Long, String)].toDF("k", "payload")
      val expected = graft.operators.Upsert.applyChanges(
          base, log.toDF("k", "v", "op", "payload"),
          Seq("k"), Seq("payload"), "op", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected)
      assert(expected.nonEmpty && expected.size < 80,
        "fixture must exercise both surviving and deleted keys")
      // state bound, measured: exactly one winner row per key ever
      // touched (tombstoned keys keep their winner so late lower
      // versions stay suppressed — state tracks the keyspace, not the
      // stream: 300 changes, <= 80 state rows)
      val touched = log.map(_.k).distinct.size.toLong
      assert(lastStateRows(q).contains(touched),
        s"state must hold one winner per touched key ($touched): " +
          s"${lastStateRows(q)}")
    } finally q.stop()
  }
}
