package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Executor-LOSS fault injection: kill one executor JVM (SIGKILL) while a
  * query is mid-flight on a real `local-cluster[2,16,4096]`, let the
  * standalone master replace it, and assert the recovered result is
  * bit-identical to an undisturbed run.
  *
  * Why this exists: RetrySpec pins determinism under single-TASK retry in
  * one JVM; ClusterSmoke pins row equality across healthy worker JVMs.
  * Neither ever loses a whole executor — the fault class that drops every
  * cached/shuffle block the process held at once and forces stage
  * recomputation over the survivors. The six batch scenarios cover the repo's
  * recovery-relevant storage modes:
  *
  *   - `placement_verify` — stateless shuffle DAG (pure recompute).
  *   - `q_part_triangles` / `q_part_pagerank` — the registry queries; at
  *     sf0.01 their co-purchase graph is under `DriverGraph.MaxEdges`, so
  *     both collect the edges to the driver and return a relation built
  *     from driver arrays (recomputed from the driver on loss).
  *   - `triangles_spark_plan` — the same edges through Triangles' Spark
  *     plan (`driverMaxEdges = 0`): broadcast bloom + heavy shuffle,
  *     final-output localCheckpoint only.
  *   - `pagerank_spark_plan` — the same edges through PageRank's Spark
  *     plan: iterative with `persist()`ed edge/node caches
  *     (recompute-able lineage; lost blocks must rebuild mid-iteration).
  *   - connected components (`Dedup.resolveClusters`) in RELIABLE
  *     checkpoint mode — `checkpointDir` exists precisely to survive
  *     executor loss (localCheckpoint mode cannot, by contract) and had
  *     never been exercised by an actual loss before this harness.
  *
  * Plus one STREAMING scenario: a file-source -> StreamingUpsert ->
  * parquet-sink query with a real checkpoint loses an executor between
  * micro-batches; the recovered state-store must still suppress a stale
  * straggler version, and the materialized output must equal the batch
  * CDC fold (the StreamingRestartSpec contract, now under process death
  * rather than a polite stop()).
  *
  * The kill is verified to land while the query thread is alive, and each
  * scenario waits for the replacement executor before proceeding, so a
  * fast query can't silently turn the gate into a no-op.
  *
  * Run (same env contract as ClusterSmoke):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "Test/runMain graft.ExecutorLoss"
  */
object ExecutorLoss {

  /** Executor JVMs of THIS suite's local-cluster only: the in-process
    * workers fork executors as descendants of this JVM, so scoping to
    * `ProcessHandle.current().descendants()` guarantees a concurrent
    * Spark run on the host (a bench, another smoke) can neither be
    * SIGKILLed by us nor counted as one of our replacements. */
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend"))
      .toSeq

  /** SIGKILL one executor JVM; returns its pid. */
  private def killOneExecutor(): Long = {
    val hs = executorHandles()
    require(hs.nonEmpty, "no executor JVM found to kill")
    val h = hs.minBy(_.pid())
    val pid = h.pid()
    h.destroyForcibly()
    // wait for the process to actually die so "loss" is unambiguous
    val dead = h.onExit()
    try dead.get(30, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: Throwable => }
    pid
  }

  /** Block until `n` live executor JVMs exist again (master replaces the
    * killed one) — so consecutive scenarios each start from a healthy
    * 2-executor cluster and the NEXT kill is a real loss too. */
  private def awaitExecutors(n: Int, timeoutSec: Int = 120): Unit = {
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    while (executorHandles().count(_.isAlive) < n) {
      require(System.nanoTime() < deadline,
        s"replacement executor did not register within ${timeoutSec}s")
      Thread.sleep(500)
    }
  }

  /** Run `mk` to rows undisturbed TWICE (the first pass absorbs codegen
    * and plan warmup; the second, warm duration calibrates the kill
    * delay — the faulted run is warm too, so a cold-run delay lands the
    * kill after a fast query already finished), then with one executor
    * killed mid-flight; a kill that still misses the window retries with
    * a shrinking delay. Returns (cleanRows, faultedRows, midFlight). */
  private def withLoss(name: String)(mk: () => DataFrame)
      : (Seq[String], Seq[String], Boolean) = {
    val clean = ClusterSmoke.canon(mk())
    val t0 = System.nanoTime()
    val warm = ClusterSmoke.canon(mk())
    val warmSec = (System.nanoTime() - t0) / 1e9
    require(clean == warm, s"$name is nondeterministic WITHOUT faults")
    awaitExecutors(2)
    var result: (Seq[String], Boolean) = null
    val fractions = Seq(0.35, 0.15, 0.05)
    var attempt = 0
    while (result == null || (!result._2 && attempt < fractions.size)) {
      val frac = fractions(attempt)
      attempt += 1
      @volatile var faulted: Seq[String] = null
      @volatile var err: Throwable = null
      val th = new Thread(() => {
        try faulted = ClusterSmoke.canon(mk())
        catch { case e: Throwable => err = e }
      }, s"faulted-$name-$attempt")
      th.start()
      val delayMs = math.max(100L, (warmSec * frac * 1000).toLong)
      Thread.sleep(delayMs)
      val running = th.isAlive
      val pid = killOneExecutor()
      println(f"[executor-loss] $name killed pid=$pid at ${delayMs / 1000.0}%.2fs " +
        f"of ~$warmSec%.2fs warm (midFlight=$running attempt=$attempt)")
      th.join(300000)
      require(!th.isAlive, s"$name did not finish within 5 min after the kill")
      if (err != null) throw new IllegalStateException(
        s"$name failed after executor loss", err)
      awaitExecutors(2)
      if (result == null || running) result = (faulted, running)
    }
    (clean, result._1, result._2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    require(sys.env.contains("SPARK_HOME") && sys.env.contains("SPARK_SCALA_VERSION"),
      "run with SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 (see scaladoc)")
    val repoClasses = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = ClusterSmoke.session("local-cluster[2,16,4096]", repoClasses)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // warmup: executors registered + codegen warm before any timing
    spark.range(10000000L).repartition(32).selectExpr("sum(id)").collect()
    awaitExecutors(2)

    var failed = 0
    var notMidFlight = 0
    var scenarios = 1 // the streaming one below
    def scenario(name: String)(mk: () => DataFrame): Unit = {
      scenarios += 1
      val (clean, faulted, mid) = withLoss(name)(mk)
      val ok = clean == faulted
      if (!ok) failed += 1
      if (!mid) notMidFlight += 1
      println(s"[executor-loss] $name ${if (ok) "OK" else "MISMATCH"} " +
        s"rows=${clean.size} midFlight=$mid")
    }

    scenario("placement_verify")(() =>
      SparkEntry.queries("placement_verify")(spark, sfDir))
    scenario("q_part_triangles")(() =>
      SparkEntry.queries("q_part_triangles")(spark, sfDir))
    scenario("q_part_pagerank")(() =>
      SparkEntry.queries("q_part_pagerank")(spark, sfDir))
    // the same co-purchase edges through the Spark plans, so the bloom
    // broadcast and the persisted iteration caches stay under the fault
    def coPurchase() = queries.GraphQueries.coPurchaseEdges(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey"))
    scenario("triangles_spark_plan")(() =>
      operators.Triangles.perNode(coPurchase(), "u", "v", driverMaxEdges = 0))
    scenario("pagerank_spark_plan")(() =>
      operators.PageRank.ranksUndirected(coPurchase().distinct(), "u", "v",
        iters = 3, driverMaxEdges = 0))
    // CC in reliable-checkpoint mode over the registered near-dup pair
    // relation: the one storage mode whose whole purpose is this fault.
    // driverMaxEdges = 0 keeps it on the checkpointed star path (the small
    // pair list would otherwise take the driver path, which checkpoints
    // nothing)
    val ccDir = Files.createTempDirectory("graft_cc_loss").toString
    scenario("resolve_clusters_reliable")(() =>
      pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashLshPairs(Tables.documents(spark, sfDir)),
        checkpointDir = Some(ccDir), driverMaxEdges = 0))

    // ---- streaming: executor dies between micro-batches -----------------
    import graft.streaming.StreamingUpsert
    import graft.streaming.StreamingUpsert.{Change, Update}
    val (srcDir, outDir, ckDir) = (
      Files.createTempDirectory("el_src").toString,
      Files.createTempDirectory("el_out").toString,
      Files.createTempDirectory("el_ck").toString)
    def changeJson(c: Change): String =
      s"""{"k":${c.k},"v":${c.v},"op":"${c.op}","payload":"${c.payload}"}"""
    val mtime = new java.util.concurrent.atomic.AtomicLong(
      System.currentTimeMillis())
    def addFile(name: String, cs: Seq[Change]): Unit = {
      val p = Files.write(Path.of(srcDir, s"$name.json"),
        (cs.map(changeJson).mkString("\n") + "\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime.addAndGet(2000)))
    }
    val rnd = new scala.util.Random(31)
    val log = rnd.shuffle((0 until 300).map { v =>
      val k = rnd.nextInt(80).toLong
      if (rnd.nextInt(4) == 0) Change(k, v.toLong, "delete", "")
      else Change(k, v.toLong, "upsert", s"p$v")
    })
    // winner before the kill, straggler after: only state that SURVIVED
    // the executor loss can suppress the stale resurrection
    val phase1 = log.take(150) ++ Seq(Change(900L, 1000L, "upsert", "winner"))
    val phase2 = log.drop(150) ++ Seq(Change(900L, 5L, "upsert", "stale"))
    addFile("b000", phase1)
    val changes = spark.readStream
      .schema(Encoders.product[Change].schema)
      .option("maxFilesPerTrigger", 1)
      .json(srcDir)
      .as[Change]
    val q = StreamingUpsert.maintain(spark, changes)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .start()
    q.processAllAvailable()
    val pid = killOneExecutor()
    println(s"[executor-loss] streaming_upsert killed pid=$pid between batches")
    addFile("b001", phase2)
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    awaitExecutors(2)
    val got = spark.read.schema(Encoders.product[Update].schema)
      .parquet(outDir).as[Update].collect()
      .groupBy(_.k).map { case (_, us) => us.maxBy(_.v) }
      .filter(_.present).map(u => u.k -> u.payload).toMap
    val base = spark.emptyDataset[(Long, String)].toDF("k", "payload")
    val expect = operators.Upsert.applyChanges(
        base, (phase1 ++ phase2).toDF("k", "v", "op", "payload"),
        Seq("k"), Seq("payload"), "op", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sOk = got == expect && got.get(900L).contains("winner")
    if (!sOk) failed += 1
    println(s"[executor-loss] streaming_upsert " +
      s"${if (sOk) "OK" else "MISMATCH"} keys=${got.size} " +
      s"winner_suppressed_stale=${got.get(900L).contains("winner")}")

    // a kill that never lands mid-flight is a no-op scenario, not a pass
    val ok = failed == 0 && notMidFlight == 0
    println(s"[executor-loss] ${if (ok) "PASS" else "FAIL"} " +
      s"scenarios=$scenarios failed=$failed notMidFlight=$notMidFlight sf=$sfDir")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
