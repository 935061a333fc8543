package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.CodegenCount
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** The per-layer metric names of the traced run, from the workloads'
  * parts; every traced run reports all of them (zero for the spans and
  * extras of the other workload's parts). */
object Metrics {
  lazy val spans: Seq[String] = Workloads.all.flatMap(_.spans).distinct
  lazy val spilling: Set[String] = Workloads.all.flatMap(_.parts.flatMap(_.spilling)).toSet
  lazy val extras: Seq[(String, String)] = Workloads.all.flatMap(_.parts.flatMap(_.extras)) ++ Seq(
    "spark.tasks_failed" -> "count",
    "spark.codegen.first_job_compiles" -> "count",
    "trace.overhead_pct" -> "%",
    "host.calibrate_s" -> "s")

  def perSpan(s: String, a: Option[SpanAgg]): Seq[(String, Double, String)] = {
    val g = a.getOrElse(SpanAgg(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    Seq((s"$s.wall_s", g.wallS, "s"), (s"$s.task_s", g.taskS, "s"),
      (s"$s.driver_gap_s", g.driverGapS, "s"), (s"$s.stages", g.stages, "count"),
      (s"$s.one_task_stages", g.oneTaskStages, "count"),
      (s"$s.shuffle_write_mb", g.shuffleWriteMb, "MB")) ++
      (if (spilling(s)) Seq((s"$s.spill_mb", g.spillMb, "MB")) else Nil)
  }
}

/** Runs one workload. Three set-ups (each a new session, input generation
  * and the standing indexes), then the first job, which runs with a cold
  * JIT and codegen cache and whose outputs are checked in full; `setup_s`
  * is the median set-up plus that first job, the time a user waits for a
  * first result. Then jobs run closed-loop for `--seconds` (and at least
  * the workload's `minJobs`); the last stdout line is the JSON result.
  * With `--trace 1` jobs alternate between untraced and traced, and the
  * result carries the per-layer metrics instead. */
object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workloads.names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = opts("work-dir")
    val cpus = Runtime.getRuntime.availableProcessors()

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val phases = ArrayBuffer.empty[(String, Long)]
    def phase(n: String): Unit = phases += n -> System.nanoTime()
    phase("start")
    // ---------------------------------------------------------------- setup
    val failures = ArrayBuffer.empty[String]
    val setupS = ArrayBuffer.empty[Double]
    val inputDigests = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var ctx: Ctx = null
    var w: Workload = null
    (0 until SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      ctx = new Ctx(spark, seed, new Tracer(spark.sparkContext), workDir, failures)
      w = Workloads(name)
      w.setup(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
      inputDigests += w.inputDigest(ctx)
    }
    phase("set-ups")
    ctx.check(inputDigests.distinct.size == 1,
      s"the same seed gave different input digests: ${inputDigests.distinct.mkString(" vs ")}")
    ctx.check(w.sampleDigest(seed) != w.sampleDigest(seed + 1),
      "a different seed gave the same inputs")
    val c0 = CodegenCount()
    val tf = System.nanoTime()
    val first = w.job(ctx)
    val firstJobS = (System.nanoTime() - tf - first.untimedNs) / 1e9
    val coldCompiles = CodegenCount() - c0
    phase("first job")
    // the first job's outputs are checked in full, and its digest is what
    // every timed job repeats
    w.checkOutputs(ctx)
    phase("checks")
    val expected = first.digest
    val setupMetric = Stats.median(setupS.toSeq) + firstJobS

    // ----------------------------------------------------------- timed loop
    val tracer = ctx.tracer
    val tracedLat, untracedLat = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var items = 0L
    var untimedNs = 0L
    ctx.timing = true
    val timedCompiles0 = CodegenCount()
    val t0 = System.nanoTime()
    // traced runs alternate, so they need twice the jobs
    val minJobs = if (trace) 2 * w.minJobs else w.minJobs
    while ((System.nanoTime() - t0) / 1e9 < seconds || attempted < minJobs) {
      val g = System.nanoTime()
      w.reset(ctx)
      // a full collection between jobs, so no job pays for garbage an
      // earlier one left and Spark's cleaner releases the blocks it no
      // longer needs
      System.gc()
      untimedNs += System.nanoTime() - g
      val traced = trace && attempted % 2 == 1
      if (traced) tracer.start() else tracer.stop()
      tracer.iteration = attempted
      val before = failures.size
      val a = System.nanoTime()
      val out =
        try Some(w.job(ctx))
        catch { case e: Throwable => failures += s"job $attempted threw ${e.toString.take(300)}"; None }
      out.foreach { o =>
        val dt = (System.nanoTime() - a - o.untimedNs) / 1e9
        ctx.check(o.digest == expected,
          s"job $attempted output digest ${o.digest} != first job's $expected")
        (if (traced) tracedLat else untracedLat) += dt
        items += w.items
        untimedNs += o.untimedNs
      }
      attempted += 1
      if (failures.size > before) failed += 1
    }
    val timedS = (System.nanoTime() - t0 - untimedNs) / 1e9
    val timedCompiles = CodegenCount() - timedCompiles0
    phase("timed")
    tracer.stop()

    w.reset(ctx)
    val heap = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    val retainedMb = heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    phase("heap")

    // --------------------------------------------------------------- report
    val jobs = untracedLat.toSeq
    def say(n: String, v: Double, unit: String, samples: Int): Unit =
      println(f"[perfbench] $name%-14s $n%-22s ${v}%14.6f $unit%-6s n=$samples")
    println(s"[perfbench] workload=$name seed=$seed cpus=$cpus input: ${w.inputSize}")
    println(s"[perfbench] set-ups: ${setupS.map(x => f"$x%.3f").mkString(" ")} s; " +
      f"first job $firstJobS%.3f s; " +
      s"untraced jobs: ${jobs.map(x => f"$x%.3f").mkString(" ")} s; " +
      s"traced jobs: ${tracedLat.map(x => f"$x%.3f").mkString(" ")} s")
    say("setup_s", setupMetric, "s", setupS.size)
    say("job_s_p50", Stats.median(jobs), "s", jobs.size)
    say("job_s_p90", Stats.pct(jobs, 0.9), "s", jobs.size)
    say("items_per_s", items / timedS, s"${w.itemUnit}/s", attempted)
    say("retained_heap_mb", retainedMb, "MB", 1)
    say("error_rate", failed.toDouble / math.max(1, attempted), "ratio", attempted)
    say("codegen_compiles_per_job", timedCompiles.toDouble / attempted, "count", attempted)
    w.parts.flatMap(_.report()).foreach { case (n, v, u, k) => say(n, v, u, k) }
    failures.take(20).foreach(f => println(s"[perfbench] FAIL $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupMetric, "s"),
        ("job_s_p50", Stats.median(jobs), "s"),
        ("items_per_s", items / timedS, "1/s"),
        ("retained_heap_mb", retainedMb, "MB"))
      else {
        val spans = tracer.summary()
        w.spans.filterNot(spans.contains).foreach(s => failures += s"span $s was not recorded")
        val extra = w.parts.flatMap(_.layerExtras(ctx, spans)).toMap
        w.parts.flatMap(_.extras).map(_._1).filterNot(extra.contains)
          .foreach(n => failures += s"layer metric $n was not measured")
        val overhead = (Stats.median(tracedLat.toSeq) / Stats.median(untracedLat.toSeq) - 1) * 100
        println(f"[perfbench] tracing overhead $overhead%.2f%% " +
          s"(traced n=${tracedLat.size}, untraced n=${untracedLat.size})")
        extra.toSeq.sorted.foreach { case (n, v) => println(f"[perfbench] layer $n%-58s $v%.6f") }
        val fixed = Map(
          "spark.tasks_failed" -> tracer.failedTasks.toDouble,
          "spark.codegen.first_job_compiles" -> coldCompiles.toDouble,
          "trace.overhead_pct" -> overhead,
          "host.calibrate_s" -> calibrate(spark))
        val dump = new java.io.File(s"$workDir/trace-$name-s$seed.jsonl")
        java.nio.file.Files.write(dump.toPath, tracer.dump().getBytes("UTF-8"))
        println(s"[perfbench] spans written to $dump")
        spans.toSeq.sortBy(_._1).foreach { case (s, g) =>
          println(f"[perfbench] span $s%-48s calls=${g.calls}%3d wall=${g.wallS}%8.4f " +
            f"task=${g.taskS}%8.4f gap=${g.driverGapS}%7.4f stages=${g.stages}%5.1f " +
            f"one_task=${g.oneTaskStages}%5.1f shw=${g.shuffleWriteMb}%7.2fMB " +
            f"spill=${g.spillMb}%6.1fMB gc=${g.gcS}%6.3f")
        }
        Metrics.spans.flatMap(s => Metrics.perSpan(s, spans.get(s))) ++
          Metrics.extras.map { case (n, u) => (n, extra.getOrElse(n, fixed.getOrElse(n, 0.0)), u) }
      }
    phase("report")
    println("[perfbench] phases (s): " + phases.toSeq.zip(phases.toSeq.drop(1)).map {
      case ((_, a), (n, b)) => f"$n ${(b - a) / 1e9}%.2f" }.mkString(", "))
    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    bad.foreach(m => failures += s"metric ${m._1} is not a number")
    val correct = failures.isEmpty && failed == 0
    spark.stop()
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The fixed-cost host sentinel of `graft.Bench` (the same aggregate over
    * 2^26 rather than 2^29 rows): CPU-bound, independent of the workload,
    * best of two after a warm pass. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }
}
