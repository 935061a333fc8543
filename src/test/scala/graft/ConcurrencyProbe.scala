package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

/** Dev probe: multi-tenant throughput. A 100 TB warehouse never runs one
  * query at a time; the engine must interleave independent jobs, not
  * serialize them on driver-side planning or a saturated default pool.
  *
  * Measures the makespan of a fixed mid-weight query set run (a)
  * serially and (b) by 4 submitter threads under FAIR scheduling, in
  * the same JVM, interleaved A/B twice, best of each. A concurrent
  * makespan well under the serial one means per-query idle resources
  * (small stages, planning gaps, stragglers) are soaked up by the other
  * tenants; a ratio near 1.0 would indicate a serialization point.
  *
  * Run: sbt "Test/runMain graft.ConcurrencyProbe [sfDir]".
  */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession(32)
      .config("spark.scheduler.mode", "FAIR").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    // mid-weight, mutually independent, no shared temp tables/indexes
    val names = Seq(
      "q1_pricing", "q3_top_orders", "q5_region_revenue", "q_top_parts",
      "q_sessions", "q_event_type_stats", "q_user_windows", "q_funnel",
      "dedup_exact", "q_token_counts", "q_quality_rules", "lang_id",
      "q_value_histogram", "q_apply_changes", "q_change_set", "q_tfidf_top")

    def runOne(n: String): Unit =
      SparkEntry.queries(n)(spark, dir).write.format("noop")
        .mode("overwrite").save()

    names.foreach(runOne) // warm codegen + page cache

    def serial(): Double = {
      val t0 = System.nanoTime()
      names.foreach(runOne)
      (System.nanoTime() - t0) / 1e9
    }

    def concurrent(threads: Int): Double = {
      val queue = new ConcurrentLinkedQueue[String]()
      names.foreach(queue.add)
      val done = new CountDownLatch(threads)
      val t0 = System.nanoTime()
      (1 to threads).foreach { _ =>
        new Thread(() => {
          try {
            var n = queue.poll()
            while (n != null) { runOne(n); n = queue.poll() }
          } finally done.countDown()
        }).start()
      }
      done.await()
      (System.nanoTime() - t0) / 1e9
    }

    (1 to 2).foreach { i =>
      val s = serial()
      val c = concurrent(4)
      println(f"[conc-probe] round$i serial=$s%.2f s concurrent4=$c%.2f s " +
        f"speedup=${s / c}%.2f")
    }
    spark.stop()
  }
}
