package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full evaluation through the noop sink (a
  * `.count()` would let Catalyst prune all column work under an empty
  * project), and prints one JSON line. A crashing query is reported as -1.0
  * so failures are distinguishable from fast runs. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Full verification in bench, mirroring the reference benchmark setup
    // (BenchmarkPlacementPolicy.java:98 forces USER_FAST_VERIFY=false).
    spark.conf.set(GraftConf.FastVerifyKey, "false")
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "false")
    // events carries TIMESTAMP(NANOS); without this the *warmup* read of the
    // raw table throws (swallowed) and the file is never pre-warmed, so the
    // first timed events query absorbs cold I/O. Queries set it too
    // (eventsBase), but the warmup loop below runs first.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // Warm the JVM/codegen paths so the first measured query doesn't absorb
    // session + whole-stage-codegen compilation cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // Warm the OS page cache for every input table (full-column read-through)
    // so per-query numbers measure the engine, not first-touch disk I/O —
    // on a cold filesystem the first query over each table otherwise absorbs
    // the entire decompress+readahead cost for that file.
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    // Fixed-cost calibration sentinel: a deterministic CPU-bound aggregate
    // whose cost is independent of sfDir and the query set. Measured before
    // and after the sweep and emitted in the JSON line, so a contended host
    // self-identifies — if calibration_sec is far above its quiet-host
    // reference (BASELINE.md records ~0.2-0.5 s at 32 cpus), the per-query
    // numbers of that run are not comparable across rounds.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 29).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // one unmeasured pass absorbs codegen for the sentinel shape
    val calPre = calibrate()

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // Per-query isolation: drop caches persisted by the previous query
      // (dedup/minhash intermediates) so later queries aren't taxed by old
      // gen pressure and storage-memory eviction they didn't cause.
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0
      }
    }
    // Two timed iterations per query, best-of kept — the same discipline as
    // the reference's JMH harness (0 warmup / 2 iterations,
    // BenchmarkPlacementPolicy.java:318-325). Iteration 1 absorbs per-query
    // codegen compilation; best-of-2 also damps host-level noise — exactly
    // when the host is slow/contended the second pass matters most, so it
    // is never skipped.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val pass1 = names.map { case (name, fn) => name -> timeOnce(name, fn) }.toMap
    val results = names.map { case (name, fn) =>
      val first = pass1(name)
      if (first < 0) name -> first
      else {
        // a failed re-run must not erase the valid pass-1 measurement
        val second = timeOnce(name, fn)
        name -> (if (second < 0) first else math.min(first, second))
      }
    }
    val calPost = calibrate()
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Drift-normalized companion total: ambient host speed swings ±35%
    // between sessions (BASELINE.md r10/r11 cross-round comparisons were
    // dominated by it), so alongside the raw total we emit total ÷ sentinel
    // — per-query seconds divided by the same-run calibration cost sum to
    // exactly this — making round-over-round comparisons self-correcting.
    // min(pre, post) is the sentinel: the quieter of the two measurements,
    // robust to a GC/compaction spike landing inside one calibration pass.
    def jsonLine(rs: Seq[(String, Double)], extra: String): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val sentinel = math.min(calPre, calPost)
      val normalized = if (sentinel > 0) total / sentinel else -1.0
      // normalized leads (right after the raw headline): the tail-capped
      // driver artifact must carry the drift-proof number in its head so
      // cross-round comparisons never depend on re-deriving it from a
      // possibly-truncated queries map
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""normalized_total_per_sentinel":${fmt(normalized)},""" +
        s""""calibration_sec":{"pre":${fmt(calPre)},"post":${fmt(calPost)}},""" +
        s""""queries":$qs,""" +
        s""""sf":"$sfDir","runs":2,$extra"n_queries":${results.size}}"""
    }
    val fullLine = jsonLine(results, "")
    // Full record first; then a COMPACT line as the LAST stdout line. The
    // driver keeps only a ~2 KB tail of the log (BENCH_r08..r10 all came
    // back `parsed: null` because the 4.6 KB full line lost its head to
    // the cap), so the parseable artifact must fit the tail: the compact
    // line restricts the per-query map to the 27-query subset BASELINE.md
    // grades against (its "v0 measurement" table), ~1.1 KB, and points at
    // the committed full record for the rest.
    println(fullLine)
    val baselineSet = Set(
      "ann_cosine_topk", "dedup_exact", "dedup_minhash_lsh",
      "dedup_ngram_pairs", "dedup_simhash", "doc_fingerprint",
      "embedding_neardup_exact", "embedding_neardup_lsh", "lang_id",
      "meta_datanodes", "meta_storages", "meta_topology",
      "multimodal_features", "placement_candidates", "placement_choose",
      "placement_delete", "placement_hierarchy_stats",
      "placement_prefer_rank", "placement_top_racks", "placement_verify",
      "placement_verify_fast", "q1_pricing", "q3_top_orders",
      "q5_region_revenue", "q_event_type_stats", "q_sessions",
      "q_user_windows")
    println(jsonLine(results.filter(r => baselineSet(r._1)),
      "\"queries_note\":\"baseline-common subset; all queries in the " +
        "round-stamped BENCH_LOCAL_r{N}.json (committed per round)\","))
    // The full record on disk. The default target lives under target/
    // (untracked) so a driver-initiated bench re-run leaves `git status`
    // clean — the committed history is append-only, round-stamped files
    // written explicitly via SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL_r{N}.json.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/BENCH_LOCAL_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
