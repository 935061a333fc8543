package graft

import org.apache.spark.sql.SparkSession

/** The session preset every graft main and the test suite share: the
  * [[graft.functions.GraftExtensions]] SQL functions, UTC session time, no
  * UI, and one shuffle partition per task thread. Callers add only their own
  * extras (scheduler mode, a cluster master, parquet read flags) before
  * `getOrCreate()`.
  *
  * `maxFailures > 1` builds `local[threads,maxFailures]`, which turns on the
  * task retries local mode otherwise disables. */
object LocalSession {
  def apply(threads: Int, maxFailures: Int = 1): SparkSession.Builder =
    SparkSession.builder()
      .master(
        if (maxFailures == 1) s"local[$threads]"
        else s"local[$threads,$maxFailures]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", threads.toString)
}
