package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run.
  *
  * Master is `local[4,2]` (4 threads, maxFailures=2): task RETRIES are
  * enabled, which local mode otherwise disables. Nothing in the suite
  * fails spontaneously, so the only effect is that RetrySpec's injected
  * fail-once faults get the production retry path a real cluster has —
  * the determinism-under-retry gate needs it, and every other suite is
  * unaffected. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSession(4, maxFailures = 2).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
