package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The listener bus is asynchronous; per-span attribution is read only
  * after every event posted so far has been delivered. The drain hook is
  * Spark-private, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Generated classes Spark has compiled in this JVM so far (whole-stage
  * and expression code; one histogram update per compilation). */
object CodegenCount {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
