package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Plan access `classic.Dataset.ofRows` is `private[sql]` for; see
  * [[ColumnBridge]] for why it lives in this namespace. */
object PlanBridge {

  /** `df` as a relation over its own already-executed physical RDD
    * (`df.queryExecution.toRdd`), the way `Dataset.checkpoint` rebuilds a
    * relation: a later query over it reuses that RDD's computed shuffle
    * outputs instead of planning and running `df`'s lineage again. */
  def overExecuted(df: DataFrame): DataFrame = overRows(df, df.queryExecution.toRdd)

  /** `df` as a relation over `rows`: its output rows, partitioned as its
    * executed RDD (that RDD itself, or a persisted copy of it). */
  def overRows(df: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
