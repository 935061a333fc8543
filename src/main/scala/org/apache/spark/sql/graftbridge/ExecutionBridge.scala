package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.SQLExecution

/** Execution-side access for work graft runs outside a Spark plan: jobs
  * submitted from pool threads, and driver-side integer kernels that must
  * fail exactly as the plan they replace would. `QueryExecutionErrors` is
  * `private[sql]` and `SQLExecution` takes the classic session; see
  * [[ColumnBridge]] for why this lives in this namespace. */
object ExecutionBridge {

  /** Run `body` on `exec` with the caller's active session and Spark local
    * properties (job group, description, execution id, any listener tags)
    * in place, as Spark's own broadcast and subquery threads do. */
  def submitCaptured[T](spark: SparkSession, exec: ExecutorService)(body: => T)
      : CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** ANSI BIGINT `a div b`: the `DIVIDE_BY_ZERO` and `ARITHMETIC_OVERFLOW`
    * errors the SQL operator raises (`+`, `-` and `*` are Spark's public
    * `MathUtils` exact operations). */
  def div(a: Long, b: Long): Long =
    if (b == 0) throw QueryExecutionErrors.divideByZeroError(null)
    else if (a == Long.MinValue && b == -1)
      throw QueryExecutionErrors.overflowInIntegralDivideError(null)
    else a / b
}
