package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Column ↔ Expression seam for the engine's custom Catalyst
  * expressions (graft.functions). Spark 4 moved the classic
  * `Column(expr)` constructor behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so third-party
  * expression libraries expose it through a one-object package bridge —
  * the established pattern in public Spark extension libraries. This is
  * the only file outside the `graft` package and it contains no logic
  * (its [[SessionBridge]] sibling reaches one more `sql`-scoped seam).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on an existing session (the
    * build-time path is `graft.functions.GraftExtensions` via
    * `spark.sql.extensions`; this covers sessions the caller didn't
    * construct, e.g. the driver-provided one). */
  def registerTempFunction(spark: SparkSession, name: String,
    builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/** Session seam for work the engine runs on its own threads. */
object SessionBridge {
  /** `body` on `exec` with the caller's SparkContext local properties
    * (job group, streaming query and batch ids, SQL execution ids)
    * and active session — Spark's own helper for the threads that
    * build broadcasts, so the branch's jobs are attributed exactly as
    * the caller's are. */
  def withThreadLocalCaptured[T](spark: SparkSession,
    exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)
}
