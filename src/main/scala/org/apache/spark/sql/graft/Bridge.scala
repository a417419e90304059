package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's private[sql] Column↔Expression converters —
  * the supported extension-point pattern for libraries that ship custom
  * Catalyst expressions (Spark 4 removed the public Column(expr)
  * constructor in favor of ColumnNode).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a custom LogicalPlan (classic.Dataset.ofRows is
    * private[sql]) — needed to surface custom operators as DataFrames. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Stable identity UUID of a session (classic.SparkSession.sessionUUID
    * is private[sql]); falls back to identityHashCode for exotic
    * SparkSession implementations. Never reused across sessions — the
    * safe key for driver-side per-session caches. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark match {
      case c: classic.SparkSession => c.sessionUUID
      case s => "id@" + System.identityHashCode(s)
    }

  /** Analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** The session's state store coordinator (private[sql]). */
  def stateStoreCoordinator(spark: org.apache.spark.sql.SparkSession)
      : Option[org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef] =
    Some(spark.asInstanceOf[classic.SparkSession].streams.stateStoreCoordinator)
}
