package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, SparkSession => ClassicSession}

/** Minimal bridge to the `private[sql]` seams an external
  * whole-operator library needs: Column -> Catalyst Expression,
  * LogicalPlan -> DataFrame and session cloning, plus the
  * `private[spark]` listener-bus drain the query trace needs. Lives under the `org.apache.spark.sql`
  * namespace purely for Scala access control; contains only forwarding
  * calls (the standard extension-library pattern for pre-Connect plan
  * construction).
  */
object GraftSqlBridge {
  /** Eager ColumnNode -> Catalyst conversion. (ExpressionUtils returns a
    * lazy ColumnNodeExpression wrapper that still references the
    * non-serializable ColumnNode tree — unusable inside task closures.) */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A child session with a copy of the parent's conf, temp views and
    * functions; what the child sets stays in the child. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** Optimizer-identical floating-point key normalization (0.0/-0.0,
    * NaN canonicalization) for custom grouping operators. */
  def normalizeFloat(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The session's name resolver (case sensitivity per config). */
  def resolver(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.Resolver =
    spark.asInstanceOf[ClassicSession].sessionState.conf.resolver

  /** Wait until every listener event posted so far has been handled. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
