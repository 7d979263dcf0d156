package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversions, so
  * graft's native Catalyst expressions (graft.functions.*) can be exposed as
  * user-facing `Column`s. This is the standard extension-library pattern —
  * the classic API keeps these behind `org.apache.spark.sql.classic`. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a raw logical plan (`Dataset.ofRows` is private[sql]) —
    * how graft's custom logical operators (graft.plans.*) become user-facing
    * frames. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eagerly convert a Column's node tree into a catalyst Expression
    * (UnresolvedAttribute etc.). `ExpressionUtils.expression` wraps the node
    * LAZILY (ColumnNodeExpression); inside a classic Dataset operation that
    * wrapper is converted at the API boundary, but expressions embedded in a
    * CUSTOM logical node bypass that boundary and must be pre-converted or
    * they reach execution unevaluable. */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A clone of `spark` (`cloneSession` is private[sql]): same SparkContext,
    * its own copy of the conf, temp views and functions. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Whether a file listing skips a file or directory of this name: Spark's
    * own hidden-file rule (`_`/`.` prefixes, in-flight copies), which
    * `HadoopFSUtils` keeps private[spark]. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Unload every registered state-store provider (private[sql]). One-shot
    * streaming drains never reuse their stores, but loaded providers keep
    * being snapshotted by the maintenance thread — a suite of drains
    * accumulates real drag without this. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()
}
