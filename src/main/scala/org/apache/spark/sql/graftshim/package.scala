package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column <-> Expression converters.
  *
  * Spark 4 hides the `Column(Expression)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; custom Catalyst
  * expressions (graft.functions.*) need this to surface as user-facing
  * [[Column]]s without going through the (slower) UDF registry.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Convert a Column to a REAL (possibly unresolved) Catalyst tree —
    * unlike [[expression]], which may defer behind an opaque
    * `ColumnNodeExpression` leaf the analyzer will not rewrite when the
    * expression comes out of a FunctionRegistry builder. */
  def expressionTree(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)
  /** Block until every event posted so far has reached the listeners. */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
