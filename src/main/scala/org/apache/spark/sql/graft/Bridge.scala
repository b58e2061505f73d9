package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode Column ↔ Catalyst Expression bridge.
  *
  * Spark 4's Column wraps a ColumnNode (Connect refactor) and the
  * conversion helpers are `private[sql]`; this object lives under the sql
  * package namespace purely to re-export them to the graft library — the
  * standard extension-point pattern for libraries shipping custom
  * Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan, analyzed now (`Dataset.ofRows` is
    * `private[sql]`) — runs a plan Spark's parser returned without
    * printing it back to SQL text.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Apply the function injections of a built-up `SparkSessionExtensions`
    * to an existing session's registry (`registerFunctions` is
    * `private[sql]`) — lets specs exercise `graft.GraftExtensions` exactly
    * as session construction would, without tearing down the shared
    * test session.
    */
  def applyExtensions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** The planner strategies a built-up `SparkSessionExtensions` injects
    * (`buildPlannerStrategies` is `private[sql]`).
    */
  def plannerStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** Deconstruct a `col === literal` (either operand order) Column into
    * (columnName, literalValue) — used by predicate-form DDL (partition
    * delete) to validate conditions WITHOUT an analyzer pass. Returns None
    * for anything that is not a simple attribute/literal equality.
    */
  def equalityParts(c: Column): Option[(String, Any)] = {
    import org.apache.spark.sql.internal.{Literal => LitNode, UnresolvedAttribute => AttrNode, UnresolvedFunction => FnNode}
    c.node match {
      case FnNode("=" | "==", Seq(a, b), _, _, _, _) => (a, b) match {
        case (attr: AttrNode, l: LitNode) => Some(attr.nameParts.mkString(".") -> l.value)
        case (l: LitNode, attr: AttrNode) => Some(attr.nameParts.mkString(".") -> l.value)
        case _ => None
      }
      case _ => None
    }
  }
}
