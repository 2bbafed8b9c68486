package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.classic

/** Package bridge into the sql-private Column and Dataset factories.
  *
  * Spark 4 hides `Column(expr)` behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils.column`); the supported
  * public routes are `functions.lit` (rejects collection values) and
  * `typedlit` (needs a compile-time TypeTag, unavailable for wire-decoded
  * types). The Consumer builds Catalyst plan nodes directly, and needs the
  * two-way Column ⇄ Expression conversion plus `Dataset.ofRows` to wrap
  * them. A sql-subpackage object is the standard OSS escape hatch for this
  * (Delta Lake, spark-excel et al. ship the same shim).
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression a Column API call built (session parser/conf). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].converter(c.node)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Runs `f` with `spark` active and ONE DataFrame query origin: without
    * it, every Column built inside captures its own stack trace. */
  def consuming[T](spark: SparkSession)(f: => T): T =
    spark.withActive(CurrentOrigin.withOrigin(f))

  /** Analyzes `node` on its own: each child stands in as a LocalRelation
    * stub of its output (same exprIds), and is spliced back afterwards.
    * Analyzes the real subtree when a stub did not survive exactly once. */
  def analyzeNode(spark: SparkSession, node: LogicalPlan): LogicalPlan = {
    val stubs = node.children.map(c => LocalRelation(c.output, Nil, c.isStreaming))
    val real = new java.util.IdentityHashMap[LogicalPlan, LogicalPlan]()
    stubs.zip(node.children).foreach { case (s, c) => real.put(s, c) }
    val analyzed = spark.asInstanceOf[classic.SparkSession].sessionState.analyzer
      .executeAndCheck(node.withNewChildren(stubs), new QueryPlanningTracker(None))
    var hits = 0
    val spliced = analyzed.transformUp {
      case s if real.containsKey(s) => hits += 1; real.get(s)
    }
    if (hits == stubs.size) spliced
    else ofRows(spark, node).queryExecution.analyzed
  }
}
