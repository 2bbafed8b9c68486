package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.classic

/** Package bridge into the sql-private Dataset factory and analyzer.
  *
  * The Consumer builds Catalyst plan nodes directly; wrapping one as a
  * DataFrame (`Dataset.ofRows`) and analyzing a node on its own need the
  * classic session, which Spark 4 keeps `private[sql]`. A sql-subpackage
  * object is the standard OSS escape hatch for this (Delta Lake,
  * spark-excel et al. ship the same shim).
  */
object ColumnBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Runs `f` with `spark` active and ONE DataFrame query origin: without
    * it, every DataFrame or Column built inside captures its own stack
    * trace. */
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
