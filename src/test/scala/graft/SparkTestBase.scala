package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + result-equality oracle. One session per suite; semantic
  * (collected multiset) comparison rather than plan-string equality because
  * Spark's analyzer inserts aliases/casts that never string-match
  * (SURVEY.md §5 port strategy).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  def sfDir = "/root/testdata/sf0.001"

  /** Round-trip df through Substrait bytes and assert identical results. */
  def assertRoundtrip(df: DataFrame, ordered: Boolean = false): Unit = {
    val got = substrait.Serializer.roundtrip(spark, df)
    assertSameRows(df, got, ordered)
    assert(df.columns.toSeq == got.columns.toSeq,
      s"column names drifted: ${df.columns.toSeq} vs ${got.columns.toSeq}")
  }

  /** Structural walk of an EXECUTED adaptive physical plan: descends into
    * query stages, never into a cached relation's one-time build plan (an
    * InMemoryTableScan is a leaf; its build rides in innerChildren, which
    * children-based traversal correctly skips). Shared by the plan gates
    * that assert on real executed nodes and their metrics. */
  def physicalNodes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  def assertSameRows(expected: DataFrame, got: DataFrame, ordered: Boolean = false): Unit = {
    val e = expected.collect().map(_.toString).toSeq
    val g = got.collect().map(_.toString).toSeq
    if (ordered) assert(e == g, s"ordered rows differ\nexpected: ${e.take(5)}\ngot: ${g.take(5)}")
    else assert(e.sorted == g.sorted,
      s"row multisets differ (${e.size} vs ${g.size})\nexpected: ${e.sorted.take(5)}\ngot: ${g.sorted.take(5)}")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
