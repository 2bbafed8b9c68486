package graft.substrait

import scala.collection.mutable

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.classic
import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestFailed, TestSucceeded}

import graft.{SparkEntry, SparkTestBase}
import model._

/** Consumed plans reach Spark already analyzed: the consumer builds every
  * root so that Spark's analyzer, run over it again, hands it back
  * unchanged, and the root wrap is one `checkAnalysis` pass, no analyzer
  * rule run. */
class AnalyzedConsumeSpec extends SparkTestBase {

  /** Runs `f` with every consumed root checked against a full analysis;
    * returns the number of roots seen and the ones the analyzer changed. */
  private def checkingRoots(f: => Unit): (Int, Seq[String]) = {
    val analyzer = spark.asInstanceOf[classic.SparkSession].sessionState.analyzer
    val changed = mutable.ArrayBuffer.empty[String]
    var seen = 0
    Consumer.rootHook = root => synchronized {
      seen += 1
      try {
        val again = analyzer.execute(root)
        if (!again.fastEquals(root))
          changed += s"${root.treeString}\n---- analyzed again:\n${again.treeString}"
      } catch { case e: Exception => changed += s"${root.treeString}\n---- analysis threw $e" }
    }
    try f finally Consumer.rootHook = null
    (seen, changed.toSeq)
  }

  private def rootOf(sql: String): LogicalPlan = {
    var root: LogicalPlan = null
    Consumer.rootHook = r => root = r
    try Serializer.roundtrip(spark, spark.sql(sql)) finally Consumer.rootHook = null
    root
  }

  test("every producible driver plan is consumed into a root the analyzer leaves unchanged") {
    val wired = SparkEntry.table.filter(_.wire)
    val failed = mutable.ArrayBuffer.empty[String]
    val (seen, changed) = checkingRoots {
      wired.foreach { q =>
        val plan = Wire.decode(Wire.encode(Producer.produce(q.build(spark, sfDir))))
        val before = failed.size
        try Consumer.consume(spark, plan)
        catch { case e: Exception => failed += s"${q.name}: $e" }
        if (failed.size > before) info(failed.last)
      }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(seen >= wired.size)
    assert(changed.isEmpty,
      s"${changed.size} of $seen consumed roots change under analysis; first:\n" +
        changed.take(1).mkString)
  }

  test("RoundtripSpec and ConsumerCompatSpec plans consume into roots the analyzer leaves unchanged") {
    val outcomes = mutable.ArrayBuffer.empty[Event]
    val reporter = new Reporter { def apply(e: Event): Unit = outcomes.synchronized(outcomes += e) }
    val (seen, changed) = checkingRoots {
      Seq(new RoundtripSpec, new ConsumerCompatSpec).foreach(_.run(None, Args(reporter)))
    }
    val failedTests = outcomes.collect { case f: TestFailed => s"${f.testName}: ${f.message}" }
    assert(failedTests.isEmpty, failedTests.mkString("\n"))
    assert(outcomes.count(_.isInstanceOf[TestSucceeded]) > 70)
    assert(seen > 70, s"only $seen consumed roots seen")
    assert(changed.isEmpty,
      s"${changed.size} of $seen consumed roots change under analysis; first:\n" +
        changed.take(1).mkString)
  }

  test("a table read three times gives three leaves with disjoint ids and no alias Project") {
    graft.Tables.register(spark, sfDir)
    val sql = """SELECT a.n_name, b.n_regionkey, c.n_nationkey
                |FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey
                |JOIN nation c ON b.n_nationkey = c.n_nationkey""".stripMargin
    val root = rootOf(sql)
    val reads = root.collect { case s: SubqueryAlias => s }
    assert(reads.size == 3, root.treeString)
    val ids = root.collectLeaves().map(_.output.map(_.exprId).toSet)
    assert(ids.size == 3 && ids.flatten.size == ids.map(_.size).sum,
      s"leaves share exprIds:\n${root.treeString}")
    // a Project that only renames a read's columns is the old re-aliasing
    val renames = root.collect {
      case p @ Project(list, _: SubqueryAlias)
          if list.forall { case Alias(_: Attribute, _) => true; case _ => false } => p
    }
    assert(renames.isEmpty, root.treeString)
    assertSameRows(spark.sql(sql), Serializer.roundtrip(spark, spark.sql(sql)))
  }

  test("a plan checkAnalysis rejects still fails in consume with the analyzer's exception") {
    graft.Tables.register(spark, sfDir)
    // WHERE n_nationkey: a non-boolean filter condition
    val read = Rel.Read(NamedStruct(Seq("n_nationkey", "n_name", "n_regionkey"),
      Seq((SType.SI32, true), (SType.SStr, true), (SType.SI32, true))), Seq("nation"), None)
    val plan = Plan(Nil, Seq(PlanRel.Root(Rel.Filter(read, SExpr.FieldRef(0)), Nil)))
    val e = intercept[AnalysisException](Consumer.consume(spark, plan))
    assert(e.getClass.getName == "org.apache.spark.sql.catalyst.ExtendedAnalysisException")
    assert(e.getCondition == "DATATYPE_MISMATCH.FILTER_NOT_BOOLEAN", e.getMessage)
  }

  test("wrapping the consumed root runs no analyzer rule") {
    graft.Tables.register(spark, sfDir)
    // a repeated read, a hint and registry functions: each used to leave
    // work for the root analysis
    val df = spark.sql(
      """SELECT /*+ BROADCAST(b) */ a.n_name, round(a.n_nationkey * 1.5, 1) AS r,
        |  upper(b.n_name) AS u, size(split(b.n_name, 'A')) AS w
        |FROM nation a JOIN nation b ON a.n_regionkey = b.n_nationkey""".stripMargin)
    val plan = Wire.decode(Wire.encode(Producer.produce(df)))
    var atRoot = -1L
    Consumer.rootHook = _ => atRoot = RuleExecutor.getCurrentMetrics().numRuns
    val got = try Consumer.consume(spark, plan) finally Consumer.rootHook = null
    assert(RuleExecutor.getCurrentMetrics().numRuns - atRoot == 0)
    assert(got.queryExecution.analyzed.analyzed)
    assertSameRows(df, got)
  }
}
