package graft.substrait

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Consume must stay linear in plan depth: each rel becomes a resolved
  * Catalyst node over its resolved children and the root is analyzed once,
  * so the Analyzer's rule runs barely move between a 32-deep and a
  * 128-deep plan. Re-analyzing the growing plan at every rel (one analysis
  * per rel), or analyzing one unresolved tree (one fixed-point iteration
  * per layer), both run about 4× the rules at 4× the depth. Runs at the
  * default `spark.sql.analyzer.maxIterations`. */
class ConsumeScalingSpec extends SparkTestBase {

  /** graft-built project / filter / join layers over customer and nation,
    * at most four derived columns wide */
  private def stack(depth: Int): DataFrame = {
    val rnd = new Random(depth)
    val nation = spark.table("nation")
    val base = Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    var df = spark.table("customer").select(base.map(col): _*)
    var extra = Vector.empty[String]
    def keep(name: String): Seq[String] = { extra = (extra :+ name).takeRight(4); base ++ extra }
    (0 until depth).foreach { i =>
      "pfj"(i % 3) match {
        case 'p' =>
          val src = (Seq("c_custkey", "c_nationkey") ++ extra)(rnd.nextInt(2 + extra.size))
          df = df.withColumn(s"x$i", col(src) * (1 + rnd.nextInt(5)) + rnd.nextInt(100))
            .select(keep(s"x$i").map(col): _*)
        case 'f' =>
          df = df.filter(col("c_acctbal") > -1000.0 - rnd.nextInt(1000))
        case _ =>
          val dim = nation.select(col("n_nationkey").as(s"k$i"), col("n_regionkey").as(s"r$i"))
          df = df.join(dim, col("c_nationkey") === col(s"k$i")).select(keep(s"r$i").map(col): _*)
      }
    }
    df
  }

  test("a 128-deep plan consumes with at most 1.5x the analyzer rule runs of a 32-deep one") {
    graft.Tables.register(spark, sfDir)
    val runs = Seq(32, 128).map { depth =>
      val src = stack(depth)
      val plan = Wire.decode(Wire.encode(Producer.produce(src)))
      val before = RuleExecutor.getCurrentMetrics().numRuns
      val got = Consumer.consume(spark, plan)
      val n = RuleExecutor.getCurrentMetrics().numRuns - before
      assert(got.schema.map(f => f.name -> f.dataType) == src.schema.map(f => f.name -> f.dataType))
      assertSameRows(src, got)
      n
    }
    info(s"analyzer rule runs: ${runs(0)} at depth 32, ${runs(1)} at depth 128")
    assert(runs(1) <= 1.5 * runs(0),
      s"rule runs grow with depth: ${runs(0)} at depth 32, ${runs(1)} at depth 128")
  }
}
