package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Synthetic deep plans for `plan_roundtrip`: stacks of project, filter and
  * join layers over the fixture tables, in the fixed repeating order
  * `p f j p f j p f j p`. The seed sets each layer's constants and source
  * column, so every seed gives plans of the same size and shape, and the
  * consume cost does not depend on the seed. */
object DeepPlans {
  val depths: Seq[Int] = Seq(4, 8, 16, 32, 48)

  private val base = Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")

  def build(spark: SparkSession, dir: String, rnd: Random, depth: Int): DataFrame = {
    val kinds = Seq.tabulate(depth)(i => "pfjpfjpfjp"(i % 10))
    val nation = Tables.table(spark, dir, "nation")
    var df = Tables.table(spark, dir, "customer").select(base.map(col): _*)
    // the derived columns kept beside the base ones: at most four, so the
    // plan grows in depth, not in width
    var extra = Vector.empty[String]
    def keep(name: String): Seq[String] = { extra = (extra :+ name).takeRight(4); base ++ extra }
    kinds.zipWithIndex.foreach {
      case ('p', i) =>
        val src = (base.filter(_ != "c_mktsegment") ++ extra)(rnd.nextInt(3 + extra.size))
        df = df.withColumn(s"x$i", col(src) * (1 + rnd.nextInt(5)) + rnd.nextInt(100))
          .select(keep(s"x$i").map(col): _*)
      case ('f', _) =>
        // never selective: the point is plan depth, not row counts
        df = df.filter(col("c_acctbal") > -1000.0 - rnd.nextInt(1000))
      case (_, i) =>
        val dim = nation.select(col("n_nationkey").as(s"k$i"), col("n_regionkey").as(s"r$i"))
        df = df.join(dim, col("c_nationkey") === col(s"k$i")).select(keep(s"r$i").map(col): _*)
    }
    df
  }
}
