package graft.tools

import graft.Session

/** Print the ANALYZED logical plan of a SQL string — the shape the Producer
  * consumes: `runMain graft.tools.PlanShape "<sql>" [<viewSetupSql>...]`. */
object PlanShape {
  def main(args: Array[String]): Unit = {
    // keeps Spark's default shuffle width (200), not local[2]'s 2
    val spark = Session.local(2, "spark.sql.shuffle.partitions" -> "200")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    Seq((1L, 2.0, true), (3L, 4.5, false), (3L, 1.5, true))
      .toDF("a", "b", "d").createOrReplaceTempView("data")
    args.drop(1).foreach(spark.sql)
    println(spark.sql(args(0)).queryExecution.analyzed.treeString)
    spark.stop()
  }
}
