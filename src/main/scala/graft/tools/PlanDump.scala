package graft.tools

import graft.{Session, SparkEntry}

/** Dump the executed physical plan (and optionally run+time) of driver
  * queries in one JVM: `runMain graft.tools.PlanDump <sfDir> [query...] [run]`;
  * no query names dumps all of them. Each plan follows a `######## <query>`
  * header; redirect stdout to keep them. Scan metadata (locations, pushed
  * and data filters, read schemas) is printed whole: Spark's default cut
  * falls wherever the expression ids' widths put it, so two dumps of one
  * plan would differ there (`tools/plandump_diff.py` masks the ids).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <sfDir> [query...] [run]")
    val run = args.length > 1 && args.last == "run"
    val queries =
      SparkEntry.select(args.slice(1, if (run) args.length - 1 else args.length).toSeq)
    val spark = Session.local(Session.envCpus(32),
      "spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString)
    queries.foreach { case (q, build) =>
      println(s"######## $q")
      val df = build(spark, args(0))
      println(df.queryExecution.executedPlan.toString)
      if (run) {
        val t0 = System.nanoTime()
        val n = df.count()
        println(s"rows=$n sec=${(System.nanoTime() - t0) / 1e9}")
      }
    }
    spark.stop()
  }
}
