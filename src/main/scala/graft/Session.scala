package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder behind every graft main, gate and
  * test suite. Defaults: `local[cpus]` with `cpus` shuffle partitions, the
  * UTC session time zone (the events view's NTZ->LTZ timestamp cast must
  * mean the same instants the DuckDB oracles see), no web UI, WARN logs.
  * Each `conf` pair overrides or extends a default; a caller that needs a
  * quieter log calls `setLogLevel` on the returned session.
  */
object Session {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
