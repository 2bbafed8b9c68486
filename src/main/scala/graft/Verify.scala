package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (round-6 hardening — CORRECTNESS_r05 came back `{}`):
  *  - oracle_sql.json is written FIRST, before any query runs, so a timeout
  *    or crash mid-run still leaves the oracle map plus every completed
  *    query's parquet → a partial correctness report instead of an empty one.
  *  - queries run on a small thread pool (Spark's scheduler is thread-safe;
  *    concurrent jobs overlap each other's single-threaded planning/codegen
  *    phases) → ~3-4× lower wall than the serial loop, far under any driver
  *    timeout.
  *  - every query logs start/finish + elapsed to stderr, so a driver-side
  *    failure is attributable to a specific query instead of silent.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: run only these query names (debug aid)
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val cpus = Session.envCpus(4)
    // the 220-query sweep compiles >200 codegen stages; the 100-entry default
    // class cache thrashes (see Bench.scala)
    val spark = Session.local(cpus, "spark.sql.codegen.cache.maxEntries" -> "2000")
    new java.io.File(outDir).mkdirs()

    // escaped keys and SQL: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    def q(s: String): String = "\"" + graft.tools.GateJson.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t0 = System.nanoTime()
    def log(m: String): Unit =
      System.err.println(f"[verify +${(System.nanoTime() - t0) / 1e9}%.1fs] $m")
    val nThreads = math.max(2, math.min(8, cpus / 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val s0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            log(f"$name ok (${(System.nanoTime() - s0) / 1e9}%.1fs, " +
              s"${done.incrementAndGet()}/${selected.size})")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            log(s"$name FAILED: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    log(s"all ${selected.size} queries done")
    spark.stop()
  }
}
