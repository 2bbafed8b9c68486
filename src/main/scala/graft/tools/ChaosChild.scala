package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Session
import graft.sources.Sources

/** Child-JVM workload for [[DriverKillGate]]: performs a REAL versioned /
  * CoW commit and then parks INSIDE the commit's narrowest crash window
  * (after every data byte is staged, before the manifest publish — or
  * between the CoW swap's two renames) after dropping a marker file. The
  * parent gate waits for the marker and `kill -9`s this whole JVM: a real
  * driver death over a real half-written filesystem, closing the r13
  * declared boundary that driver loss was only ever injection-simulated.
  *
  * The fixture frames are public so the parent gate asserts against the
  * SAME closed form the child wrote. */
object ChaosChild {

  /** 400-row base table: ids 1..400, lang en/de by parity, x = id. */
  def init(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de", i, "I"))
      .toDF("id", "lang", "x", "op")
  }

  /** Change batch touching ONLY the en band: 100 inserts (1001-1100),
    * updates at id % 4 == 2 (x flips negative), deletes at id % 4 == 0 —
    * disjoint key sets, so the merged closed form is unambiguous. */
  def change(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ((1001L to 1100L).map(i => (i, "en", i, "I")) ++
      (2L to 40L by 4).map(i => (i, "en", -i, "U")) ++
      (4L to 40L by 4).map(i => (i, "en", i, "D")))
      .toDF("id", "lang", "x", "op")
  }

  private def park(markerPath: String): Unit = {
    new java.io.File(markerPath).createNewFile()
    Thread.sleep(600000) // the parent kills us long before this elapses
  }

  /** Cross-PROCESS photo finish: a one-shot beforePublishHook that drops
    * a per-writer ready marker, then spins until the parent's go marker
    * appears — so two SEPARATE JVMs hit the publish primitive together.
    * One-shot: the loser's CAS retry publishes without re-barriering. */
  private def armRaceHook(base: String, id: String): Unit = {
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    Sources.beforePublishHook = () =>
      if (once.compareAndSet(false, true)) {
        new java.io.File(s"$base/.race-ready-$id").createNewFile()
        val go = new java.io.File(s"$base/.race-go")
        val deadline = System.currentTimeMillis() + 120000
        while (!go.exists() && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        if (!go.exists()) sys.error("race go marker never appeared")
      }
  }

  /** Run one racing commit attempt, record WON / typed-LOST + CAS retry
    * to a per-writer result file, exit 0. The typed catch is the point:
    * a SEPARATE process must lose LOUDLY, never silently overwrite. */
  private def raceAndRecord(base: String, id: String)
                           (attempt: () => Long): Unit = {
    val res = new StringBuilder
    try {
      val v = attempt()
      res.append(s"WON v=$v\n")
    } catch {
      case e: graft.sources.ConcurrentCommitException =>
        res.append(s"LOST typed=${e.getClass.getSimpleName}\n")
        val v2 = attempt() // CAS retry: re-resolve latest, land next
        res.append(s"RETRY v=$v2\n")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/.race-result-$id"),
      res.toString.getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val base = args(1)
    val spark = Session.local(4,
      "spark.app.name" -> "graft-chaos-child",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("chaos_child_wh").toString)
    mode match {
      case "delta" =>
        Sources.deltaCommit(spark, base, init(spark), "lang",
          Seq("lang", "id"))
        Sources.beforePublishHook = () => park(s"$base/.chaos-staged")
        Sources.deltaCommit(spark, base, change(spark), "lang",
          Seq("lang", "id"))
      case "snapshot" =>
        Sources.commitVersion(init(spark).drop("op"), base)
        Sources.beforePublishHook = () => park(s"$base/.chaos-staged")
        Sources.commitVersion(
          init(spark).drop("op").filter("id <= 200"), base)
      case "merge" =>
        init(spark).drop("op")
          .write.mode("overwrite").partitionBy("lang").parquet(base)
        Sources.betweenSwapRenamesHook = () => park(s"$base/.chaos-staged")
        Sources.mergeRangePartitioned(spark, base, change(spark), "lang",
          Seq("lang", "id"))
      case "race-snapshot" =>
        // parent pre-published v1; race a full-snapshot v2 against the
        // sibling JVM (x = id * factor distinguishes the writers' content)
        val id = args(2)
        val factor = args(3).toLong
        armRaceHook(base, id)
        val mine = init(spark).drop("op")
          .withColumn("x", org.apache.spark.sql.functions.col("id") *
            org.apache.spark.sql.functions.lit(factor))
        raceAndRecord(base, id)(() => Sources.commitVersion(mine, base))
        spark.stop()
        sys.exit(0)
      case "race-delta" =>
        // parent pre-published v1; race a band-delta v2 — the loser's CAS
        // retry must RE-MERGE against the winner (both insert batches land)
        val id = args(2)
        val lo = args(3).toLong
        armRaceHook(base, id)
        import spark.implicits._
        val batch = (lo until lo + 50L).map(i => (i, "en", i, "I"))
          .toDF("id", "lang", "x", "op")
        raceAndRecord(base, id)(() =>
          Sources.deltaCommit(spark, base, batch, "lang", Seq("lang", "id")))
        spark.stop()
        sys.exit(0)
      case other => sys.error(s"unknown chaos-child mode: $other")
    }
    // reaching here means the parent failed to kill us in the window
    sys.exit(3)
  }
}
