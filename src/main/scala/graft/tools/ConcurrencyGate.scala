package graft.tools

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Session

/** Round-14 concurrency gate: the two load-bearing claims a shared driver
  * makes on day one, EXECUTED rather than argued:
  *
  *   1. `parallel8` — eight stateful suite queries (both ExtIteration
  *      consumers, the IVF save/append/delete lifecycle, snapshot commit,
  *      delta commit, CoW merge) run in parallel futures on ONE
  *      SparkSession at sf0.01 and must match their serial results
  *      row-for-row.
  *   2. `race_version` / `race_delta` — two committers race ONE table at
  *      the same version, held at the publish point by a barrier so the
  *      photo-finish is deterministic: exactly one wins, the loser throws
  *      the typed ConcurrentCommitException, and the loser's CAS retry
  *      re-merges against the winner (no lost update, no orphan visible
  *      to any reader).
  *   3. `xproc_snapshot` / `xproc_delta` — the same race from two
  *      SEPARATE child JVMs (round 15): the POSIX link(2) exclusive
  *      publish must pick one winner and hand the other PROCESS the
  *      typed loss; the loser CAS-retries from its own JVM.
  *
  * Invocation (plain JVM, local[16]):
  *   java -cp target/scala-2.13/classes:/opt/spark/jars/\* \
  *     graft.tools.ConcurrencyGate all [sfDir]
  *
  * Prints one JSON line per scenario; exits non-zero on any failure.
  */
object ConcurrencyGate {

  private val battery = Seq(
    "d08_neardup_clusters", "d13_incremental_clusters",
    "s06_knn_ivf_saved", "s13_ivf_incremental_ingest",
    "s16_knn_tombstone_delete",
    "p22_time_travel", "p23_delta_commits", "p14_cow_upsert")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.envCpus(16),
      "spark.app.name" -> "graft-concurrency-gate",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("conc_wh").toString)

    val gate = new GateJson.Scenarios(mode)
    import gate.run

    run("parallel8")(parallel8(spark, sfDir))
    run("race_version")(raceVersion(spark))
    run("race_delta")(raceDelta(spark))
    run("xproc_snapshot")(xprocRace(spark, "race-snapshot"))
    run("xproc_delta")(xprocRace(spark, "race-delta"))
    spark.stop()
    gate.exitOnFailure()
  }

  private def collectSorted(spark: SparkSession, sfDir: String,
                            name: String): Seq[String] =
    graft.SparkEntry.queries(name)(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq

  private def parallel8(spark: SparkSession,
                        sfDir: String): (Boolean, String) = {
    val serial = battery.map(n => n -> collectSorted(spark, sfDir, n)).toMap
    val pool = Executors.newFixedThreadPool(battery.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val parallel =
      try Await.result(Future.sequence(
        battery.map(n => Future(n -> collectSorted(spark, sfDir, n)))),
        30.minutes).toMap
      finally pool.shutdown()
    val diverged = battery.filter(n => parallel(n) != serial(n))
    (diverged.isEmpty,
      if (diverged.isEmpty)
        s"${battery.size} stateful queries identical under concurrency " +
          s"(${serial.values.map(_.size).sum} total rows)"
      else s"diverged: ${diverged.mkString(",")}")
  }

  /** Two snapshot committers, held at the publish point by a barrier. */
  private def raceVersion(spark: SparkSession): (Boolean, String) = {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("conc_race").toString + "/tbl"
    val a = (1L to 500L).map(i => (i, "a")).toDF("id", "src")
    val b = (1L to 700L).map(i => (i, "b")).toDF("id", "src")
    graft.sources.Sources.commitVersion(a, base)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.sources.Sources.beforePublishHook = () =>
      if (calls.incrementAndGet() <= 2) {
        barrier.await(120, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    try {
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val outcomes = try Await.result(Future.sequence(Seq(a, b).map(df =>
        Future(
          try Right(graft.sources.Sources.commitVersion(df, base))
          catch {
            case e: graft.sources.ConcurrentCommitException => Left(e)
          }))), 10.minutes)
      finally pool.shutdown()
      val wins = outcomes.collect { case Right(v) => v }
      val losses = outcomes.count(_.isLeft)
      val v2n = graft.sources.Sources.readVersion(spark, base, Some(2L)).count()
      val loserDf = if (v2n == 500L) b else a
      val v3 = graft.sources.Sources.commitVersion(loserDf, base)
      val v3n = graft.sources.Sources.readVersion(spark, base, Some(3L)).count()
      val versions = graft.sources.Sources.listVersions(spark, base)
      val ok = wins == Seq(2L) && losses == 1 &&
        (v2n == 500L || v2n == 700L) && v3 == 3L &&
        v3n == (if (v2n == 500L) 700L else 500L) &&
        versions == Seq(1L, 2L, 3L)
      (ok, s"one winner at v2 ($v2n rows), one typed loser, " +
        s"retry landed v3 ($v3n rows), versions=${versions.mkString(",")}")
    } finally graft.sources.Sources.beforePublishHook = () => ()
  }

  /** Two delta committers racing one band; the loser's CAS retry must
    * re-merge against the winner so BOTH batches land. */
  private def raceDelta(spark: SparkSession): (Boolean, String) = {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("conc_drace").toString + "/tbl"
    val init = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de", "I"))
      .toDF("id", "lang", "op")
    graft.sources.Sources.deltaCommit(spark, base, init, "lang",
      Seq("lang", "id"))
    val insA = (1001L to 1100L).map(i => (i, "en", "I")).toDF("id", "lang", "op")
    val insB = (2001L to 2150L).map(i => (i, "en", "I")).toDF("id", "lang", "op")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.sources.Sources.beforePublishHook = () =>
      if (calls.incrementAndGet() <= 2) {
        barrier.await(120, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    try {
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val versions = try Await.result(Future.sequence(Seq(insA, insB).map(df =>
        Future(graft.sources.Sources.deltaCommit(spark, base, df, "lang",
          Seq("lang", "id"), maxRetries = 2)))), 10.minutes)
      finally pool.shutdown()
      val fin = graft.sources.Sources.deltaRead(spark, base, Some(3L))
      val total = fin.count()
      val aIn = fin.filter(col("id").between(1001L, 1100L)).count()
      val bIn = fin.filter(col("id") >= 2001L).count()
      val ok = versions.sorted == Seq(2L, 3L) &&
        total == 400L + 100L + 150L && aIn == 100L && bIn == 150L
      (ok, s"versions=${versions.sorted.mkString(",")}, v3=$total rows " +
        s"(both batches present: a=$aIn b=$bIn - CAS re-merge, no lost update)")
    } finally graft.sources.Sources.beforePublishHook = () => ()
  }

  private def spawnRacer(mode: String, base: String, id: String,
                         arg: String): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ DriverKillGate.addOpens ++ Seq(
      "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ChaosChild", mode, base, id, arg)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile(s"xproc_child_$id", ".log"))
    pb.start()
  }

  /** Two SEPARATE JVMs race one table's next version — the cross-process
    * twin of race_version/race_delta (r14 verdict item 1). No JVM lock
    * can serialize these: the publish primitive itself (POSIX `link(2)`
    * exclusive create) must pick exactly one winner and hand the OTHER
    * PROCESS a typed ConcurrentCommitException. Children photo-finish on
    * marker files (ready A + ready B → go), the loser CAS-retries from
    * its own JVM and lands v3; for the delta mode the retry must
    * RE-MERGE so both insert batches survive (no lost update). */
  private def xprocRace(spark: SparkSession,
                        mode: String): (Boolean, String) = {
    val S = graft.sources.Sources
    val base = java.nio.file.Files
      .createTempDirectory("xproc").toString + "/tbl"
    if (mode == "race-snapshot")
      S.commitVersion(ChaosChild.init(spark).drop("op"), base)
    else
      S.deltaCommit(spark, base, ChaosChild.init(spark), "lang",
        Seq("lang", "id"))
    val argA = if (mode == "race-snapshot") "10" else "1001"
    val argB = if (mode == "race-snapshot") "100" else "2001"
    val pA = spawnRacer(mode, base, "A", argA)
    val pB = spawnRacer(mode, base, "B", argB)
    def alive = pA.isAlive && pB.isAlive
    try {
      val deadline = System.currentTimeMillis() + 300000
      def marker(n: String) = new java.io.File(s"$base/$n").exists()
      while (!(marker(".race-ready-A") && marker(".race-ready-B")) &&
        alive && System.currentTimeMillis() < deadline) Thread.sleep(50)
      require(marker(".race-ready-A") && marker(".race-ready-B"),
        s"children never staged (aliveA=${pA.isAlive} aliveB=${pB.isAlive})")
      new java.io.File(s"$base/.race-go").createNewFile()
      require(pA.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
        pB.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "a child JVM did not finish after go")
      require(pA.exitValue == 0 && pB.exitValue == 0,
        s"child exits ${pA.exitValue}/${pB.exitValue}")
      def result(id: String) = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/.race-result-$id")), "UTF-8")
      val results = Seq("A" -> result("A"), "B" -> result("B"))
      val winners = results.filter(_._2.startsWith("WON v=2"))
      val losers = results.filter(r =>
        r._2.contains("LOST typed=ConcurrentCommitException") &&
          r._2.contains("RETRY v=3"))
      val versions = S.listVersions(spark, base)
      val shapeOk = winners.size == 1 && losers.size == 1 &&
        winners.head._1 != losers.head._1 && versions == Seq(1L, 2L, 3L)
      val contentOk =
        if (!shapeOk) false
        else if (mode == "race-snapshot") {
          import org.apache.spark.sql.functions.sum
          def xSum(v: Long) = S.readVersion(spark, base, Some(v))
            .agg(sum("x")).head.getLong(0)
          val wf = if (winners.head._1 == "A") 10L else 100L
          val lf = 110L - wf
          xSum(2L) == wf * 80200L && xSum(3L) == lf * 80200L
        } else {
          import org.apache.spark.sql.functions.col
          val fin = S.deltaRead(spark, base, Some(3L))
          fin.count() == 500L &&
            fin.filter(col("id").between(1001L, 1050L)).count() == 50L &&
            fin.filter(col("id").between(2001L, 2050L)).count() == 50L
        }
      (shapeOk && contentOk,
        s"winner=${winners.map(_._1).mkString} (v2), typed loser=" +
          s"${losers.map(_._1).mkString} CAS-retried to v3 from a SEPARATE " +
          s"JVM, versions=${versions.mkString(",")}, content verified")
    } finally {
      if (pA.isAlive) pA.destroyForcibly()
      if (pB.isAlive) pB.destroyForcibly()
    }
  }
}
