package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

/** One SparkSession, many stateful queries AT ONCE — the shared-driver
  * usage a cluster sees on day one, and (until round 14) the only
  * load-bearing claim never executed: Kernels.call's once-per-session
  * kernel registration, the consumers' per-call unique temp-view names,
  * and the versioned tables' per-table commit locks all promise that
  * concurrent queries neither corrupt each other nor deadlock.
  *
  * The battery is the r13 verdict's prescribed mix: BOTH ExtIteration
  * consumers (d08/d13 whole-fixpoint-on-the-wire), the IVF lifecycle
  * (save+probe, append ingest, tombstone delete — three separate saved
  * indexes), a snapshot commit (p22), a delta commit (p23), and the CoW
  * merge upsert (p14). Each runs serially first, then all eight run in
  * parallel futures on the ONE shared session; results must be
  * row-for-row identical.
  */
class ConcurrencySpec extends SparkTestBase {

  private val battery = Seq(
    "d08_neardup_clusters",
    "d13_incremental_clusters",
    "s06_knn_ivf_saved",
    "s13_ivf_incremental_ingest",
    "s16_knn_tombstone_delete",
    "p22_time_travel",
    "p23_delta_commits",
    "p14_cow_upsert")

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq

  test("8 stateful suite queries in parallel futures on ONE session " +
    "match their serial results row-for-row") {
    val serial = battery.map(n => n -> run(n)).toMap
    val pool = Executors.newFixedThreadPool(battery.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val parallel = Await.result(
        Future.sequence(battery.map(n => Future(n -> run(n)))),
        15.minutes).toMap
      battery.foreach { n =>
        assert(parallel(n) == serial(n),
          s"$n diverged under concurrency: " +
            s"${parallel(n).size} rows vs ${serial(n).size} serial")
      }
    } finally pool.shutdown()
  }

  test("two racing committers at one version: exactly one wins, the " +
    "loser is a typed ConcurrentCommitException, a retry lands next") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_race").toString + "/tbl"
    val a = (1L to 50L).map(i => (i, "a")).toDF("id", "src")
    val b = (1L to 70L).map(i => (i, "b")).toDF("id", "src")
    sources.Sources.commitVersion(a, base) // v1 exists

    // both writers stage their data, then BLOCK at the publish point until
    // the other arrives — a deterministic photo-finish, not a lucky one
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    sources.Sources.beforePublishHook = () =>
      if (calls.incrementAndGet() <= 2) {
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    try {
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val outcomes = try Await.result(Future.sequence(Seq(a, b).map(df =>
        Future(
          try Right(sources.Sources.commitVersion(df, base))
          catch { case e: sources.ConcurrentCommitException => Left(e) }))),
        5.minutes)
      finally pool.shutdown()
      val wins = outcomes.collect { case Right(v) => v }
      val losses = outcomes.collect { case Left(e) => e }
      assert(wins == Seq(2L) && losses.size == 1,
        s"expected exactly one winner at v2 and one typed loser: $outcomes")
      // no orphan corrupts any read: v2 is exactly the winner's frame
      val v2n = sources.Sources.readVersion(spark, base, Some(2L)).count()
      assert(v2n == 50L || v2n == 70L, s"v2 has $v2n rows")
      // the documented retry protocol: the loser re-commits and lands at v3
      val loserDf = if (v2n == 50L) b else a
      assert(sources.Sources.commitVersion(loserDf, base) == 3L)
      assert(sources.Sources.readVersion(spark, base, Some(3L)).count()
        == (if (v2n == 50L) 70L else 50L))
      assert(sources.Sources.listVersions(spark, base) == Seq(1L, 2L, 3L))
    } finally sources.Sources.beforePublishHook = () => ()
  }

  test("two racing deltaCommits with maxRetries: the loser's CAS retry " +
    "re-merges against the winner, so BOTH change batches land") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_drace").toString + "/tbl"
    val init = (1L to 40L).map(i => (i, if (i % 2 == 0) "en" else "de", "I"))
      .toDF("id", "lang", "op")
    sources.Sources.deltaCommit(spark, base, init, "lang", Seq("lang", "id"))

    val insA = (101L to 110L).map(i => (i, "en", "I")).toDF("id", "lang", "op")
    val insB = (201L to 215L).map(i => (i, "en", "I")).toDF("id", "lang", "op")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    sources.Sources.beforePublishHook = () =>
      if (calls.incrementAndGet() <= 2) {
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    try {
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val versions = try Await.result(Future.sequence(Seq(insA, insB).map(df =>
        Future(sources.Sources.deltaCommit(spark, base, df, "lang",
          Seq("lang", "id"), maxRetries = 2)))),
        5.minutes)
      finally pool.shutdown()
      // one won v2 outright; the other lost, re-merged against v2, took v3
      assert(versions.sorted == Seq(2L, 3L), s"got versions $versions")
      val fin = sources.Sources.deltaRead(spark, base, Some(3L))
      assert(fin.count() == 40L + 10L + 15L,
        "the retry must carry BOTH batches (CAS re-merge, not lost update)")
      assert(fin.filter(col("id") >= 101L && col("id") <= 110L).count() == 10L)
      assert(fin.filter(col("id") >= 201L).count() == 15L)
      // and v2 (the winner's snapshot) is still exactly one batch ahead
      assert(sources.Sources.deltaRead(spark, base, Some(2L)).count() == 50L ||
        sources.Sources.deltaRead(spark, base, Some(2L)).count() == 55L)
    } finally sources.Sources.beforePublishHook = () => ()
  }
}
