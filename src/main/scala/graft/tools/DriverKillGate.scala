package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Session
import graft.sources.Sources

/** Round-14 driver-kill gate (r13 verdict item 6): the commit protocols'
  * crash contracts proven against a REAL process death, not rename
  * injection. Each scenario runs the commit in a CHILD JVM
  * ([[ChaosChild]]) that parks inside the narrowest crash window after
  * dropping a marker file; this parent `kill -9`s the child there, then
  * asserts from its own (fresh) session over the half-written filesystem:
  *
  *   - `delta`    — killed after v2's data files moved into place, before
  *                  the manifest publish: v1 reads byte-identical (md5 of
  *                  every manifest-listed file), the orphaned v2 files are
  *                  invisible, re-running the commit lands v2 exactly, and
  *                  v1's bytes are STILL identical afterwards (published
  *                  versions immutable through recovery).
  *   - `snapshot` — same window for commitVersion; vacuumVersions sweeps
  *                  the orphaned data dir; the re-run commits cleanly.
  *   - `merge`    — killed BETWEEN the CoW swap's two renames (band
  *                  retired to backup, replacement never landed): the
  *                  backup is present, the next merge's recovery sweep
  *                  restores it, and re-running the same batch yields the
  *                  exact closed form with no backup/staging leftovers.
  *
  * Invocation:
  *   java -cp target/scala-2.13/classes:/opt/spark/jars/\* \
  *     graft.tools.DriverKillGate all
  */
object DriverKillGate {

  private[tools] val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = Session.local(Session.envCpus(8),
      "spark.app.name" -> "graft-driverkill-gate",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("dkg_wh").toString)

    val gate = new GateJson.Scenarios(mode)
    import gate.run

    run("delta")(deltaScenario(spark))
    run("snapshot")(snapshotScenario(spark))
    run("merge")(mergeScenario(spark))
    spark.stop()
    gate.exitOnFailure()
  }

  /** Spawn ChaosChild, wait for its crash-window marker, SIGKILL it. */
  private def spawnAndKill(childMode: String, base: String): Unit = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ChaosChild", childMode, base)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile("chaos_child", ".log"))
    val proc = pb.start()
    val marker = new java.io.File(s"$base/.chaos-staged")
    val deadline = System.currentTimeMillis() + 300000
    while (!marker.exists() && proc.isAlive &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    if (!marker.exists()) {
      val alive = proc.isAlive
      proc.destroyForcibly() // never leak a parked child JVM on timeout
      proc.waitFor()
      sys.error(s"child never reached the crash window (alive=$alive)")
    }
    proc.destroyForcibly() // SIGKILL — a real driver death
    proc.waitFor()
  }

  private def md5s(spark: SparkSession, base: String,
                   files: Seq[String]): Map[String, String] =
    files.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/$f"))
      f -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }.toMap

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("id", "lang", "x").collect().map(_.toString).sorted.toSeq

  /** init (minus op) with the change batch applied — the closed form. */
  private def expectedMerged(spark: SparkSession): Seq[String] = {
    val i = ChaosChild.init(spark).drop("op")
    val ch = ChaosChild.change(spark)
    sortedRows(i.join(ch.select("lang", "id"), Seq("lang", "id"), "left_anti")
      .unionByName(ch.filter(col("op") =!= "D").drop("op")))
  }

  private def deltaScenario(spark: SparkSession): (Boolean, String) = {
    val base = java.nio.file.Files
      .createTempDirectory("dkg_delta").toString + "/tbl"
    spawnAndKill("delta", base)
    val versions0 = Sources.listVersions(spark, base)
    require(versions0 == Seq(1L),
      s"only v1 may be published after the kill: $versions0")
    // v1 content exact, and its BYTES fingerprinted for the immutability
    // assertion after recovery
    val v1Files = Sources.readVersion(spark, base, Some(1L))
      .inputFiles.toSeq
      .map(u => new java.net.URI(u).getPath.stripPrefix(base + "/"))
    val v1Before = md5s(spark, base, v1Files)
    require(sortedRows(Sources.deltaRead(spark, base, Some(1L))) ==
      sortedRows(ChaosChild.init(spark).drop("op")), "v1 content drifted")
    // the kill left v2's moved files orphaned — and invisible
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val enFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$base/data/lang=en"))
      .map(st => s"data/lang=en/${st.getPath.getName}").toSet
    val orphans = enFiles -- v1Files.toSet
    require(orphans.nonEmpty, "expected orphaned staged files from the kill")
    // re-run the SAME commit from this fresh session: lands v2 exactly
    val v2 = Sources.deltaCommit(spark, base, ChaosChild.change(spark),
      "lang", Seq("lang", "id"))
    require(v2 == 2L, s"re-run landed v$v2")
    val v2Ok = sortedRows(Sources.deltaRead(spark, base, Some(2L))) ==
      expectedMerged(spark)
    val v1After = md5s(spark, base, v1Files)
    val immutable = v1After == v1Before
    (v2Ok && immutable,
      s"v1 byte-identical through kill+recovery (${v1Files.size} files), " +
        s"${orphans.size} orphans invisible, re-run landed v2 exact")
  }

  private def snapshotScenario(spark: SparkSession): (Boolean, String) = {
    val base = java.nio.file.Files
      .createTempDirectory("dkg_snap").toString + "/tbl"
    spawnAndKill("snapshot", base)
    require(Sources.listVersions(spark, base) == Seq(1L), "only v1 visible")
    require(Sources.readVersion(spark, base, Some(1L)).count() == 400L,
      "v1 content drifted")
    // the killed commit's data dir is an orphan; vacuum sweeps it
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs0 = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$base/data")).length
    require(dataDirs0 == 2, s"expected v1 dir + 1 orphan, got $dataDirs0")
    // minOrphanAgeMs = 0: the committer is PROVABLY dead (we killed it)
    Sources.vacuumVersions(spark, base, keepLast = 1, minOrphanAgeMs = 0L)
    val dataDirs1 = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$base/data")).length
    require(dataDirs1 == 1, s"vacuum must sweep the orphan, got $dataDirs1")
    // re-run commits cleanly
    val v2 = Sources.commitVersion(
      ChaosChild.init(spark).drop("op").filter("id <= 200"), base)
    val ok = v2 == 2L &&
      Sources.readVersion(spark, base, Some(2L)).count() == 200L &&
      Sources.readVersion(spark, base, Some(1L)).count() == 400L
    (ok, "v1 intact, orphan swept by vacuum, re-run landed v2 with v1 intact")
  }

  private def mergeScenario(spark: SparkSession): (Boolean, String) = {
    val root = java.nio.file.Files.createTempDirectory("dkg_merge").toString
    val base = s"$root/tbl"
    spawnAndKill("merge", base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // we died between the two renames: the band is retired to its backup
    val backup = new org.apache.hadoop.fs.Path(base, ".lang=en.upsert-backup")
    require(fs.exists(backup), "expected the mid-swap backup to exist")
    require(!fs.exists(new org.apache.hadoop.fs.Path(base, "lang=en")),
      "the live band should be missing in the crash window")
    // re-running the SAME merge batch recovers the band first, then lands
    // the merge — the documented idempotent re-run contract
    Sources.mergeRangePartitioned(spark, base, ChaosChild.change(spark),
      "lang", Seq("lang", "id"))
    val ok = sortedRows(spark.read.parquet(base)) == expectedMerged(spark)
    val clean = !fs.exists(backup) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$base.upsert-staging"))
    (ok && clean,
      "backup present in the window, recovery + re-run yielded the exact " +
        "closed form, no backup/staging leftovers")
  }
}
