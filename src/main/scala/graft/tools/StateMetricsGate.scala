package graft.tools

import org.apache.spark.sql.functions._

import graft.Session
import graft.streaming.{EventStream, Sinks, StateMetrics}

/** Round-14 streaming state-store gate at rehearsal scale: the r12/r13
  * verdicts' carried item — "bounded-state claims rest on construction
  * arguments only" — closed by MEASURING `stateOperators.numRowsTotal`
  * across 12 micro-batches of 120k events each (1.44M events/scenario,
  * ~10x the sf0.1 events table) for every watermark-carrying operator:
  * windowed aggregation, dropDuplicatesWithinWatermark, stream-stream
  * interval join, session windows, and the funnel's
  * flatMapGroupsWithState; plus the delta sink, whose claim is ZERO state
  * operators (foreachBatch is stateless; versions are the state).
  *
  * Pass = state plateaus under the scenario cap with eviction observed
  * (numRowsRemoved > 0) and watermark lag bounded by one batch step.
  *
  * Invocation:
  *   java -cp target/scala-2.13/classes:/opt/spark/jars/\* \
  *     graft.tools.StateMetricsGate all
  */
object StateMetricsGate {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = Session.local(Session.envCpus(16),
      "spark.app.name" -> "graft-state-gate",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("smg_wh").toString)

    val nBatches = 12
    val rows = 120000

    val gate = new GateJson.Scenarios(mode)
    import gate.run

    def measured(name: String, cap: Long,
                 transform: org.apache.spark.sql.DataFrame =>
                   org.apache.spark.sql.DataFrame,
                 uniqueUsers: Boolean = false): Unit =
      run(name) {
        val ms = StateMetrics.run(spark, name, transform,
          nBatches, rows, advanceMin = 60,
          usersPerBatchUnique = uniqueUsers)
        val (ok, detail) = StateMetrics.boundedVerdict(ms, cap)
        val series = ms.map(_.stateRowsTotal).mkString(",")
        (ok && ms.map(_.watermarkLagSec).filter(_ != Long.MaxValue).max
          <= 2 * 3600L,
          s"$detail; series=[$series]")
      }

    // window-keyed agg: state is WINDOWS x types — constant in row rate
    measured("windowed_agg", cap = 120,
      df => EventStream.windowedTypeCounts(df,
        watermark = "30 minutes", windowLen = "10 minutes"))
    // id-keyed dedup: state ~ one batch + watermark tail + eviction lag
    measured("dedup_watermark", cap = 3L * rows,
      df => EventStream.streamingDedupWithinWatermark(df, Seq("event_id"),
        watermark = "30 minutes"))
    // two-sided join buffers: horizon+watermark per side (1/4 of rows each)
    measured("interval_join", cap = 2L * rows,
      df => EventStream.intervalJoin(
        df.filter(col("event_type") === "view")
          .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
            col("user_id").as("l_user")),
        df.filter(col("event_type") === "click")
          .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
            col("user_id").as("r_user")),
        "l_user", "r_user", "l_ts", "r_ts",
        horizonSeconds = 600, watermark = "30 minutes"))
    // session store: open sessions only. Per-batch-unique user cohorts —
    // at this density a recurring user's events are seconds apart, so one
    // recycled cohort would merge into 500 never-closing sessions (state
    // constant but nothing evicts); fresh cohorts go quiet, their sessions
    // close past the watermark, and eviction is observable
    measured("session_window", cap = 3L * rows,
      df => EventStream.sessionWindowAgg(df,
        gap = "5 minutes", watermark = "30 minutes"),
      uniqueUsers = true)
    // funnel state: per-user buffered step events, event-time timeout;
    // 500 fresh users per batch go quiet and MUST evict
    measured("funnel_state", cap = 2000,
      df => EventStream.funnelStream(spark, df, horizonMinutes = 90).toDF(),
      uniqueUsers = true)

    // delta sink: stateless by construction — assert ZERO state operators
    // and one version per data-carrying micro-batch
    run("delta_sink_stateless") {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("smg_delta").toString
      val src = s"$root/src"; val tbl = s"$root/tbl"; val ck = s"$root/ck"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val mk = (b: Int) => (0 until rows / 10).map { i =>
        (b.toLong * rows + i, if (i % 2 == 0) "en" else "de", "I")
      }.toDF("id", "lang", "op")
      val schema = mk(0).schema
      var stateOps = 0
      (0 until 4).foreach { b =>
        mk(b).coalesce(1).write.mode("append").parquet(src)
        val q = Sinks.deltaSink(
          spark.readStream.schema(schema).parquet(src), tbl, ck,
          "lang", Seq("lang", "id"))
        q.awaitTermination()
        val p = q.lastProgress
        if (p != null) stateOps += p.stateOperators.length
      }
      val versions = graft.sources.Sources.listVersions(spark, tbl)
      val n = graft.sources.Sources.deltaRead(spark, tbl).count()
      (stateOps == 0 && versions == Seq(1L, 2L, 3L, 4L) &&
        n == 4L * (rows / 10),
        s"zero state operators across 4 ingest batches, " +
          s"versions=${versions.mkString(",")}, rows=$n")
    }

    spark.stop()
    gate.exitOnFailure()
  }
}
