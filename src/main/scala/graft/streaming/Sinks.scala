package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming sinks. The reference has no streaming at all (SURVEY.md §2.10);
  * these are the Spark-native write side of graft's streaming surface.
  *
  * Exactly-once contract of the parquet sink: the checkpoint records
  * committed source offsets and the file-sink manifest (_spark_metadata)
  * records committed output files, so a restart with the same
  * (path, checkpoint) pair resumes from the last committed batch without
  * duplicating or losing rows — readers that go through
  * `spark.read.parquet(path)` see only manifest-committed files.
  *
  * Scale notes: partition by a low-cardinality column (date/hour) so each
  * micro-batch appends a bounded file count; Trigger.AvailableNow drains a
  * backlog with the same exactly-once guarantees and then stops, which is
  * the batch-backfill mode of the same pipeline.
  */
object Sinks {

  /** Append-mode partitioned parquet sink. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  partitionCols: Seq[String] = Nil,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val w = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).start()
  }

  /** Streaming copy-on-write UPSERT sink: each micro-batch merges into a
    * range-partitioned corpus via
    * [[graft.sources.Sources.upsertRangePartitioned]] (foreachBatch — the
    * sanctioned custom-sink hook). Last writer wins per key, so the final
    * table state equals the batch-twin sequence of upserts over the same
    * batches — the continuous-ingest path of a managed corpus.
    *
    * Delivery contract: foreachBatch is at-least-once ACROSS RESTARTS (the
    * checkpoint dedups source offsets, but a batch that committed its merge
    * and crashed before the offset commit REPLAYS). The upsert itself is
    * idempotent for identical batch content (replace-by-key), so replays
    * converge — the standard idempotent-sink argument. Within one run each
    * batch merges exactly once, sequentially (Spark serializes foreachBatch
    * invocations).
    *
    * Scale shape: each micro-batch touches only its own bands (driver-side
    * band list → PartitionFilters), so ingest cost ∝ batch, not corpus —
    * the same contract as the batch upsert it delegates to.
    */
  def upsertSink(df: DataFrame, basePath: String, checkpoint: String,
                 bucketCol: String, keyCols: Seq[String],
                 sortCols: Seq[String] = Nil,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val p = new org.apache.hadoop.fs.Path(basePath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p))
            // bootstrap: the very first batch creates the partitioned layout
            graft.sources.Sources.writeRangePartitioned(
              batch, bucketCol, basePath, sortCols = sortCols)
          else
            graft.sources.Sources.upsertRangePartitioned(
              spark, basePath, batch, bucketCol, keyCols, sortCols)
        }
        ()
      }
      .start()

  /** Streaming DELTA-VERSION sink: each micro-batch lands as ONE immutable
    * table version via [[graft.sources.Sources.deltaCommit]] (foreachBatch)
    * — continuous ingestion where every batch's table state stays
    * time-travel-readable and snapshot-isolated. Restart semantics: the
    * checkpoint replays the last in-flight batch, which is
    * (a) version-deduped by an atomically-created per-batch marker file
    * (the common case skips the re-commit entirely), and
    * (b) content-idempotent even if the marker write itself was lost —
    * deltaCommit's keyed anti-join re-applies the same I/U/D, so the
    * duplicate version equals its predecessor row-for-row (an extra
    * version number, never wrong data).
    * The caller's first batch must be all-inserts (deltaCommit's
    * first-commit contract).
    */
  def deltaSink(df: DataFrame, basePath: String, checkpoint: String,
                bucketCol: String, keyCols: Seq[String],
                opCol: String = "op",
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val fs = new org.apache.hadoop.fs.Path(basePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val marker = new org.apache.hadoop.fs.Path(
            basePath, s".batch-$batchId.committed")
          if (!fs.exists(marker)) {
            val v = graft.sources.Sources.deltaCommit(
              spark, basePath, batch, bucketCol, keyCols, opCol)
            val out = fs.create(marker, false)
            try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
          }
        }
        ()
      }
      .start()
}
