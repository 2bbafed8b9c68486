package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Session

/** Round-13 spill gate: the SAFETY MECHANISMS ARE OBSERVED FIRING, not
  * inferred from completion. The r12 verdict's boundary 3 — "the 8 GiB
  * table shows every heavy completes, but nothing asserts the spill/route
  * actually fired (memoryBytesSpilled > 0 or the bigBucket branch taken)
  * vs the data simply fitting" — is closed by three scenarios, run under a
  * DELIBERATELY small heap (invoke with -Xmx2g, 8 threads):
  *
  *   1. `agg`   — 30M-group hash aggregation whose build side exceeds
  *                execution memory: task metrics must show
  *                `memoryBytesSpilled > 0` (the sort-based fallback
  *                engaged) AND the aggregate equals its closed form —
  *                spilling changed the memory shape, not the answer.
  *   2. `d04`   — the REAL blocked-Jaccard kernel path (collect_list
  *                SortAggregate) over a 400k-doc planted-twin corpus whose
  *                shingle volume (~0.5 GB of hashed grams) exceeds the
  *                2 GiB JVM's execution memory: spill metrics must be
  *                non-zero and EVERY planted twin pair (and nothing else)
  *                must come back — the operator's own exactness under
  *                observed memory pressure.
  *   3. `route` — the bigBucket escape hatch OBSERVABLY taken: with the
  *                cap forced under a planted oversized block, the built
  *                plan must contain the routed prefix-JOIN branch (the
  *                kernel-only plan has no join at all), and its pair set
  *                must equal the kernel path's (bigBucket disabled) on the
  *                same corpus — the branch fired, and firing is lossless.
  *
  * Prints one JSON line per scenario with the observed spill bytes;
  * exits non-zero on any failure.
  *
  * Usage: java -Xmx2g -XX:ReservedCodeCacheSize=512m --add-opens ... \
  *   -cp target/scala-2.13/classes:/opt/spark/jars/\* graft.tools.SpillGate \
  *   [agg|d04|route|all]
  */
object SpillGate {
  private val memSpilled = new AtomicLong(0)
  private val diskSpilled = new AtomicLong(0)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = Session.local(Session.envCpus(8),
      "spark.app.name" -> "graft-spill-gate",
      // a SMALL unified-memory pool (not a small heap): sorts and hash
      // aggregates must go through the memory manager and SPILL when the
      // pool denies them, while the heap keeps headroom for the per-group
      // aggregation buffers that are unspillable by design — the shape
      // that OBSERVES the mechanism instead of provoking an OOM
      "spark.memory.fraction" -> "0.2")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val gate = new GateJson.Scenarios(mode)
    def run(name: String, requireSpill: Boolean)(
        body: => (Boolean, String)): Unit = {
      memSpilled.set(0); diskSpilled.set(0)
      gate.run(name, { ok =>
        val mem = memSpilled.get(); val disk = diskSpilled.get()
        (Seq("ok" -> ok, "memoryBytesSpilled" -> mem, "diskBytesSpilled" -> disk,
          "spillObserved" -> (mem > 0)), ok && (!requireSpill || mem > 0))
      })(body)
    }

    run("agg", requireSpill = true)(aggScenario(spark))
    run("d04", requireSpill = true)(d04Scenario(spark))
    run("route", requireSpill = false)(routeScenario(spark))
    spark.stop()
    gate.exitOnFailure()
  }

  /** 30M distinct groups with ~64 B of grouping state each — the hash
    * aggregate must fall back and spill under 2 GiB / 8 threads. */
  private def aggScenario(spark: SparkSession): (Boolean, String) = {
    val n = 30000000L
    val row = spark.range(n)
      .select(col("id").as("k"), col("id").as("v"),
        conv(col("id").cast("string"), 10, 16).as("pad"))
      .groupBy("k").agg(sum(col("v")).as("sv"), max(col("pad")).as("mp"))
      .agg(count(lit(1)).as("groups"), sum(col("sv")).as("total"))
      .collect()(0)
    val ok = row.getLong(0) == n && row.getLong(1) == n * (n - 1) / 2
    (ok, s"groups=${row.getLong(0)} total=${row.getLong(1)}")
  }

  /** Planted-twin corpus for the d04 kernel path: docs 2i and 2i+1 share
    * identical 80-token texts (Jaccard 1.0); distinct pairs share ~nothing
    * (tokens are xxhash64-derived per pair id). 800k docs × 78 hashed
    * shingles ≈ 0.5 GB of grams before sort-row overhead — past the 2 GiB
    * JVM's execution memory, so the kernel path's SortAggregate must spill
    * between groups. */
  private def d04Scenario(spark: SparkSession): (Boolean, String) = {
    val nPairs = 400000L
    val docs = spark.range(2 * nPairs)
      // integer pair id: col("id")/2 is DOUBLE division in Spark, which
      // would put the two twins of an odd/even pair in different blocks
      .withColumn("pid", (col("id") - col("id") % 2) / 2)
      .select(
        col("id").as("doc_id"),
        pmod(col("pid"), lit(256L)).cast("long").cast("string").as("lang"),
        array_join(transform(sequence(lit(0), lit(79)),
          w => conv(xxhash64(col("pid"), w).cast("string"), 10, 16)), " ")
          .as("text"))
    val pairs = graft.ops.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), shingleSize = 3, threshold = 0.9)
    val total = pairs.count()
    val wrong = pairs.filter(
      !(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0) ||
        col("jaccard") < 1.0).count()
    (total == nPairs && wrong == 0, s"pairs=$total (want $nPairs) wrong=$wrong")
  }

  /** Force the bigBucket hatch with a planted oversized block and observe
    * the routed branch in the plan, then certify route ≡ kernel output. */
  private def routeScenario(spark: SparkSession): (Boolean, String) = {
    val nPairs = 3000L
    // ONE block: every doc lands in lang "big" — the routing probe must
    // see 6,000 members > bigBucket/2 = 500 and take the hatch
    val docs = spark.range(2 * nPairs).select(
      col("id").as("doc_id"), lit("big").as("lang"),
      array_join(transform(sequence(lit(0), lit(39)),
        w => conv(xxhash64((col("id") / 2).cast("long"), w).cast("string"),
          10, 16)), " ").as("text"))
    val routed = graft.ops.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), threshold = 0.9, bigBucket = 1000)
    val kernel = graft.ops.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), threshold = 0.9, bigBucket = 0)
    val routedPlan = routed.queryExecution.optimizedPlan.toString
    val kernelPlan = kernel.queryExecution.optimizedPlan.toString
    val branchTaken = routedPlan.contains("Join") && !kernelPlan.contains("Join")
    val rk = routed.select("id_a", "id_b").exceptAll(
      kernel.select("id_a", "id_b")).count()
    val kr = kernel.select("id_a", "id_b").exceptAll(
      routed.select("id_a", "id_b")).count()
    val n = routed.count()
    (branchTaken && rk == 0 && kr == 0 && n == nPairs,
      s"branchTaken=$branchTaken pairs=$n (want $nPairs) setDiff=${rk + kr}")
  }
}
