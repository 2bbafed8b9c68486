package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Round-11 verdict task 1: certify the blocked-Jaccard EXTREME-BLOCK escape
  * hatch at rehearsal scale — not just the forced bigBucket=10 unit fixture.
  *
  * Builds a corpus with ONE pathological block (every document mapped to the
  * same (lang, source) key — the "user blocked on a key that stopped
  * refining" failure mode) from a rehearsal fixture, plants a near-dup twin
  * per base doc, and certifies:
  *   1. ROUTING: the build-time probe detects the block (> bigBucket/2
  *      members) and routes it off the collect_list kernel path;
  *   2. COMPLETENESS at scale: the routed (shuffle/prefix-join) path finds
  *      EVERY planted twin — blocked Jaccard is exact, so one missing twin
  *      fails the gate;
  *   3. LOSSLESSNESS vs the kernel path: optional `ab` mode runs both paths
  *      on a just-above-threshold corpus and asserts identical pair sets.
  *
  * The MEMORY axis is driven by the INVOKING JVM: run mode `routed` under a
  * deliberately small heap (-Xmx8g, local[8]) to certify the hatch completes
  * where mode `kernel` (routing disabled, one collect_list group per
  * size-bucket of the block) exhausts the same heap. BASELINE.md records the
  * paired runs.
  *
  * Usage: runMain graft.tools.BigBlockGate <sfDir> <mode> [maxDocs]
  *   mode = routed | kernel | ab
  */
object BigBlockGate {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/tmp-sf3-fresh")
    val mode = if (args.length > 1) args(1) else "routed"
    val maxDocs = if (args.length > 2) args(2).toLong else 0L
    val spark = Session.local(Session.envCpus(8))
    spark.sparkContext.setLogLevel("ERROR")

    val base0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = if (maxDocs > 0) base0.orderBy("doc_id").limit(maxDocs.toInt)
               else base0
    // twin = base doc + two junk tokens → jaccard ≈ (n-?)/(n+2·?) ≫ 0.1;
    // offset collision-free vs the d15 (+2e8) and s07 (+1e8) conventions
    val TwinOff = 300000000L
    val twins = base.select((col("doc_id") + TwinOff).as("doc_id"),
      concat(col("text"), lit(" zweitausend qx")).as("text"))
    // ONE block: the whole corpus shares (lang, source)
    val corpus = base.unionAll(twins)
      .withColumn("lang", lit("xx")).withColumn("source", lit("all"))
      .localCheckpoint(true)
    val n = corpus.count()
    val nBase = n / 2
    println(s"[bigblock] corpus = $n docs in ONE (lang, source) block " +
      s"(cap threshold ${65536 / 2})")

    // routed runs pin bigBucket=65536 (not the measured 1M default) so the
    // shuffle path engages at fixture scales this box can hold — the gate
    // certifies the PATH; the default's placement is certified by the
    // `kernel` runs at 8 GiB recorded in BASELINE.md
    def pairs(bigBucket: Int) = graft.ops.Dedup.ngramJaccardPairs(
      corpus, "doc_id", "text", blockCols = Seq("lang", "source"),
      threshold = 0.1, bigBucket = bigBucket)

    def twinRecall(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val p = df.select("id_a", "id_b").localCheckpoint(true)
      (p.filter(col("id_b") - col("id_a") === TwinOff).count(), p.count())
    }

    var failed = false
    val t0 = System.nanoTime()
    mode match {
      case "routed" =>
        if (n / 2 <= 65536 / 2)
          println("[bigblock] WARNING: block below the routing threshold — " +
            "use a >=30x fixture (or raise maxDocs) for a meaningful gate")
        val (tw, total) = twinRecall(pairs(65536))
        val ok = tw == nBase
        if (!ok) failed = true
        println(f"[bigblock] routed path: $total pairs, twin recall $tw/$nBase " +
          f"${if (ok) "OK" else "FAIL"} (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      case "kernel" =>
        // routing probe disabled: the extreme block rides the collect_list
        // kernel — under a small heap this is EXPECTED to exhaust memory
        // (the paired run BASELINE.md records); under a big heap it is the
        // ground truth for `ab`
        val (tw, total) = twinRecall(pairs(0))
        val ok = tw == nBase
        if (!ok) failed = true
        println(f"[bigblock] kernel path: $total pairs, twin recall $tw/$nBase " +
          f"${if (ok) "OK" else "FAIL"} (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      case "ab" =>
        // identical pair SETS on both paths — the losslessness theorem,
        // checked at rehearsal scale instead of the unit fixture
        val routed = pairs(65536).select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val kernel = pairs(0).select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val ok = routed == kernel && routed.nonEmpty
        if (!ok) failed = true
        println(s"[bigblock] ab: routed ${routed.size} vs kernel " +
          s"${kernel.size} pairs ${if (ok) "IDENTICAL OK"
          else s"FAIL (missing ${(kernel -- routed).take(3)}, " +
            s"extra ${(routed -- kernel).take(3)})"}")
      case other =>
        failed = true
        println(s"[bigblock] unknown mode '$other'")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
