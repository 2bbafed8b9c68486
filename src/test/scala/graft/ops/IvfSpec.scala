package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

class IvfSpec extends SparkTestBase {

  private def embs = { Tables.register(spark, sfDir); spark.table("embeddings") }

  test("ivf with nprobe == nlist equals brute force exactly") {
    val idx = Ivf.build(embs, nlist = 8)
    val queries = embs.filter(col("vec_id") < 4)
    val ivf = Ivf.search(idx, queries, k = 5, nprobe = 8)
      .collect().map(_.toString).sorted
    val brute = Similarity.bruteForceKnn(embs, queries, k = 5)
      .collect().map(_.toString).sorted
    assert(ivf.sameElements(brute), "full-probe IVF must equal brute force")
  }

  test("ivf with partial probe returns ranked subsets") {
    val idx = Ivf.build(embs, nlist = 8)
    val queries = embs.filter(col("vec_id") < 4)
    val r = Ivf.search(idx, queries, k = 5, nprobe = 2).collect()
    assert(r.nonEmpty)
    val brute = Similarity.bruteForceKnn(embs, queries, k = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // partial-probe results are genuine vectors ranked correctly per query
    r.groupBy(_.getLong(0)).values.foreach { rows =>
      val ranks = rows.map(_.getInt(2)).sorted
      assert(ranks.zipWithIndex.forall { case (rk, i) => rk == i + 1 })
    }
    // recall sanity: at least some overlap with exact top-k
    val got = r.map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.intersect(brute).nonEmpty)
  }

  test("incremental append: grown saved index equals building over the union") {
    val oldHalf = embs.filter(col("vec_id") % 2 === 0)
    val newHalf = embs.filter(col("vec_id") % 2 === 1)
    val idx = Ivf.build(oldHalf, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Ivf.save(idx, dir)
    val grown = Ivf.appendToSaved(spark, dir, newHalf)
    assert(grown.centroids == idx.centroids, "append must not move centroids")
    // the grown index answers exactly like the same quantizer assigned over
    // the full corpus in one shot
    val oneShot = Ivf.IvfIndex(idx.centroids, Ivf.assign(idx, embs))
    val queries = embs.filter(col("vec_id") < 4)
    val a = Ivf.searchPruned(grown, queries, k = 5, nprobe = 3)
      .collect().map(_.toString).sorted
    val b = Ivf.search(oneShot, queries, k = 5, nprobe = 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "append path must equal one-shot assignment")
    // old cell files untouched: ingest wrote only the new batch's rows
    assert(grown.assigned.count() == embs.count())
  }

  test("saved index reloads: identical results, probe prunes to cell partitions") {
    val idx = Ivf.build(embs, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ivf.save(idx, dir)
    val loaded = Ivf.load(spark, dir)
    assert(loaded.centroids == idx.centroids)
    val queries = embs.filter(col("vec_id") < 4)
    val a = Ivf.search(idx, queries, k = 5, nprobe = 3).collect().map(_.toString).sorted
    val b = Ivf.search(loaded, queries, k = 5, nprobe = 3).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // the probe over the loaded index prunes to the probed cell directories
    val probed = Ivf.search(loaded, queries, k = 5, nprobe = 3)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(cell"), scan)
  }

  test("every corpus vector lands in exactly one cell") {
    val idx = Ivf.build(embs, nlist = 8)
    assert(idx.assigned.count() == embs.count())
    assert(idx.assigned.select("cell").distinct().count() <= 8)
  }

  test("filtered search with full probe equals brute force over the filtered corpus") {
    val idx = Ivf.build(embs, nlist = 8, metaCols = Seq("label"))
    val queries = embs.filter(col("vec_id") < 4)
    val got = Ivf.searchFiltered(idx, queries, k = 5, nprobe = 8,
        pred = col("label") === 3)
      .collect().map(_.toString).sorted
    val brute = Similarity.bruteForceKnn(
        embs.filter(col("label") === 3), queries, k = 5)
      .collect().map(_.toString).sorted
    assert(got.sameElements(brute),
      "full-probe filtered IVF must equal brute force over the filtered corpus")
    // and every neighbor really satisfies the predicate
    val ids = Ivf.searchFiltered(idx, queries, k = 5, nprobe = 8,
        pred = col("label") === 3)
      .join(embs.select(col("vec_id").as("n_id"), col("label")), "n_id")
      .filter(col("label") =!= 3).count()
    assert(ids == 0, "a neighbor violated the predicate")
  }

  test("tombstone deletes: exclusion, idempotence, compaction equivalence") {
    val idx = Ivf.build(embs, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    Ivf.save(idx, dir)
    val queries = embs.filter(col("vec_id") < 4)
    val delIds = embs.filter(col("vec_id") % 3 === 0).select("vec_id")
    val afterDel = Ivf.deleteFromSaved(spark, dir, delIds)
    val got = Ivf.search(afterDel, queries, k = 5, nprobe = 8)
    assert(got.filter(col("n_id") % 3 === 0).count() == 0,
      "a tombstoned vector came back")
    val brute = Similarity.bruteForceKnn(
        embs.filter(col("vec_id") % 3 =!= 0), queries, k = 5)
      .collect().map(_.toString).sorted
    assert(got.collect().map(_.toString).sorted.sameElements(brute))
    // re-delete: idempotent
    val again = Ivf.deleteFromSaved(spark, dir, delIds)
    assert(Ivf.search(again, queries, k = 5, nprobe = 8)
      .collect().map(_.toString).sorted.sameElements(brute))
    // compaction folds tombstones into the layout, answers unchanged
    val compacted = Ivf.compactSaved(spark, dir)
    assert(Ivf.search(compacted, queries, k = 5, nprobe = 8)
      .collect().map(_.toString).sorted.sameElements(brute))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "compaction must drop the tombstone set")
    // append after delete+compact still composes: the re-ingested vector
    // is back in the index (top-5 membership for other queries is not
    // guaranteed, so assert presence, not rank)
    val backIn = Ivf.appendToSaved(spark, dir,
      embs.filter(col("vec_id") === 0))
    assert(backIn.assigned.filter(col("n_id") === 0).count() == 1,
      "re-ingested vector must be in the reloaded index")
  }

  test("append of a still-tombstoned id fails loudly instead of vanishing") {
    val idx = Ivf.build(embs, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_shadow").toString
    Ivf.save(idx, dir)
    Ivf.deleteFromSaved(spark, dir, embs.filter(col("vec_id") === 7)
      .select("vec_id"))
    val e = intercept[IllegalArgumentException] {
      Ivf.appendToSaved(spark, dir, embs.filter(col("vec_id") === 7))
    }
    assert(e.getMessage.contains("tombstoned"))
    // after compaction the id is genuinely gone and re-ingest works
    Ivf.compactSaved(spark, dir)
    val backIn = Ivf.appendToSaved(spark, dir, embs.filter(col("vec_id") === 7))
    assert(backIn.assigned.filter(col("n_id") === 7).count() == 1)
  }

  test("a failed delete batch releases its cached ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_null").toString
    Ivf.save(Ivf.build(embs, nlist = 8), dir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val withNull = embs.filter(col("vec_id") < 3)
      .select(when(col("vec_id") =!= 0, col("vec_id")).as("vec_id"))
    val e = intercept[IllegalArgumentException] {
      Ivf.deleteFromSaved(spark, dir, withNull)
    }
    assert(e.getMessage.contains("null ids"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the persisted delete batch outlived the failed call")
  }

  test("append to a metaCols index conforms or fails loudly") {
    val idx = Ivf.build(embs.filter(col("vec_id") % 2 === 0), nlist = 8,
      metaCols = Seq("label"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_metaapp").toString
    Ivf.save(idx, dir)
    // meta-less batch: loud, not silent layout corruption
    val e = intercept[IllegalArgumentException] {
      Ivf.appendToSaved(spark, dir,
        embs.filter(col("vec_id") % 2 === 1).drop("label"))
    }
    assert(e.getMessage.contains("label"))
    // batch WITH meta: appended vectors are visible to filtered search
    Ivf.appendToSaved(spark, dir, embs.filter(col("vec_id") % 2 === 1))
    val grown = Ivf.load(spark, dir)
    val got = Ivf.searchFiltered(grown, embs.filter(col("vec_id") < 4),
        k = 5, nprobe = 8, pred = col("label") === 3)
      .collect().map(_.toString).sorted
    val brute = Similarity.bruteForceKnn(
        embs.filter(col("label") === 3), embs.filter(col("vec_id") < 4), k = 5)
      .collect().map(_.toString).sorted
    assert(got.sameElements(brute),
      "appended metadata rows must participate in filtered search")
  }

  test("compaction crash between the two renames is recovered on load") {
    val idx = Ivf.build(embs, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    Ivf.save(idx, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the window: live dir moved to backup, replacement never landed
    val cells = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/cells"))
      .filter(_.getPath.getName.startsWith("cell="))
    val victim = cells.head.getPath
    val backup = new org.apache.hadoop.fs.Path(s"$dir/cells",
      s".${victim.getName}.compact-backup")
    require(fs.rename(victim, backup))
    val recovered = Ivf.load(spark, dir)
    assert(recovered.assigned.count() == embs.count(),
      "the interrupted cell must be restored, not silently lost")
    assert(!fs.exists(backup), "the backup must be consumed by recovery")
  }

  test("filtered search needs the metadata column carried by metaCols") {
    // on an IN-MEMORY index the analyzer can resolve a missing filter
    // column back through the projection lineage (ResolveMissingReferences)
    // — but a SAVED+LOADED index is parquet-backed, so a predicate on a
    // column metaCols never carried fails loudly instead of guessing
    val bare = Ivf.build(embs, nlist = 8) // no metaCols
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_meta").toString
    Ivf.save(bare, dir)
    val loaded = Ivf.load(spark, dir)
    val queries = embs.filter(col("vec_id") < 4)
    intercept[org.apache.spark.sql.AnalysisException] {
      Ivf.searchFiltered(loaded, queries, k = 5, nprobe = 8,
        pred = col("label") === 3).collect()
    }
    // and the positive path: metaCols carried through save/load filter fine
    val withMeta = Ivf.build(embs, nlist = 8, metaCols = Seq("label"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivf_meta2").toString
    Ivf.save(withMeta, dir2)
    val loaded2 = Ivf.load(spark, dir2)
    val a = Ivf.searchFiltered(loaded2, queries, k = 5, nprobe = 8,
      pred = col("label") === 3).collect().map(_.toString).sorted
    val b = Ivf.searchFiltered(withMeta, queries, k = 5, nprobe = 8,
      pred = col("label") === 3).collect().map(_.toString).sorted
    assert(a.sameElements(b), "saved+loaded filtered search must match in-memory")
  }

  test("compaction is one staging job plus swaps, not one write job per hit cell") {
    val idx = Ivf.build(embs, nlist = 16)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_onejob").toString
    Ivf.save(idx, dir)
    // hit (nearly) every cell: delete every other vector; auto-compaction
    // off so THIS call is the one measured
    Ivf.deleteFromSaved(spark, dir,
      embs.filter(col("vec_id") % 2 === 0).select("vec_id"),
      autoCompactRatio = 0)
    val hitCells = spark.read.parquet(s"$dir/cells")
      .join(broadcast(spark.read.parquet(s"$dir/tombstones")), "n_id")
      .select("cell").distinct().count()
    assert(hitCells >= 12, s"fixture should hit most of 16 cells: $hitCells")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val compacted =
      try {
        val c = Ivf.compactSaved(spark, dir)
        Thread.sleep(1500) // listener bus drains asynchronously
        c
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() < hitCells,
      s"compaction ran ${jobs.get()} jobs over $hitCells hit cells - " +
        "the per-cell job loop is back")
    val queries = embs.filter(col("vec_id") < 4)
    val brute = Similarity.bruteForceKnn(
        embs.filter(col("vec_id") % 2 =!= 0), queries, k = 5)
      .collect().map(_.toString).sorted
    assert(Ivf.search(compacted, queries, k = 5, nprobe = 16)
      .collect().map(_.toString).sorted.sameElements(brute),
      "batched compaction changed search answers")
  }

  test("auto-compaction folds tombstones in once the ratio is crossed") {
    val idx = Ivf.build(embs, nlist = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_autoc").toString
    Ivf.save(idx, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombP = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    // first batch: 1/3 of ids — below the 0.5 default, tombstones stay
    Ivf.deleteFromSaved(spark, dir,
      embs.filter(col("vec_id") % 3 === 0).select("vec_id"))
    assert(fs.exists(tombP), "below the ratio, deletes stay tombstones")
    // second batch pushes the ratio to ~2/3 — compaction runs by itself
    val after = Ivf.deleteFromSaved(spark, dir,
      embs.filter(col("vec_id") % 3 === 1).select("vec_id"))
    assert(!fs.exists(tombP),
      "auto-compaction must fold the tombstone set into the layout")
    val queries = embs.filter(col("vec_id") < 4)
    val brute = Similarity.bruteForceKnn(
        embs.filter(col("vec_id") % 3 === 2), queries, k = 5)
      .collect().map(_.toString).sorted
    assert(Ivf.search(after, queries, k = 5, nprobe = 8)
      .collect().map(_.toString).sorted.sameElements(brute),
      "auto-compaction changed search answers")
  }
}
