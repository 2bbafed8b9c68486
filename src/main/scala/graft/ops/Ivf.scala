package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity.asDouble

/** IVF (inverted-file) approximate nearest neighbor: a KMeans coarse
  * quantizer partitions the corpus into nlist cells; queries probe only the
  * nprobe nearest cells.
  *
  * Scale design (100 TB corpus): the quantizer trains on a bounded SAMPLE
  * (`trainSampleFraction`) — centroids are a few KB broadcast to every task;
  * cell assignment is one map stage over the corpus (no shuffle; writes
  * could even be partitioned/bucketed by cell for locality); a probe touches
  * nprobe/nlist of the data. Recall/latency trades via nprobe — nprobe=nlist
  * degenerates to exact brute force (asserted in the spec).
  */
object Ivf {

  final case class IvfIndex(centroids: Seq[Seq[Double]], assigned: DataFrame)

  /** nearest-centroid id for a vector column, centroids as literals
    * (broadcast with the task binary — they are tiny by construction) */
  private[ops] def nearestCells(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column = {
    // squared L2 to each centroid (codegen'd single-pass kernel);
    // take the n smallest cell ids
    val dists = centroids.zipWithIndex.map { case (cent, i) =>
      struct(
        graft.functions.VecFunctions.vecL2Sq(vec, typedLit(cent)).as("d"),
        lit(i).as("cell"))
    }
    slice(array_sort(array(dists: _*)), 1, n).getField("cell")
  }

  /** One row per (query, probed cell): (q_id, q_vec, cell). */
  private[ops] def probeRows(queries: DataFrame, centroids: Seq[Seq[Double]],
                             nprobe: Int, idCol: String,
                             vecCol: String): DataFrame = {
    val qv = asDouble(col(vecCol))
    queries.select(col(idCol).as("q_id"), qv.as("q_vec"),
      explode(nearestCells(qv, centroids, nprobe)).as("cell"))
  }

  // ------------------------------------------------------ saved cell layout
  // Shared by the IVF, IVF-SQ and IVF-PQ indexes: rows partitioned by cell
  // under `cells`, the centroid table beside them under `centroids`.

  /** Write `cells` partitioned by cell (a probe reads only its cell
    * directories) and the few-KB centroid table beside it. */
  private[ops] def saveLayout(cells: DataFrame, centroids: Seq[Seq[Double]],
                              path: String): Unit = {
    cells.write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = cells.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  private[ops] def loadCentroids(spark: SparkSession,
                                 path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toSeq).toSeq

  /** The probed-cell prune: the nprobe nearest cells of every query,
    * computed driver-side from the broadcast-small query side, land as a
    * literal `cell IN (...)` filter — on a saved layout a PartitionFilter,
    * so only the probed cell directories are read (robust to stats, no
    * reliance on runtime DPP). */
  private[ops] def pruneToProbed(cells: DataFrame, centroids: Seq[Seq[Double]],
                                 queries: DataFrame, nprobe: Int,
                                 vecCol: String): DataFrame = {
    val probed = queries
      .select(explode(nearestCells(asDouble(col(vecCol)), centroids, nprobe))
        .as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    cells.filter(col("cell").isin(probed.toIndexedSeq.map(Integer.valueOf): _*))
  }

  /** Train the coarse quantizer on a (bounded) sample of a pre-projected
    * (id, vec) frame and return the centroids — a few KB regardless of
    * corpus size, so they travel as literals in every downstream plan.
    * Shared by the IVF index build and cluster-blocked semantic dedup.
    *
    * The sample (id-ordered, capped) collects to the driver and trains
    * with the same deterministic Lloyd's as Pq.train: an MLlib KMeans fit
    * here spent ~2.5 s of per-job scheduling overhead per call for the
    * same few-KB result, and its centroids depended on input partitioning
    * — the driver-side fit is partitioning-independent. A handful of
    * iterations is plenty for a coarse quantizer: cell boundaries need to
    * be stable, not optimal (downstream probes/verifies carry recall).
    */
  private[ops] def trainCentroids(base: DataFrame, nlist: Int,
                                  trainSampleFraction: Double,
                                  seed: Long, vecField: String,
                                  maxTrainRows: Int = 16384): Seq[Seq[Double]] = {
    val rows = Pq.trainingSample(base, base.columns.head, vecField,
      trainSampleFraction, seed, maxTrainRows)
    Pq.lloyd(rows, nlist, iters = 5).map(_.toSeq).toSeq
  }

  /** Two-level quantizer for LARGE nlist: flat assignment is O(n·nlist·d)
    * with a per-row literal scan over every centroid, which turns the
    * self-sizing nlist ∝ n contract into O(n²) total work — measured 288×
    * wall at a 30× rehearsal (s07, nlist 938). Hierarchical cells make it
    * O(n·(√nlist + nlist/√nlist)·d) = O(n^1.5/√128):
    * k1 = ⌈√nlist⌉ coarse cells trained as usual; each coarse cell gets
    * fine centroids ∝ its sample share (Σ ≈ nlist), trained driver-side
    * from the SAME one bounded sample pull — no extra Spark jobs.
    * Returns (coarse centroids, fine table rows (fineId, coarseCell,
    * centroid)); fine ids are globally unique.
    *
    * Bound: the fine table broadcasts (nlist × dim doubles) — ~0.5 GB at
    * nlist 10⁶/dim 64. Past that, raise the per-cell occupancy target or
    * add a third level; the construction recurses naturally.
    */
  private[ops] def trainHierarchical(base: DataFrame, nlist: Int,
                                     trainSampleFraction: Double, seed: Long,
                                     vecField: String,
                                     maxTrainRows: Int = 16384)
      : (Seq[Seq[Double]], Seq[(Int, Int, Seq[Double])]) = {
    val rows = Pq.trainingSample(base, base.columns.head, vecField,
      trainSampleFraction, seed, maxTrainRows)
    val k1 = math.min(64, math.max(8, math.ceil(math.sqrt(nlist.toDouble)).toInt))
    val coarse = Pq.lloyd(rows, k1, iters = 5)
    val byCoarse = rows.groupBy(graft.functions.KmeansKernel.nearest(coarse, _))
    var fid = 0
    val fine = (0 until coarse.length).flatMap { c =>
      byCoarse.get(c) match {
        case None => Nil
        case Some(pts) =>
          val k2 = math.max(1,
            math.round(nlist.toDouble * pts.length / rows.length).toInt)
          Pq.lloyd(pts, k2, iters = 5).map { cent =>
            val row = (fid, c, cent.toSeq); fid += 1; row
          }.toSeq
      }
    }
    (coarse.map(_.toSeq).toSeq, fine)
  }

  /** `metaCols`: extra corpus columns carried into the assigned index frame
    * (and the saved layout) so [[searchFiltered]] predicates can push down
    * next to the cell partition filters. */
  def build(corpus: DataFrame, nlist: Int, idCol: String = "vec_id",
            vecCol: String = "embedding",
            trainSampleFraction: Double = 1.0, seed: Long = 42L,
            maxTrainRows: Int = 16384,
            metaCols: Seq[String] = Nil): IvfIndex = {
    val base = corpus.select(col(idCol).as("n_id") +:
      asDouble(col(vecCol)).as("n_vec") +: metaCols.map(col): _*)
    val centroids = trainCentroids(base, nlist, trainSampleFraction, seed,
      "n_vec", maxTrainRows)
    val assigned = base
      .withColumn("cell", nearestCells(col("n_vec"), centroids, 1).getItem(0))
      .repartition(col("cell"))
      .persist()
    IvfIndex(centroids, assigned)
  }

  /** Persist the index: assignments as parquet PARTITIONED BY cell (a probe
    * reads only its nprobe cell directories — partition pruning does the
    * inverted-file lookup), centroids as a small parquet table beside them.
    * This is the corpus-scale path: build once, load per query job. */
  def save(index: IvfIndex, path: String): Unit = {
    saveLayout(index.assigned, index.centroids, path)
    val spark = index.assigned.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // advisory size counters: seed the O(1) auto-compaction trigger
    // (assigned is persisted by build — this count is a cache pass)
    writeCounter(fs, path, "rowcount", index.assigned.count())
    writeCounter(fs, path, "tombcount", 0L)
  }

  // --- advisory size counters -------------------------------------------
  // Tiny sidecar files (`.rowcount` / `.tombcount`) that let
  // deleteFromSaved decide WHEN to auto-compact in O(1) instead of
  // re-counting the whole layout per delete. Purely advisory: a stale or
  // missing counter only shifts when compaction fires (idempotent,
  // semantically invisible), never what any search answers.
  private def counterPath(path: String, name: String) =
    new org.apache.hadoop.fs.Path(path, s".$name")

  private def writeCounter(fs: org.apache.hadoop.fs.FileSystem,
                           path: String, name: String, v: Long): Unit = {
    val out = fs.create(counterPath(path, name), true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readCounter(fs: org.apache.hadoop.fs.FileSystem,
                          path: String, name: String): Option[Long] =
    if (!fs.exists(counterPath(path, name))) None
    else {
      val in = fs.open(counterPath(path, name))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    }

  /** Assign NEW vectors to an EXISTING quantizer — the incremental-ingest
    * path: cell boundaries stay stable (no retraining, no re-assignment of
    * old vectors), the new batch maps in one narrow stage. */
  def assign(index: IvfIndex, newVectors: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    Similarity.vectors(newVectors, idCol, vecCol, "n")
      .withColumn("cell", nearestCells(col("n_vec"), index.centroids, 1).getItem(0))

  /** Grow a SAVED index with a new vector batch: assign against the saved
    * centroids and APPEND into the cell-partitioned layout — old cell files
    * are untouched (append writes new files into the same cell directories),
    * so the ingest cost is proportional to the batch, not the index, and a
    * concurrent reader keeps partition pruning. Returns the reloaded index.
    */
  def appendToSaved(spark: SparkSession, path: String,
                    newVectors: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfIndex = {
    val idx = load(spark, path)
    // conform to the SAVED schema: an index built with metaCols stores
    // those columns in every cell file, and appending meta-less rows would
    // corrupt the layout (filtered searches would silently skip them).
    // load() just resolved the cell layout — reuse its schema (the
    // tombstone anti-join preserves the left schema) instead of paying a
    // second parquet listing+footer job for the same field names.
    val dataCols = idx.assigned
      .schema.fieldNames.filterNot(_ == "cell").toSeq
    val meta = dataCols.filterNot(Set("n_id", "n_vec"))
    val missingMeta = meta.filterNot(newVectors.columns.contains)
    require(missingMeta.isEmpty,
      s"appendToSaved: the saved index carries metadata columns $meta; " +
        s"the new batch is missing $missingMeta")
    val assigned0 = assign(idx, newVectors, idCol, vecCol)
    val assigned =
      if (meta.isEmpty) assigned0
      else assigned0.join(
        newVectors.select(col(idCol).as("n_id") +: meta.map(col): _*), "n_id")
    // loud on tombstone shadowing: an appended id that is still tombstoned
    // would be SILENTLY invisible to every search (load anti-joins it out)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones"))) {
      val shadowed = assigned.join(
        spark.read.parquet(s"$path/tombstones").distinct(), "n_id").count()
      require(shadowed == 0,
        s"appendToSaved: $shadowed ids in the batch are tombstoned and " +
          "would be invisible; run compactSaved first or use fresh ids")
    }
    // persisted so the write and the counter count compute the assignment
    // once (the count previously re-derived every centroid distance)
    val toWrite = assigned.select((dataCols :+ "cell").map(col): _*).persist()
    try {
      toWrite.write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      // advisory rowcount: increment by the batch (O(batch)); an index saved
      // before counters existed seeds lazily on its first delete instead
      readCounter(fs, path, "rowcount").foreach(n =>
        writeCounter(fs, path, "rowcount", n + toWrite.count()))
    } finally toWrite.unpersist()
    load(spark, path)
  }

  /** Tombstone DELETES on a saved index — retire vectors without touching
    * a single cell file (the delete twin of [[appendToSaved]]'s add path):
    * deleted ids APPEND into a `tombstones` parquet beside the cells, and
    * [[load]] anti-joins them out. Re-deleting an id is a no-op (the
    * anti-join is idempotent).
    *
    * Cost/reader contract: delete cost is O(batch) and concurrent readers
    * of already-built plans are unaffected UNTIL the tombstone set reaches
    * `autoCompactRatio` of the layout's rows — at that point this call
    * runs [[compactSaved]] itself (answers identical, but cell dirs
    * RENAME, so a reader holding a resolved plan must re-resolve — the
    * same retention-style contract as vacuum), bounding the per-search
    * anti-join by default. Pass `autoCompactRatio = 0` for the pure
    * tombstone behavior (O(batch) always, compaction caller-owned). */
  def deleteFromSaved(spark: SparkSession, path: String,
                      ids: DataFrame, idCol: String = "vec_id",
                      autoCompactRatio: Double = 0.5): IvfIndex = {
    // NO cast: n_id keeps the corpus id column's own type (a silent
    // cast-to-long would null out non-numeric ids and the anti-join would
    // match nothing — a delete that "succeeds" and removes nothing)
    val t = ids.select(col(idCol).as("n_id")).distinct().persist()
    val batchN = try {
      // one aggregate carries BOTH the null check and the batch size
      // (count(col) skips nulls), and the persisted distinct is computed
      // once instead of three times (null check, write, counter count)
      val aggRow = t.agg(count(lit(1)), count(col("n_id"))).head()
      require(aggRow.getLong(0) == aggRow.getLong(1),
        "deleteFromSaved: null ids in the delete batch")
      t.write.mode("append").parquet(s"$path/tombstones")
      aggRow.getLong(0)
    } finally t.unpersist()
    // auto-compaction: the per-search anti-join costs grow with the
    // tombstone set, so once tombstones reach `autoCompactRatio` of the
    // layout's rows, fold them in now (semantically invisible — search
    // answers are identical before and after). 0 disables. The trigger
    // reads the advisory counters — O(batch) per delete, never a layout
    // scan; the numerator counts batch ids (repeat deletes across batches
    // and ids that hit no layout row inflate it), so the ratio is an
    // UPPER-BOUND trigger: compaction may fire a little early (one
    // idempotent compaction), never answers differently.
    if (autoCompactRatio > 0) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // seed-once fallback for indexes saved before counters existed:
      // one full count each, then O(1) forever after
      val nTomb = readCounter(fs, path, "tombcount")
        .map(_ + batchN)
        .getOrElse(spark.read.parquet(s"$path/tombstones")
          .distinct().count())
      val nRows = readCounter(fs, path, "rowcount")
        .getOrElse(spark.read.parquet(s"$path/cells").count())
      writeCounter(fs, path, "tombcount", nTomb)
      writeCounter(fs, path, "rowcount", nRows)
      if (nRows > 0 && nTomb.toDouble / nRows >= autoCompactRatio)
        return compactSaved(spark, path)
    }
    load(spark, path)
  }

  /** Fold tombstones into the layout: one tombstone-keyed scan over the
    * index discovers the HIT cells (the tombstone side broadcasts — ids
    * only), then ONE partitioned staging job writes every hit cell's
    * survivors under `.compact-staging/cell=<c>` (not a `coalesce(1)` job
    * per cell — a delete batch touching thousands of cells at corpus
    * scale compacts in one pass, IvfSpec counts the jobs), followed by
    * the same crash-safe per-cell backup-rename swap as before (live →
    * dot-backup, staged → live, drop backup; a crash between the renames
    * is restored by the recovery sweep every load runs). A cell whose
    * rows are ALL tombstoned simply disappears (an absent partition dir
    * is a valid layout). The tombstone set drops last — re-running a
    * crashed compaction is idempotent. */
  def compactSaved(spark: SparkSession,
                   path: String): IvfIndex = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompactBackups(fs, s"$path/cells")
    val tombP = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    if (!fs.exists(tombP)) return load(spark, path)
    val tombs = spark.read.parquet(s"$path/tombstones").distinct()
    val cellsAll = spark.read.parquet(s"$path/cells")
    // the same discovery job also carries per-cell removed-row counts, so
    // the advisory rowcount rebaselines with ZERO extra jobs (IvfSpec
    // counts compaction's jobs)
    val hitCounts = cellsAll.join(broadcast(tombs), "n_id")
      .groupBy("cell").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val hit = hitCounts.map(_._1).sorted
    val removedRows = hitCounts.map(_._2).sum
    if (hit.nonEmpty) {
      val staging = new org.apache.hadoop.fs.Path(s"$path/.compact-staging")
      fs.delete(staging, true) // a crashed prior attempt's leftovers
      cellsAll
        .filter(col("cell").isin(hit.toIndexedSeq.map(Integer.valueOf): _*))
        .join(broadcast(tombs), Seq("n_id"), "left_anti")
        .repartition(col("cell")) // one output file per cell dir
        .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
      hit.foreach { c =>
        val dir = new org.apache.hadoop.fs.Path(s"$path/cells/cell=$c")
        val stagedCell = new org.apache.hadoop.fs.Path(staging, s"cell=$c")
        // backup-rename, never delete-then-rename: a crash between the two
        // renames leaves the cell recoverable instead of silently gone
        val backup = new org.apache.hadoop.fs.Path(
          s"$path/cells/.cell=$c.compact-backup")
        require(fs.rename(dir, backup), s"compact backup failed: cell=$c")
        if (fs.exists(stagedCell))
          require(fs.rename(stagedCell, dir), s"compact swap failed: cell=$c")
        fs.delete(backup, true)
      }
      fs.delete(staging, true)
    }
    fs.delete(tombP, true)
    // re-baseline the advisory counters arithmetically (exact: every
    // counter writer is exact, and removedRows came from the discovery job)
    writeCounter(fs, path, "tombcount", 0L)
    readCounter(fs, path, "rowcount").foreach(n =>
      writeCounter(fs, path, "rowcount", math.max(0L, n - removedRows)))
    load(spark, path)
  }

  /** Restore any cell whose compaction died between its two renames: a
    * dot-backup without a live dir means the swap was interrupted — put
    * the pre-compaction data back (the tombstone set still exists, so
    * correctness is unchanged; the compaction just re-runs). */
  private def recoverCompactBackups(fs: org.apache.hadoop.fs.FileSystem,
                                    cellsPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(cellsPath)
    if (!fs.exists(p)) return
    fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(".compact-backup"))
      .foreach { st =>
        val live = new org.apache.hadoop.fs.Path(cellsPath,
          st.getPath.getName.stripPrefix(".").stripSuffix(".compact-backup"))
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live),
            s"compact-backup restore failed: ${st.getPath}")
        else fs.delete(st.getPath, true)
      }
  }

  /** Load a saved index; `assigned` scans prune to probed cells, and any
    * tombstoned ids are anti-joined out (the tombstone set is small by the
    * compaction contract — it broadcasts). Runs the compaction-crash
    * recovery sweep first (one metadata listing). */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompactBackups(fs, s"$path/cells")
    val cents = loadCentroids(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val assigned =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
        cells.join(broadcast(
          spark.read.parquet(s"$path/tombstones").distinct()),
          Seq("n_id"), "left_anti")
      else cells
    IvfIndex(cents, assigned)
  }

  /** Top-k over a SAVED index with static partition pruning
    * ([[pruneToProbed]]): a scan over `save`'s cell-partitioned layout
    * reads ONLY the probed cell directories — the inverted-file lookup
    * expressed as partition pruning. At nprobe/nlist = 12/16 this fixture
    * reads 3/4 of the cells; a production nlist is thousands, so a probe
    * touches a vanishing fraction of the corpus bytes.
    */
  def searchPruned(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    search(index.copy(assigned = pruneToProbed(index.assigned,
      index.centroids, queries, nprobe, vecCol)), queries, k, nprobe, idCol, vecCol)

  /** FILTERED ANN: top-k cosine neighbors among only the corpus vectors
    * satisfying `pred` — metadata-filtered vector search ("nearest docs
    * WITH label = x / lang = en / ts > cutoff"), the retrieval shape
    * curation pipelines actually issue. The predicate applies to the
    * assigned index frame BEFORE the probe join: on the saved
    * cell-partitioned layout it rides the parquet scan next to the
    * probed-cell partition filters, so bytes read scale with
    * (probed cells × predicate selectivity), never the corpus.
    *
    * Recall caveat (inherent to post-filtered IVF, not this code): the
    * filtered true top-k can live in cells the unfiltered probe ranking
    * wouldn't visit, so a selective predicate needs a HIGHER nprobe than
    * the same index unfiltered — size nprobe against the predicate's
    * selectivity (rule of thumb: nprobe / selectivity, capped at nlist).
    * The rule's contract is PARITY: the scaled probe restores (at least)
    * the recall the unfiltered search gets at the original nprobe, and
    * the cap makes 1-5%-selective queries exact over the filtered set —
    * S15RecallGateSpec measures both on a planted 20k-vector fixture
    * (r14: filtered@scaled 0.708 vs unfiltered@default 0.317 at 20%
    * selectivity; recall 1.0 at the 3% cap; numbers in BASELINE.md).
    */
  def searchFiltered(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
                     pred: Column,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    search(index.copy(assigned = index.assigned.filter(pred)),
      queries, k, nprobe, idCol, vecCol)

  /** Top-k cosine neighbors probing the nprobe nearest cells per query. */
  def search(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Similarity.vectors(queries, idCol, vecCol, "q")
      .withColumn("cell",
        explode(nearestCells(col("q_vec"), index.centroids, nprobe)))
    Similarity.topK(index.assigned.join(broadcast(q), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", Similarity.cosine(col("q_vec"), col("n_vec"))), k)
  }
}
