package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed billion-scale ANN index (FAISS's workhorse layout)
  * — Ivf's coarse cells cut how many vectors a probe TOUCHES, Pq's codes
  * cut how many BYTES each touched vector costs. Codes quantize the
  * RESIDUAL (vector − cell centroid), the classic refinement: residuals
  * concentrate near zero, so the same codebook budget spends its
  * resolution where the data actually is.
  *
  * Index rows are (cell, id, codes) — for a 64-dim float corpus that is
  * ~16 B of payload per vector instead of 256 B, and the saved layout
  * partitions by cell so a probe reads only its nprobe directories
  * (`searchPruned`, the same literal-PartitionFilter contract as
  * Ivf.searchPruned). Search: per (query, probed-cell) ADC tables over
  * the query's residual against THAT cell (a tiny broadcast side —
  * |Q|·nprobe rows), codegen'd pq_adc shortlist, exact-cosine rerank of
  * the shortlist against raw vectors.
  */
object IvfPq {

  final case class IvfPqIndex(centroids: Seq[Seq[Double]], model: Pq.PqModel,
                              encoded: DataFrame)

  /** residual of `vec` against the centroid of `cell` (both literals-side:
    * cents rides as one nested literal, indexed per row) */
  private def residual(vec: Column, cents: Column, cell: Column): Column =
    zip_with(vec, element_at(cents, cell + 1), (x, c) => x - c)

  /** Train coarse cells + residual codebooks on one bounded id-ordered
    * sample, then encode the corpus in a single narrow pass:
    * cell assignment (codegen'd vec_l2sq argmin) → residual → pq_encode.
    */
  def build(corpus: DataFrame, nlist: Int, m: Int, k: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            trainSampleFraction: Double = 1.0, seed: Long = 42L,
            maxTrainRows: Int = 16384): IvfPqIndex = {
    val base = Similarity.vectors(corpus, idCol, vecCol, "n")
    val sampled = (if (trainSampleFraction < 1.0)
      base.sample(withReplacement = false, trainSampleFraction, seed) else base)
      .orderBy("n_id").limit(maxTrainRows)
    val rows = sampled.select(col("n_vec")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty training sample")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val cents = Pq.lloyd(rows, nlist, iters = 5)
    // residuals of the SAME sample against their assigned cells train the
    // codebooks — all driver-side, bounded by the sample
    val residuals = rows.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = v(i) - cents(best)(i); i += 1 }
      r
    }
    val ds = dim / m
    val books = (0 until m).map { j =>
      Pq.lloyd(residuals.map(_.slice(j * ds, (j + 1) * ds)), k, iters = 10)
        .map(_.toSeq).toSeq
    }
    val model = Pq.PqModel(m, k, dim, books)
    val centroids = cents.map(_.toSeq).toSeq
    val cLit = typedLit(centroids)
    val encoded = base
      .withColumn("cell", Ivf.nearestCells(col("n_vec"), centroids, 1).getItem(0))
      .select(col("n_id"), col("cell"),
        graft.functions.PqFunctions.pqEncode(
          residual(col("n_vec"), cLit, col("cell")),
          typedLit(model.codebooks)).as("codes"))
    IvfPqIndex(centroids, model, encoded)
  }

  /** Persist: codes partitioned by cell (probes partition-prune), plus the
    * few-KB centroid/codebook tables beside them. */
  def save(index: IvfPqIndex, path: String): Unit = {
    Ivf.saveLayout(index.encoded, index.centroids, path)
    val spark = index.encoded.sparkSession
    import spark.implicits._
    index.model.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (c, ci) => (j, ci, c) } }
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val cents = Ivf.loadCentroids(spark, path)
    val bookRows = spark.read.parquet(s"$path/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = bookRows.map(_._1).max + 1
    val k = bookRows.map(_._2).max + 1
    val books = (0 until m).map(j =>
      bookRows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq)
    val dim = cents.head.size
    IvfPqIndex(cents, Pq.PqModel(m, k, dim, books),
      spark.read.parquet(s"$path/cells"))
  }

  /** Top-k: per (query, probed cell) ADC tables over the query's residual
    * against that cell; codegen'd pq_adc shortlist across all probed
    * cells; exact-cosine rerank against the raw corpus. `queries` and
    * `corpus` (for the rerank) follow the broadcast-small contract. */
  def search(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
             k: Int, nprobe: Int, shortlist: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val model = index.model
    val cLit = typedLit(index.centroids)
    val books = typedLit(model.codebooks)
    // one row per (query, probed cell), each with the residual ADC table
    val q = Ivf.probeRows(queries, index.centroids, nprobe, idCol, vecCol)
      .withColumn("__res", residual(col("q_vec"), cLit, col("cell")))
      .withColumn("tables", transform(sequence(lit(0), lit(model.m - 1)), j =>
        transform(element_at(books, j + 1), cent =>
          aggregate(zip_with(
            slice(col("__res"), j * model.ds + 1, lit(model.ds)), cent,
            (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, v) => acc + v))))
    val adc = graft.functions.PqFunctions.pqAdc(col("codes"), col("tables"))
    val short = Similarity.shortlistIds(index.encoded
      .join(broadcast(q.select("q_id", "cell", "tables")), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adist", adc), col("adist").asc, shortlist)
    Similarity.rerankBroadcast(short, corpus,
      Similarity.vectors(queries, idCol, vecCol, "q"), k, idCol, vecCol)
  }

  /** Probe a SAVED index with static partition pruning
    * ([[Ivf.pruneToProbed]]): nprobe directories read, nothing else. */
  def searchPruned(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                   k: Int, nprobe: Int, shortlist: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    search(index.copy(encoded = Ivf.pruneToProbed(index.encoded,
      index.centroids, queries, nprobe, vecCol)), corpus, queries, k, nprobe,
      shortlist, idCol, vecCol)
}
