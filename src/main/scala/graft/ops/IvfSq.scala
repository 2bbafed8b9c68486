package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-SQ8: int8 scalar-quantized codes INSIDE the cell-pruned inverted
  * file — the rung between [[Sq]]'s linear SQ8 scan (8× fewer bytes than
  * the double verify form, but every query batch touches the WHOLE
  * corpus) and [[IvfPq]] (cell-pruned 16× codes, but codebook training):
  * the coarse quantizer prunes WHICH vectors a probe touches, the SQ8
  * codes cut the BYTES per touched vector, and the "model" stays one
  * scalar from one aggregate — no codebooks, no reconstruction blind
  * spots. This is the natural 100 TB path for the 8-bit scan: where
  * s17's economics are a linear first-pass filter, a saved IvfSq layout
  * reads nprobe cell DIRECTORIES of tinyint codes and nothing else.
  *
  * Index rows are (cell, n_id, n_code): for a 64-dim corpus ~64 B of
  * payload per vector instead of 512 B double / 256 B float32. The saved
  * layout partitions by cell (`save`), so [[searchPruned]] applies the
  * driver-computed probed-cell set as a literal partition filter — the
  * same PartitionFilters contract as [[Ivf.searchPruned]] — and the scan
  * under it reads codes only, never raw vectors. Search ranks the probed
  * codes by quantized cosine (scale cancels in the ratio; zero-norm
  * floor inherited from [[Sq.quantizedCosine]]) and exact-reranks the
  * shortlist against raw vectors — the shortlist-then-rerank contract
  * certified by the s01 exact-kNN oracle, with the margin measured by
  * [[worstTrueNeighborRank]] (IvfSqSpec) exactly like SqSpec's.
  *
  * Scale shape: queries follow the broadcast-small contract (|Q|·nprobe
  * probe rows ride as one broadcast); corpus-side work is
  * (probed cells × bytes-per-code), and the rerank touches only
  * |Q|·shortlist raw vectors via an id-keyed join. (Reference
  * `/root/reference` has no ANN surface; beyond-parity.)
  */
object IvfSq {

  /** centroids index the cell layout; scale is the one SQ8 scalar. */
  final case class IvfSqIndex(centroids: Seq[Seq[Double]], scale: Double,
                              encoded: DataFrame)

  /** Train coarse cells on a bounded sample + the global SQ8 scale (one
    * narrow aggregate), then encode the corpus in a single projection
    * pass: cell assignment → int8 codes. No raw vectors in the index. */
  def build(corpus: DataFrame, nlist: Int, idCol: String = "vec_id",
            vecCol: String = "embedding",
            trainSampleFraction: Double = 1.0, seed: Long = 42L,
            maxTrainRows: Int = 16384): IvfSqIndex = {
    val base = Similarity.vectors(corpus, idCol, vecCol, "n")
    val centroids = Ivf.trainCentroids(base, nlist, trainSampleFraction,
      seed, "n_vec", maxTrainRows)
    val scale = Sq.trainScale(corpus, vecCol)
    val encoded = base
      .withColumn("cell",
        Ivf.nearestCells(col("n_vec"), centroids, 1).getItem(0))
      .select(col("n_id"), col("cell"),
        Sq.codeExpr(col("n_vec"), scale).as("n_code"))
    IvfSqIndex(centroids, scale, encoded)
  }

  /** Persist: codes partitioned by cell (probes partition-prune), the
    * few-KB centroid table and the one-scalar scale beside them. */
  def save(index: IvfSqIndex, path: String): Unit = {
    Ivf.saveLayout(index.encoded, index.centroids, path)
    val spark = index.encoded.sparkSession
    import spark.implicits._
    Seq(index.scale).toDF("scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/scale")
  }

  def load(spark: SparkSession, path: String): IvfSqIndex = {
    val cents = Ivf.loadCentroids(spark, path)
    val scale = spark.read.parquet(s"$path/scale").head.getDouble(0)
    IvfSqIndex(cents, scale, spark.read.parquet(s"$path/cells"))
  }

  /** Quantized-cosine score `sim_q` of every probed (query, code) pair:
    * one row per (query, probed cell) rides the broadcast with the
    * query's own int8 codes, so the probe join ranks from codes alone.
    * The frame [[search]] shortlists and [[worstTrueNeighborRank]]
    * measures. */
  private def scored(index: IvfSqIndex, queries: DataFrame, nprobe: Int,
                     idCol: String, vecCol: String): DataFrame = {
    val q = Ivf.probeRows(queries, index.centroids, nprobe, idCol, vecCol)
      .withColumn("q_code", Sq.codeExpr(col("q_vec"), index.scale))
      .withColumn("q_norm",
        sqrt(Sq.dotCodes(col("q_code"), col("q_code")).cast("double")))
      .select("q_id", "cell", "q_code", "q_norm")
    index.encoded.join(broadcast(q), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim_q", Sq.quantizedCosine(
        col("n_code"), col("q_code"), col("q_norm")))
  }

  /** Top-k cosine neighbors probing the nprobe nearest cells per query:
    * quantized-cosine shortlist over the probed CODES, exact rerank of
    * the shortlist against raw vectors. Exact as long as the probed
    * cells cover the true neighbors (the IVF recall knob, measured on
    * the fixtures like s03) AND `shortlist` exceeds the worst
    * true-neighbor quantized rank within the probe
    * ([[worstTrueNeighborRank]]). */
  def search(index: IvfSqIndex, corpus: DataFrame, queries: DataFrame,
             k: Int, nprobe: Int, shortlist: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    Similarity.rerank(Similarity.shortlistIds(
      scored(index, queries, nprobe, idCol, vecCol), col("sim_q").desc,
      shortlist), corpus, queries, k, idCol, vecCol)
  }

  /** Probe a SAVED index with static partition pruning
    * ([[Ivf.pruneToProbed]]): nprobe directories of int8 codes read,
    * nothing else. */
  def searchPruned(index: IvfSqIndex, corpus: DataFrame,
                   queries: DataFrame, k: Int, nprobe: Int, shortlist: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    search(index.copy(encoded = Ivf.pruneToProbed(index.encoded,
      index.centroids, queries, nprobe, vecCol)), corpus, queries, k, nprobe,
      shortlist, idCol, vecCol)

  /** Measurement twin for the shortlist-margin claim, scoped to the
    * PROBED cells (the ordering [[search]] actually shortlists from):
    * the worst quantized rank at which any probed TRUE top-k neighbor
    * sits — `shortlist` must exceed this for the probe to return every
    * neighbor the probe REACHES. A true neighbor outside the probed
    * cells is excluded here (and from [[search]]'s output): that is the
    * IVF recall dimension, owned by nprobe and measured per fixture
    * (s03), orthogonal to the quantization margin this reports. */
  def worstTrueNeighborRank(index: IvfSqIndex, corpus: DataFrame,
                            queries: DataFrame, k: Int, nprobe: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Int =
    Similarity.worstTrueRank(scored(index, queries, nprobe, idCol, vecCol),
      col("sim_q").desc, corpus, queries, k, idCol, vecCol, "IvfSq")
}
