package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Similarity.asDouble

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): each D-dim vector splits into m
  * subvectors; each subspace gets its own k-centroid codebook (trained on
  * a bounded sample); a vector compresses to m small codes.
  *
  * This is the BANDWIDTH operator of the ANN family: where IVF (Ivf.scala)
  * cuts how many vectors a probe touches and sign-LSH (Similarity) cuts
  * how many pairs are verified, PQ cuts how many BYTES each touched vector
  * costs — 64 floats (256 B) become 8 codes (8 B), a 32× reduction in
  * scan/shuffle/cache volume, which at 100 TB is the difference between an
  * in-memory code table and a disk-bound scan. The codebooks are
  * m·k·(D/m) doubles — a few KB that ride every plan as literals, exactly
  * like Ivf's coarse centroids.
  *
  * Search is asymmetric-distance (ADC): the query stays exact; each query
  * precomputes an m×k lookup table of subspace distances ONCE (a narrow
  * pass over the tiny query side), and every candidate's approximate
  * squared-L2 distance is m table lookups — no float math per pair. A
  * shortlist of ADC-nearest candidates is then reranked with exact cosine
  * against the raw vectors (one broadcast-semi join back into the corpus),
  * which restores exact ordering as long as the true top-k survive the
  * shortlist — the standard production recall knob.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (length D/m each) */
  final case class PqModel(m: Int, k: Int, dim: Int,
                           codebooks: Seq[Seq[Seq[Double]]]) {
    def ds: Int = dim / m
  }

  /** Train m per-subspace codebooks on a bounded, id-ordered sample
    * collected to the driver (≤ `maxTrainRows` rows — 16k 64-dim vectors
    * is 8 MB; training cost never depends on corpus size, the 100 TB
    * contract shared with Ivf). All m Lloyd's runs share the one sample
    * pull, and the id-sort makes the codebooks deterministic regardless
    * of input partitioning — 16 separate MLlib fits here cost ~40 s of
    * per-job overhead for the same few-KB result.
    */
  def train(corpus: DataFrame, m: Int, k: Int, idCol: String = "vec_id",
            vecCol: String = "embedding", sampleFraction: Double = 1.0,
            seed: Long = 42L, maxTrainRows: Int = 16384): PqModel = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val rows = trainingSample(base, "id", "v", sampleFraction, seed, maxTrainRows)
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    val books = (0 until m).map { j =>
      val subs = rows.map(_.slice(j * ds, (j + 1) * ds))
      lloyd(subs, k, iters = 10).map(_.toSeq).toSeq
    }
    PqModel(m, k, dim, books)
  }

  /** The bounded, id-ordered training sample every quantizer trains on:
    * `base` sampled when `fraction` < 1, then its first `maxTrainRows` rows
    * by `idCol` (TakeOrdered: bounded + stable) with `vecCol` collected to
    * the driver. */
  private[ops] def trainingSample(base: DataFrame, idCol: String, vecCol: String,
                                  fraction: Double, seed: Long,
                                  maxTrainRows: Int): Array[Array[Double]] = {
    val sampled = (if (fraction < 1.0)
      base.sample(withReplacement = false, fraction, seed) else base)
      .orderBy(col(idCol)).limit(maxTrainRows)
    val rows = sampled.select(col(vecCol)).collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty training sample")
    rows
  }

  /** Deterministic Lloyd's: evenly-spaced initial centroids over the
    * id-sorted sample; a cluster that empties keeps its previous centroid.
    */
  // canonical kernel moved to functions.KmeansKernel so the per-cell
  // sub-quantizer (functions.CellPairsKernel) can run it inside a task
  private[ops] def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] =
    graft.functions.KmeansKernel.lloyd(pts, k, iters)

  /** squared L2 between two array<double> columns via HOF fold (used under
    * lambda binders, where the codegen'd kernel's Column API can't reach) */
  private def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d),
      (acc, v) => acc + v)

  /** per-subspace distances of `vec`'s subspace j (a Column index) against
    * codebook j of the single `books` literal — ONE literal + lambdas
    * instead of m·k separate literal expressions (which made Catalyst
    * planning, not execution, the dominant cost) */
  private def subspaceDists(books: Column, vec: Column, j: Column, ds: Int): Column =
    transform(element_at(books, j + 1),
      cent => l2sqHof(slice(vec, j * ds + 1, lit(ds)), cent))

  /** The HOF semantic reference for pq_encode — PqSpec asserts the codegen
    * kernel matches it code-for-code. Argmin ties break on the LOWER code
    * (array_position finds the first minimum). */
  private[ops] def encodeHof(corpus: DataFrame, model: PqModel,
                             idCol: String, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    val books = typedLit(model.codebooks)
    corpus.select(col(idCol).as("n_id"),
      transform(sequence(lit(0), lit(model.m - 1)), j => {
        val dists = subspaceDists(books, v, j, model.ds)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }).as("codes"))
  }

  /** Compress the corpus to (id, codes): m codes per vector — the narrow
    * one-pass encode stage; at scale this is what lands in the index files
    * instead of raw floats. One fused codegen'd loop per row
    * (functions.PqEncode); the interpreted-HOF formulation allocated
    * ~m·k arrays per row (measured ~4 ms/row — corpus-unencodable). */
  def encode(corpus: DataFrame, model: PqModel, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("n_id"),
      graft.functions.PqFunctions.pqEncode(asDouble(col(vecCol)),
        typedLit(model.codebooks)).as("codes"))

  /** ADC top-k: shortlist by table-lookup distance over the CODES, exact
    * cosine rerank of the shortlist against the raw corpus vectors.
    * `queries` must be small (broadcast, same contract as bruteForceKnn).
    */
  def search(encoded: DataFrame, corpus: DataFrame, model: PqModel,
             queries: DataFrame, k: Int, shortlist: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    // per-query m×k ADC table: tables(j)(c) = ||q_sub_j - codebook_j(c)||²
    // computed once per query row (narrow, tiny side)
    val qv = asDouble(col(vecCol))
    val books = typedLit(model.codebooks)
    val q = queries.select(col(idCol).as("q_id"), qv.as("q_vec"),
      transform(sequence(lit(0), lit(model.m - 1)),
        j => subspaceDists(books, qv, j, model.ds)).as("tables"))
    // approx distance = m lookups (no per-pair float math beyond the adds);
    // codegen'd kernel — stays inside the join stage's WholeStageCodegen
    val adc = graft.functions.PqFunctions.pqAdc(col("codes"), col("tables"))
    val short = Similarity.shortlistIds(
      encoded.crossJoin(broadcast(q.select("q_id", "tables")))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("adist", adc), col("adist").asc, shortlist)
    Similarity.rerankBroadcast(short, corpus, q.select(col("q_id"), col("q_vec")),
      k, idCol, vecCol)
  }

  /** Decode codes back to the reconstructed (quantized) vector — the
    * reconstruction the ADC distance is exact against; used by specs to
    * bound quantization error. */
  def decode(encoded: DataFrame, model: PqModel): DataFrame = {
    val books = typedLit(model.codebooks)
    encoded.withColumn("recon",
      flatten(zip_with(col("codes"),
        sequence(lit(0), lit(model.m - 1)),
        (c, j) => element_at(element_at(books, j + 1), c + 1))))
  }
}
