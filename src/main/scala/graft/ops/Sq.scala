package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Similarity.asDouble

/** Scalar quantization (SQ8): every embedding component rounds to a
  * signed int8 against ONE global symmetric scale — the simplest, most
  * robust bandwidth knob in the ANN family. The corpus scans as
  * `array<tinyint>` (4x fewer bytes than float32, 8x vs the double
  * verify form), the quantized-cosine shortlist ranks candidates from
  * codes alone, and an exact-cosine rerank of the shortlist restores
  * exact ordering — the same shortlist-then-rerank contract as [[Pq]]
  * (reference has no ANN surface; this is beyond-parity, certified
  * against the s01 exact-kNN oracle like s08).
  *
  * Versus PQ: SQ8 needs no codebook training (the "model" is one scalar
  * from one aggregate), has zero reconstruction blind spots (every
  * dimension keeps its own sign and magnitude at 1/127 resolution), and
  * compresses 4x instead of 16x — the standard first rung of the
  * quantization ladder, composable with IVF cell pruning exactly like PQ.
  * The file also carries the ladder's EXTREME rung: sign-bit (1-bit)
  * codes packed 64 per long (32x compression, Hamming-distance shortlist
  * via xor + bit_count) — see [[signEncode]]/[[searchSign]].
  *
  * Scale shape: trainScale is ONE corpus-wide max-abs (a narrow
  * partial-aggregating scan — never an explode), encode is a pure
  * projection, search is a broadcast of the (small) query codes against
  * the codes scan + an id-keyed hash join for the rerank's raw vectors.
  */
object Sq {

  /** 127 / max|component| over the corpus — one distributed scalar. */
  def trainScale(corpus: DataFrame, vecCol: String = "embedding"): Double = {
    val row = corpus
      .agg(max(aggregate(transform(asDouble(col(vecCol)), x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x))))
      .head
    // max over zero rows aggregates to NULL — same loud require as all-zero
    require(!row.isNullAt(0) && row.getDouble(0) > 0.0,
      "SQ8: empty or all-zero corpus (no scale exists)")
    127.0 / row.getDouble(0)
  }

  /** int8 code expression for one (already array<double>) vector column —
    * shared with [[IvfSq]] so cell-resident codes round identically. */
  private[ops] def codeExpr(vec: Column, scale: Double): Column =
    transform(vec,
      x => greatest(lit(-127.0), least(lit(127.0), round(x * scale)))
        .cast("tinyint"))

  /** int8 codes: round(x * scale) clamped to [-127, 127]. */
  def encode(corpus: DataFrame, scale: Double, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("n_id"),
      codeExpr(asDouble(col(vecCol)), scale).as("n_code"))

  /** integer dot product of two int8 code arrays (exact in long). */
  private[ops] def dotCodes(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Quantized cosine with an explicit zero-norm floor: a vector whose
    * every component rounds to 0 at this scale (tiny vector under a
    * heavy-tailed corpus) would make the ratio NaN — and Spark orders
    * NaN as the LARGEST double, so zero-code junk would rank FIRST in a
    * `desc` shortlist, silently displacing true neighbors. Zero-norm
    * pairs rank last (-2.0, below any real cosine) instead. */
  private[ops] def quantizedCosine(nCode: Column, qCode: Column,
                                   qNorm: Column): Column = {
    val nNorm = sqrt(dotCodes(nCode, nCode).cast("double"))
    when(nNorm === 0.0 || qNorm === 0.0, lit(-2.0))
      .otherwise(dotCodes(nCode, qCode).cast("double") / (nNorm * qNorm))
  }

  /** Quantized-cosine score `sim_q` of every (query, corpus) pair from
    * codes alone (scale cancels in the ratio): the frame [[search]]
    * shortlists and [[worstTrueNeighborRank]] measures. */
  private def scored(encoded: DataFrame, queries: DataFrame, scale: Double,
                     idCol: String, vecCol: String): DataFrame = {
    val qCodes = encode(queries, scale, idCol, vecCol)
      .select(col("n_id").as("q_id"), col("n_code").as("q_code"))
    val qn = broadcast(qCodes.withColumn("q_norm",
      sqrt(dotCodes(col("q_code"), col("q_code")).cast("double"))))
    encoded.crossJoin(qn)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim_q", quantizedCosine(
        col("n_code"), col("q_code"), col("q_norm")))
  }

  /** Top-k cosine neighbors: quantized-cosine shortlist from the codes
    * scan, exact rerank of the shortlist against the raw vectors. Output
    * (q_id, n_id, rank, sim) — s01's shape, certified exact as long as
    * `shortlist` exceeds the worst true-neighbor quantized rank (SqSpec
    * measures the margin on the fixtures). */
  def search(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
             scale: Double, k: Int, shortlist: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    // qrank rides into the rerank join unused: s17's wire plan numbers
    // its columns by this projection
    val short = Similarity.approxRank(
      scored(encoded, queries, scale, idCol, vecCol), col("sim_q").desc)
      .filter(col("qrank") <= shortlist).select("q_id", "n_id", "qrank")
    Similarity.rerank(short, corpus, queries, k, idCol, vecCol)
  }

  // ------------------------------------------------------------- sign-bit
  // (1-bit) quantization: the extreme rung of the ladder below SQ8 — each
  // component keeps only its SIGN, packed 64 per long, so a 64-dim vector
  // scans as ONE bigint (32x fewer bytes than float32). Candidate ranking
  // is Hamming distance (xor + bit_count) — for sign codes, Hamming is a
  // monotone proxy for angular distance — and the same exact rerank
  // restores exact order.

  /** Pack component signs into longs, 64 per word (any dimension). */
  def signEncode(corpus: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("__v"))
      .selectExpr("n_id",
        """transform(sequence(0, int((size(__v) - 1) / 64)), w ->
          |  aggregate(sequence(w * 64, int(least(w * 64 + 63, size(__v) - 1))),
          |    0L, (acc, i) -> acc | IF(element_at(__v, i + 1) >= 0D,
          |      shiftleft(1L, int(i % 64)), 0L)))""".stripMargin
          + " AS n_sign")

  /** Hamming distance between two packed sign codes (exact, long). */
  private def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Hamming distance `ham` of every (query, corpus) pair of sign codes:
    * the frame [[searchSign]] shortlists and
    * [[worstTrueNeighborSignRank]] measures. */
  private def signScored(signs: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val qSigns = broadcast(signEncode(queries, idCol, vecCol)
      .select(col("n_id").as("q_id"), col("n_sign").as("q_sign")))
    signs.crossJoin(qSigns)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("ham", hamming(col("n_sign"), col("q_sign")))
  }

  /** Top-k cosine neighbors from a Hamming shortlist over sign codes +
    * exact rerank. One-bit codes are a COARSE proxy: the measured worst
    * true-neighbor Hamming rank sits at a stable ~1/3 of the corpus
    * across the gated fixtures (18%/33%/32% at sf0.001/0.01/0.1 — a
    * corpus FRACTION, not a fixed rank; SqSpec pins 40% as the bound),
    * so the EXACTNESS contract needs a corpus-fraction shortlist
    * (corpus/2 gives ~1.5x margin) — the economics are a first-pass
    * filter that scans 32x fewer bytes and halves exact-cosine work,
    * not a fixed-k index. A fixed shortlist degrades gracefully to
    * recall-mode retrieval (like a partial IVF probe). */
  def searchSign(signs: DataFrame, corpus: DataFrame, queries: DataFrame,
                 k: Int, shortlist: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    Similarity.rerank(Similarity.shortlistIds(
      signScored(signs, queries, idCol, vecCol), col("ham").asc, shortlist),
      corpus, queries, k, idCol, vecCol)
  }

  /** The sign-code margin twin of [[worstTrueNeighborRank]]: the worst
    * Hamming rank at which any TRUE top-k neighbor sits. */
  def worstTrueNeighborSignRank(signs: DataFrame, corpus: DataFrame,
                                queries: DataFrame, k: Int,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): Int =
    Similarity.worstTrueRank(signScored(signs, queries, idCol, vecCol),
      col("ham").asc, corpus, queries, k, idCol, vecCol, "SQ sign")

  /** Measurement twin for the shortlist-margin claim: the worst quantized
    * rank (qrank) at which any TRUE top-k neighbor sits — `shortlist`
    * must exceed this for [[search]] to be exact. */
  def worstTrueNeighborRank(encoded: DataFrame, corpus: DataFrame,
                            queries: DataFrame, scale: Double, k: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Int =
    Similarity.worstTrueRank(scored(encoded, queries, scale, idCol, vecCol),
      col("sim_q").desc, corpus, queries, k, idCol, vecCol, "SQ sq8")
}
