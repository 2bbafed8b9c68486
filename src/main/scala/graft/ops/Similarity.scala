package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (ARRAY<FLOAT>): brute-force cosine top-k as the exact baseline, and
  * sign-random-projection LSH as the scale path. Dot products run through
  * `zip_with`/`aggregate` higher-order functions — sequential per-row folds,
  * codegen'd, deterministic.
  *
  * Scale design (100 TB corpus):
  * - brute-force broadcasts the QUERY side (must be small) and scans the
  *   corpus once; the only shuffle is the per-query top-k (rows ≤ |Q|·k after
  *   partial ranking);
  * - LSH buckets corpus AND queries by hyperplane sign bits; the join
  *   shuffles by bucket id, so work is proportional to bucket occupancy, not
  *   |corpus|·|Q|.
  */
object Similarity {

  /** Self-sizing occupancy target for [[bucketedKnn]]'s `nlist = 0` mode
    * (~vectors per cell) — the same constant family as semanticNearDups'
    * targetOcc: it bounds in-cell candidate volume as the corpus grows. */
  val SelfSizeTargetOcc: Int = 32

  /** Codegen'd single-pass kernels (graft.functions.VecExpressions). The
    * HOF formulations below are kept as the semantic reference — specs assert
    * the kernels produce bit-identical doubles (same sequential IEEE folds).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.vecDot(a, b)
  def cosine(a: Column, b: Column): Column = graft.functions.VecFunctions.vecCosine(a, b)
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** interpreted higher-order-function reference implementations */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** The vector form every operator computes on. */
  private[ops] def asDouble(c: Column): Column = c.cast("array<double>")

  /** (`side`_id, `side`_vec) rows of an id/embedding frame. */
  private[ops] def vectors(df: DataFrame, idCol: String, vecCol: String,
                           side: String): DataFrame =
    df.select(col(idCol).as(s"${side}_id"),
      asDouble(col(vecCol)).as(s"${side}_vec"))

  /** Exact top-k cosine neighbors for each query vector. `queries` MUST be
    * small (it is broadcast); ranking ties break on neighbor id.
    * Output: (q_id, n_id, rank, sim).
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    topK(vectors(corpus, idCol, vecCol, "n")
      .crossJoin(broadcast(vectors(queries, idCol, vecCol, "q")))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec"))), k)

  // --------------------------------------------------- kNN ranking contract
  // Every kNN entry point in graft.ops (brute, LSH, IVF, PQ, SQ8, sign-bit,
  // IVF-SQ, IVF-PQ; bucketedKnn past its TopKByKey aggregate, which keeps
  // the same order) ranks through the helpers below, and SparkEntry's
  // ExactKnnOracle replays [[topK]] in SQL. Each scheme keeps only how it
  // scores candidates and how it trains.

  /** The exact top-k tail: each query's candidates rank by `sim` desc,
    * ties on `n_id` asc; ranks <= k leave as (q_id, n_id, rank,
    * round(sim, 6)). */
  private[ops] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** The approximate shortlist rank: `qrank` numbers each query's
    * candidates under the scheme's score order `by` (best first), ties on
    * `n_id` asc. */
  private[ops] def approxRank(scored: DataFrame, by: Column): DataFrame =
    scored.withColumn("qrank", row_number().over(
      Window.partitionBy("q_id").orderBy(by, col("n_id").asc)))

  /** The (q_id, n_id) ids of each query's `n` best candidates under `by`. */
  private[ops] def shortlistIds(scored: DataFrame, by: Column, n: Int): DataFrame =
    approxRank(scored, by).filter(col("qrank") <= n).select("q_id", "n_id")

  /** The margin twin of a shortlist search: the worst [[approxRank]] at
    * which any TRUE top-k neighbor sits among `scored` — the search is
    * exact while its shortlist is at least this. Null-safe: an empty
    * truth join fails with the contract message, not an NPE. */
  private[ops] def worstTrueRank(scored: DataFrame, by: Column,
                                 corpus: DataFrame, queries: DataFrame,
                                 k: Int, idCol: String, vecCol: String,
                                 what: String): Int = {
    val truth = bruteForceKnn(corpus, queries, k, idCol, vecCol)
      .select("q_id", "n_id")
    val row = approxRank(scored, by).join(truth, Seq("q_id", "n_id"))
      .agg(max("qrank")).head
    require(!row.isNullAt(0),
      s"$what margin: empty truth join (no queries, empty corpus, or no " +
        "true neighbor among the scored candidates — for IVF, raise nprobe)")
    row.getInt(0)
  }

  /** Exact-cosine rerank of a (q_id, n_id) shortlist, then [[topK]].
    * The shortlist is not broadcast: s18's holds corpus/2 rows per query. */
  private[ops] def rerank(short: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int, idCol: String,
                          vecCol: String): DataFrame =
    topK(short.join(vectors(corpus, idCol, vecCol, "n"), "n_id")
      .join(broadcast(vectors(queries, idCol, vecCol, "q")), "q_id")
      .withColumn("sim", cosine(col("q_vec"), col("n_vec"))), k)

  /** [[rerank]] with the shortlist broadcast into one corpus scan (a PQ
    * shortlist holds at most |Q|·shortlist rows); `qVecs` is (q_id, q_vec). */
  private[ops] def rerankBroadcast(short: DataFrame, corpus: DataFrame,
                                   qVecs: DataFrame, k: Int, idCol: String,
                                   vecCol: String): DataFrame =
    topK(vectors(corpus, idCol, vecCol, "n").join(broadcast(short), "n_id")
      .join(broadcast(qVecs), "q_id")
      .withColumn("sim", cosine(col("q_vec"), col("n_vec"))), k)

  /** Shared coarse-cell quantizer for cell-bucketed operators: trained
    * ONCE (on the corpus), assigns any frame — flat literal centroids
    * while nlist is small, two-level (⌈√nlist⌉ coarse literals + a
    * broadcast fine-centroid matrix + the vec_top_cells kernel) above 64
    * cells, the same O(n·√nlist) escape semanticNearDups' assignment
    * uses (flat is O(n·nlist·d) per the self-sizing contract — measured
    * 288× wall at a 30× rehearsal before the two-level path existed). */
  private[graft] sealed trait CellQuantizer
  private[graft] final case class FlatCells(centroids: Seq[Seq[Double]])
    extends CellQuantizer
  private[graft] final case class TwoLevelCells(coarse: Seq[Seq[Double]],
                                              fineDf: DataFrame)
    extends CellQuantizer

  /** Train on a (nd_id, nd_vec) frame. */
  private[graft] def trainCellQuantizer(vecs: DataFrame, cells: Int,
                                      trainSampleFraction: Double,
                                      seed: Long): CellQuantizer =
    if (cells <= 64)
      FlatCells(Ivf.trainCentroids(vecs, cells, trainSampleFraction, seed,
        "nd_vec"))
    else {
      val spark = vecs.sparkSession
      import spark.implicits._
      val (coarse, fine) = Ivf.trainHierarchical(vecs, cells,
        trainSampleFraction, seed, "nd_vec")
      // per-coarse-cell fine centroids as PARALLEL ARRAYS (cell-sorted):
      // the assignment joins ONE broadcast row per (vector, coarse cell)
      // and the vec_top_cells kernel scans the matrix in a single codegen
      // pass; the global top-probe set is a subset of the union of
      // per-coarse-cell top-probe sets, same (d, cell) tie order
      val fineDf = fine.toDF("cell", "ccell", "fcent")
        .groupBy("ccell")
        .agg(array_sort(collect_list(struct(col("cell"), col("fcent"))))
          .as("fc"))
        .select(col("ccell"), col("fc.cell").as("cells"),
          col("fc.fcent").as("cents"))
      TwoLevelCells(coarse, fineDf)
    }

  /** `probe` nearest cells per vector of a (nd_id, nd_vec) frame →
    * skinny (nd_id, cell) rows — vectors never ride the two-level
    * window shuffle (only (id, cell, d) triples do). */
  private[graft] def assignCells(vecs: DataFrame, q: CellQuantizer,
                               probe: Int): DataFrame = q match {
    case FlatCells(centroids) =>
      vecs.select(col("nd_id"),
        explode(Ivf.nearestCells(col("nd_vec"), centroids, probe)).as("cell"))
    case TwoLevelCells(coarse, fineDf) =>
      val w = Window.partitionBy("nd_id").orderBy(col("d"), col("cell"))
      vecs.select(col("nd_id"), col("nd_vec"),
          explode(Ivf.nearestCells(col("nd_vec"), coarse, probe)).as("ccell"))
        .join(broadcast(fineDf), "ccell")
        .select(col("nd_id"), explode(graft.functions.VecFunctions
          .vecTopCells(col("nd_vec"), col("cents"),
            col("cells").cast("array<long>"), probe)).as("tc"))
        .select(col("nd_id"), col("tc.cell").as("cell"), col("tc.d").as("d"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= probe)
        .select("nd_id", "cell")
  }

  /** Exact-within-probe top-k for a LARGE query set — the route every
    * other kNN entry point refuses: they broadcast the query side by
    * contract, so a 10⁵–10⁶-query batch (reranking a retrieval shard,
    * labeling a corpus against itself) would OOM the broadcast or fall
    * back to a driver-side loop. Here NEITHER side broadcasts: the
    * corpus buckets into its nearest coarse cell, queries bucket into
    * their nprobe nearest cells, and candidates meet in a plain
    * shuffled cell-to-cell JOIN — the s07 corpus-vs-corpus pattern
    * generalized to corpus-vs-queryset.
    *
    * Shuffle budget: corpus rides ONE cell-keyed exchange (vectors move
    * once), queries ride |Q|·nprobe rows; the per-query top-k window
    * runs under Spark 4's rank-limit pushdown (InferWindowGroupLimit),
    * so each cell partition pre-filters to k rows per resident query and
    * only ≤ |Q|·nprobe·k skinny rows reach the final per-query exchange
    * — never the |Q|·(probed corpus) candidate stream. A skewed hot
    * cell is AQE skew-join territory (cell-keyed SMJ splits cleanly).
    *
    * Sizing and exactness contract: `nlist = 0` self-sizes cells from
    * the corpus (~[[SelfSizeTargetOcc]] vectors/cell, capped — the s07
    * contract), so candidate volume stays ∝ |Q|·nprobe·occupancy, LINEAR
    * in |Q| as the corpus grows. The probe geometry is [[Ivf.search]]'s:
    * exact when the probed cells cover each query's true top-k — which
    * is guaranteed (full probe) whenever nprobe ≥ the self-sized nlist,
    * the regime the sf0.01 oracle certifies corpus-wide; above that SF
    * the probe is partial and nprobe is the recall knob, the same
    * documented contract as s02/s03 (the planted-twin spec proves the
    * partial-probe join on clustered data). Output: (q_id, n_id, rank,
    * sim) — s01's shape.
    *
    * Vector contract: corpus and query vectors must be EQUAL-LENGTH. The
    * hoisted per-side norms (sqrt(dot(v,v)) over the FULL vector) assume
    * it — the fused vec_cosine kernel they replaced truncated both
    * self-products to min(|q|,|n|), so ragged inputs would score
    * differently here than pre-r15; every kNN entry point in this file
    * already shares the equal-dim contract.
    */
  def bucketedKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                  nlist: Int = 0, nprobe: Int = 16,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  trainSampleFraction: Double = 1.0,
                  seed: Long = 42L): DataFrame = {
    val c0 = vectors(corpus, idCol, vecCol, "n")
    val cells =
      if (nlist > 0) nlist
      else {
        val n = math.max(c0.count(), 1L)
        math.min(4096,
          math.max(16, math.ceil(n / SelfSizeTargetOcc.toDouble).toInt))
      }
    val probe = math.min(nprobe, cells)
    require(probe >= 1, s"nprobe $nprobe out of range")
    // ONE quantizer trained on the corpus assigns both sides; above 64
    // cells the two-level path keeps assignment O(n·√nlist) — without it
    // the self-sized nlist at a 100× corpus (4096 cells) would put the
    // flat O(n·nlist·d) literal scan right back on the s07-measured
    // 288×-wall path. Flat assignment stays a pure projection; the
    // two-level skinny (id, cell) assignment joins back by id (one
    // id-keyed exchange of each side, far below the candidate volume).
    val quant = trainCellQuantizer(
      c0.select(col("n_id").as("nd_id"), col("n_vec").as("nd_vec")),
      cells, trainSampleFraction, seed)
    def withCells(df: DataFrame, id: String, vec: String,
                  n: Int): DataFrame = quant match {
      case FlatCells(cents) =>
        df.withColumn("cell",
          explode(Ivf.nearestCells(col(vec), cents, n)))
      case two: TwoLevelCells =>
        df.join(
          assignCells(df.select(col(id).as("nd_id"), col(vec).as("nd_vec")),
            two, n).select(col("nd_id").as(id), col("cell")), id)
    }
    // Norms precomputed ONCE per side (opt round 15, guide §4): the fused
    // vec_cosine kernel re-accumulates both self-products on every
    // candidate pair — |Q|·nprobe·occupancy evaluations of 6 flops/element
    // where the dot needs 2. Hoisting sqrt(dot(v,v)) to a per-row column
    // before the join leaves dot-only work in the hot loop and is
    // BIT-exact for the kNN contract (equal-length vectors, which the
    // fused kernel's min-length truncation also assumes): dot(v,v)
    // accumulates in the same element order as vec_cosine's self-product,
    // and dot/(sqrt(qq)*sqrt(nn)) is the identical operation sequence.
    val c = withCells(
      c0.withColumn("n_nrm", sqrt(dot(col("n_vec"), col("n_vec")))),
      "n_id", "n_vec", 1)
    val q = withCells(
      vectors(queries, idCol, vecCol, "q")
        .withColumn("q_nrm", sqrt(dot(col("q_vec"), col("q_vec")))),
      "q_id", "q_vec", probe)
    // deliberately NO broadcast() on either side: the cell join must plan
    // as a shuffled join when sizes demand it (PlanQualitySpec pins the
    // shape under a scale-emulating broadcast threshold)
    val cand = c.join(q, "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
    // Top-k per query: a grouped TopKByKey aggregate — an O(n) streaming
    // insert that hash-aggregates and reduces map-side — replaces the
    // row_number window, whose WindowGroupLimit Partial step SORTS the
    // full candidate stream per partition (424M rows = ~2/3 of s20's 100x
    // cost, OPTIMIZATION_r15.md "s20_knn_bucketed"; the aggregate keeps
    // the same skinny exchange volume and the identical (sim DESC, n_id
    // ASC) total order, so results are bit-equal — SimilaritySpec pins
    // agg == window on tie-heavy data). k <= 4 plans the declarative kernel; above it the
    // loop-based imperative twin (opt round 16 — the old k-cap cliff where
    // k = 5 silently lost the whole optimization is gone) up to MaxAggK,
    // for fixed-width id types; the window form remains the fallback.
    val fixedWidthId = cand.schema("n_id").dataType match {
      case org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    if (k <= graft.functions.TopKFunctions.MaxDeclK ||
        (k <= graft.functions.TopKFunctions.MaxAggK && fixedWidthId)) {
      cand
        .groupBy("q_id")
        .agg(graft.functions.TopKFunctions
          .topkByKey(col("sim"), col("n_id"), k).as("__top"))
        .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
        .filter(col("__t").getField("id").isNotNull)
        .select(col("q_id"), col("__t").getField("id").as("n_id"),
          (col("__pos") + 1).cast("int").as("rank"),
          round(col("__t").getField("key"), 6).as("sim"))
    } else topK(cand, k)
  }

  /** Deterministic pseudo-random hyperplanes: seeded Gaussian components —
    * reproducible across sessions.
    */
  private def hyperplanes(planes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(42)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Multi-table sign-LSH bucket ids: `tables` independent tables of
    * `planesPerTable` hyperplanes each. A vector's bucket in table t encodes
    * (t, sign bits of that table's planes). Two vectors at angle θ share a
    * table-bucket with probability (1 − θ/π)^planesPerTable; with T tables
    * the candidate recall is 1 − (1 − p)^T — tune T up for recall, planes up
    * for precision. Returns an ARRAY<BIGINT> of length `tables`.
    */
  def lshBucketArray(vec: Column, tables: Int, planesPerTable: Int,
                     dim: Int): Column =
    // single codegen'd kernel (graft.functions.LshBuckets): identical
    // buckets to lshBucketArrayComposed below, but ONE JIT-compiled loop —
    // the composed when/vec_dot form inlines tables×planes separate dot
    // loops into one generated method, which exceeds HotSpot's JIT size
    // limit and runs interpreted (measured: d05's bucket stage 40.6 s of a
    // 47 s query at 30×; kernel: ~1 s)
    graft.functions.VecFunctions.lshBuckets(vec, tables, planesPerTable, dim)

  /** The composed-expression reference implementation of [[lshBucketArray]]
    * (the original formulation): kept as the spec oracle proving the kernel
    * computes bit-identical buckets.
    */
  def lshBucketArrayComposed(vec: Column, tables: Int, planesPerTable: Int,
                             dim: Int): Column = {
    val hp = hyperplanes(tables * planesPerTable, dim)
    val buckets = (0 until tables).map { t =>
      val bits = (0 until planesPerTable).map { p =>
        when(dot(vec, typedLit(hp(t * planesPerTable + p))) >= 0.0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      bits + lit(t.toLong << 32)
    }
    array(buckets: _*)
  }

  /** ANN top-k: candidates share any table-bucket with the query; exact
    * cosine ranks the distinct candidates. Output: (q_id, n_id, rank, sim).
    *
    * Sizing (round 8 — the d05 occupancy contract applied to the kNN path):
    * with `planesPerTable = 0` the index derives its own shape from the
    * corpus size and a DECLARED similarity floor for the neighbors worth
    * recalling:
    *  - planes = log2(n / occupancy) keeps expected bucket occupancy flat
    *    as n grows (the d05 rule — a fixed plane count is a scale trap);
    *  - tables = ln(targetMiss) / ln(1 − (1−θ/π)^planes) makes the
    *    per-neighbor candidate-miss probability ≤ targetMiss at the floor
    *    cosine (θ = acos(minNeighborCos)) — planes sharpen buckets, tables
    *    buy the recall back.
    * The math also says when sign-LSH CANNOT win: if the derived shape's
    * candidate volume (tables · n / 2^planes per query) reaches n — which
    * happens exactly when the similarity floor is low (θ/π large, e.g.
    * kNN over unclustered vectors) — every LSH configuration does at least
    * a scan's work plus explode/distinct overhead, so the builder FALLS
    * BACK to [[bruteForceKnn]]: strictly cheaper, recall exactly 1. This
    * is the honest scale contract: LSH-kNN pays off only above a
    * similarity floor; below it the exact scan (or IVF, which exploits
    * cluster structure instead of random planes) is the right plan.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, tables: Int = 4,
             planesPerTable: Int = 4, dim: Int = 64, idCol: String = "vec_id",
             vecCol: String = "embedding", corpusSizeHint: Long = 0L,
             occupancy: Int = 32, minNeighborCos: Double = 0.5,
             targetMiss: Double = 0.01, maxTables: Int = 64,
             queryCountHint: Long = 0L): DataFrame = {
    require(minNeighborCos > -1.0 && minNeighborCos < 1.0,
      s"minNeighborCos must be in (-1, 1), got $minNeighborCos")
    require(targetMiss > 0.0 && targetMiss < 1.0,
      s"targetMiss must be in (0, 1), got $targetMiss")
    val (nTables, nPlanes) =
      if (planesPerTable > 0) (tables, planesPerTable)
      else {
        // NOTE: without hints the derived branch EXECUTES corpus.count()
        // and queries.count() at plan-build time (the frames recompute in
        // the kNN job itself) — pass corpusSizeHint/queryCountHint (or
        // persist the frames first) when either input is expensive, both
        // to avoid the double work and to pin the brute-vs-LSH decision
        // against drifting runtime cardinalities.
        val n = math.max(
          if (corpusSizeHint > 0) corpusSizeHint else corpus.count(), 1L)
        val planes = math.max(1,
          math.ceil(math.log(n.toDouble / occupancy) / math.log(2.0)).toInt)
        val p = math.acos(minNeighborCos) / math.Pi
        val hit = math.pow(1.0 - p, planes)
        val t =
          if (hit >= 1.0) 1
          else math.ceil(math.log(targetMiss) / math.log(1.0 - hit)).toLong
        // Two break-evens, both required for LSH to win:
        //  - candidate volume: slots per query ≈ t·n/2^planes must stay
        //    well under n (else the verify stage does a scan's work);
        //  - bucketing amortization: hashing costs t·planes plane-dot-
        //    products per CORPUS row, while the exact scan costs |queries|
        //    dot products per corpus row — with few queries the scan is
        //    cheaper before LSH generates a single candidate (measured:
        //    the 51×6 derived shape ran 33× slower than brute on the
        //    8-query fixture).
        val qCount = // small by contract (like brute's broadcast)
          if (queryCountHint > 0) queryCountHint else queries.count()
        val slotsPerQuery =
          if (planes >= 63) 0.0
          else t.toDouble * n.toDouble / (1L << planes).toDouble
        if (t > maxTables || slotsPerQuery >= n.toDouble / 2 ||
            t * planes >= qCount)
          return bruteForceKnn(corpus, queries, k, idCol, vecCol)
        (t.toInt, planes)
      }
    val cv = vectors(corpus, idCol, vecCol, "n")
    val qv = vectors(queries, idCol, vecCol, "q")
    val c = cv.select(col("n_id"),
      explode(lshBucketArray(col("n_vec"), nTables, nPlanes, dim)).as("bucket"))
    val q = qv.select(col("q_id"),
      explode(lshBucketArray(col("q_vec"), nTables, nPlanes, dim)).as("bucket"))
    // the query side is small by contract (like bruteForceKnn) — broadcast
    // it explicitly so the corpus side streams through a hash join with no
    // shuffle and no sort-merge fallback under stale stats
    val candidates = c.join(broadcast(q), "bucket")
      .filter(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id").distinct()
    topK(candidates.join(broadcast(qv), "q_id").join(cv, "n_id")
      .withColumn("sim", cosine(col("q_vec"), col("n_vec"))), k)
  }

  /** All pairs with cosine ≥ threshold among vectors sharing any table-bucket
    * (embedding near-duplicate detection). Output: (id_a, id_b, sim).
    */
  /** `maxBucket` caps sign-LSH buckets before pair explosion (quadratic-
    * blowup guard; a pair in a dropped bucket still surfaces via any other
    * of its `tables` buckets that collides).
    */
  /** `planesPerTable = 0` (the default) derives the bucket granularity from
    * the corpus size: ~log2(n / 32) planes keeps expected bucket occupancy
    * near 32 REGARDLESS of n. A fixed plane count is a scale trap — buckets
    * per table are 2^planes, so at 10× the data each bucket holds 10× the
    * vectors and the in-bucket pair explosion grows 100× (measured 147×
    * wall-clock at a 40k-vector rehearsal). Near-identical pairs survive
    * extra planes easily (split probability per plane ≈ θ/π ≈ 0.002 at
    * cosine 0.9999), so recall at the dedup threshold is unaffected.
    */
  /** `corpusSizeHint > 0` sizes the derived plane count without touching the
    * data — the caller usually knows |corpus| (or a cheap raw-table count of
    * the pre-transform source); counting the DERIVED frame here would be a
    * full extra pass over the corpus just to pick an index granularity.
    */
  def lshNearDups(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, tables: Int = 6, planesPerTable: Int = 0,
                  dim: Int = 64, maxBucket: Int = 10000,
                  corpusSizeHint: Long = 0L): DataFrame = {
    val planes =
      if (planesPerTable > 0) planesPerTable
      else {
        val n = math.max(if (corpusSizeHint > 0) corpusSizeHint else df.count(), 1L)
        // target occupancy ~16/bucket (was 32): candidate volume is
        // tables × n × occupancy/2 and BOTH verify-join shuffles carry it,
        // so halving occupancy halves the dominant cost at large n
        // (sf3 rehearsal: 88.8 → measured below); near-identical pairs
        // survive the extra plane (split prob ≈ 0.002/plane at cos 0.9999)
        // and the d05 oracle re-certifies recall exactly.
        math.max(6, math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt)
      }
    // single-reference now (inline verify): no repartition — the old shape
    // pre-partitioned by id for the two verify joins this path no longer has
    val vecs = vectors(df, idCol, vecCol, "nd")
    // one shuffle: members ride the table-bucket group WITH their vectors
    // and each bucket verifies its pairs inline in the cell_pairs kernel
    // (targetOcc = maxBucket ⇒ the kernel's sub-quantizer never engages —
    // LSH occupancy is already controlled by the derived plane count); the
    // distinct dedups the union over tables on QUALIFYING output only. The
    // former shape materialized tables × n × occ/2 candidate pairs and
    // joined them back to vectors twice — the second join shuffled
    // (pair, vec_a) rows, the same disease the 100× rehearsal exposed in
    // semanticNearDups (s07 983.8 → 32.7 s solo); here the moved bytes
    // drop from ~candidates × 1 KB to corpus × tables × 1 KB.
    vecs.select(
        explode(lshBucketArray(col("nd_vec"), tables, planes, dim)).as("bucket"),
        struct(col("nd_id"), col("nd_vec")).as("it"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("it"))).as("items"))
      .filter(size(col("items")) >= 2 && size(col("items")) <= maxBucket)
      .select(explode(graft.functions.VecFunctions
        .cellPairs(col("items"), threshold, maxBucket, 1)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sim").as("sim"))
      .distinct()
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Semantic near-duplicate pairs via k-means CLUSTER blocking (the
    * SemDeDup shape — Abbas et al. 2023, arXiv:2303.09540): a coarse
    * quantizer trained on a bounded sample partitions the corpus into
    * `nlist` cells; candidate pairs are generated only WITHIN a cell and
    * verified with exact cosine. Complementary scale path to sign-LSH
    * (`lshNearDups`): data-adaptive cells follow the corpus's own cluster
    * structure instead of fixed random hyperplanes, and `nlist` scales the
    * block granularity directly (production: nlist ~ n/10k keeps expected
    * cell occupancy flat as the corpus grows).
    *
    * Boundary robustness: each vector lands in its `probeCells` nearest
    * cells (multi-probe); a pair straddling one boundary still meets in the
    * other's cell. `maxBucket` caps a degenerate cell before the quadratic
    * pair blowup. Output: (id_a, id_b, sim) with id_a < id_b.
    *
    * Shuffle budget: centroid training reads a sample; assignment is one
    * narrow map (centroids are literals / a broadcast fine table); ONE wide
    * shuffle groups (id, vec) members by cell — corpus × probeCells vector
    * bytes, the only time vectors move — and each cell verifies its pairs
    * inline in the codegen'd cell_pairs kernel, so no unverified candidate
    * ever rides a shuffle. Cells above 8× the occupancy target are split
    * in-task by a recursive local sub-quantizer trained on the cell's own
    * members (no driver sample cap), keeping in-cell candidate volume
    * ∝ occ·targetOcc under any skew the top-level quantizer missed.
    */
  def semanticNearDups(df: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       threshold: Double = 0.8, nlist: Int = 0,
                       probeCells: Int = 2, trainSampleFraction: Double = 1.0,
                       seed: Long = 42L, maxBucket: Int = 10000,
                       corpusSizeHint: Long = 0L,
                       targetOcc: Int = 32): DataFrame = {
    // nlist=0 → derive from corpus size so cell occupancy (and with it the
    // quadratic in-cell pair count) stays bounded as the corpus grows —
    // the same self-sizing contract as lshNearDups' plane count. ~32
    // vectors/cell (was 128: candidate volume is ∝ n·occupancy, and the
    // 30× rehearsal generated 14.7M candidates for 60k true pairs — the
    // occupancy constant, not the output, dominated; 32 quarters it while
    // near-dup pairs (cosine ≈ 1) still co-cluster under any occupancy —
    // the second probe cell covers boundary straddles, certified by the
    // exact-completeness oracles at both gated SFs and the planted-twin
    // spec on the two-level path).
    //
    // CAPPED at 4096: the quantizer trains on a ≤16,384-row driver-side
    // sample, and minting nlist ≈ sample-size centroids starves every cell
    // of training points — the 100× rehearsal measured maxOcc 3199 against
    // avg 35 from exactly that starvation (12,500 cells from 16,384
    // samples). Past the cap, occupancy grows with the corpus and the
    // in-task recursive sub-quantizer in the cell_pairs kernel (trained on
    // each cell's OWN members, no sample cap) keeps the in-cell candidate
    // volume ∝ occ·targetOcc — the knob that scales is now per-cell and
    // distributed, not the driver sample.
    val cells =
      if (nlist > 0) nlist
      else {
        val n = math.max(if (corpusSizeHint > 0) corpusSizeHint else df.count(), 1L)
        math.min(4096, math.max(16, math.ceil(n / targetOcc.toDouble).toInt))
      }
    val vecs = vectors(df, idCol, vecCol, "nd")
      .repartition(col("nd_id"))
    // Assignment path splits on nlist: the flat literal-centroid scan is
    // the fastest shape while the per-row constant stays small, but it is
    // O(nlist) PER ROW — with the self-sizing nlist ∝ n that's O(n²)
    // total (measured 288× wall at a 30× rehearsal). Above 64 cells the
    // two-level quantizer takes over: a ⌈√nlist⌉-literal coarse probe,
    // then fine centroids arrive by BROADCAST JOIN keyed on the coarse
    // cell (fanout ≈ √nlist rows/vector), and the per-vector top-probe
    // fine cells fall out of one window over skinny (id, cell, dist)
    // triples — vectors never ride that shuffle.
    // (round 15: the flat/two-level split is the shared trainCellQuantizer
    // / assignCells pair — identical operations, now also powering
    // bucketedKnn's corpus-vs-queryset assignment)
    val bucketed = assignCells(vecs,
      trainCellQuantizer(vecs, cells, trainSampleFraction, seed), probeCells)
    // Inline verify: members ride the ONE cell shuffle with their vectors
    // and each cell emits its qualifying pairs directly from the codegen'd
    // cell_pairs kernel (recursive in-task sub-quantization above
    // 8×targetOcc occupancy — see CellPairsKernel). The former shape
    // materialized the candidate PAIR list and joined it back to vectors
    // twice; the second join shuffled (pair, vec_a) rows — ~70 M × 1 KB at
    // the 100× rehearsal, 300 s of shuffle for 9 GFLOP of actual cosine
    // work. Now vector bytes move once (corpus × probeCells), pairs never
    // ride a shuffle unverified, and the final distinct only sees
    // qualifying output (multi-probe duplicates collapse there — the same
    // pair verified in two cells yields bit-identical sim).
    bucketed
      .join(vecs, "nd_id")
      .select(col("cell"), struct(col("nd_id"), col("nd_vec")).as("it"))
      .groupBy("cell")
      .agg(sort_array(collect_list(col("it"))).as("items"))
      .filter(size(col("items")) >= 2 && size(col("items")) <= maxBucket)
      .select(explode(graft.functions.VecFunctions
        .cellPairs(col("items"), threshold, targetOcc, probeCells)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sim").as("sim"))
      .distinct()
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Retrieval-quality evaluation: per-query recall@k and reciprocal rank
    * of a `predicted` ranking against a `truth` ranking (both in the
    * (q_id, n_id, rank) shape every kNN operator here emits). The metric
    * every ANN knob (LSH tables, IVF nprobe, PQ shortlist) is tuned
    * against — as a relational op: one broadcast-joinable truth side (k
    * rows per query), exact integer hits, single-division ratios.
    * Output: q_id, n_truth, hits, recall_k, first_rel_rank (null when no
    * relevant item was retrieved), rr.
    */
  def retrievalMetrics(predicted: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("q_id"), col("n_id"), lit(1).as("__rel"))
    val tn = truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
    val perQuery = predicted.select("q_id", "n_id", "rank")
      .join(t, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(
        sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("hits"),
        min(when(col("__rel").isNotNull, col("rank"))).as("first_rel_rank"))
    // truth is the anchor side: a query the ANN retrieved NOTHING for must
    // still appear with recall 0 / rr 0 — an inner join here would drop it
    // and silently inflate every averaged metric
    tn.join(perQuery, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("n_truth"), 6)
          .as("recall_k"),
        col("first_rel_rank"),
        when(col("first_rel_rank").isNotNull,
          round(lit(1.0) / col("first_rel_rank"), 6)).otherwise(0.0).as("rr"))
  }

  /** MMR (maximal-marginal-relevance) diversity rerank: from each query's
    * exact top-`shortlistK` cosine shortlist, greedily select `k` items
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` — the standard
    * redundancy-suppressing rerank for retrieval-augmented pipelines
    * (don't hand the model 6 near-identical passages). λ is passed in
    * tenths and ALL scoring is scaled-long integer arithmetic
    * (`round(sim,6)·1e6`), so selection is order-deterministic (ties →
    * lowest id) and engine-replayable bit for bit.
    *
    * Scale shape: the greedy loop — inherently sequential — runs per-query
    * over arrays bounded by `shortlistK` (≤ tens), as ONE codegen-friendly
    * `aggregate` HOF over collected per-query state: no driver loop, no
    * iteration-count shuffles; queries parallelize embarrassingly. The
    * quadratic piece (pairwise sims) is shortlistK² per query, computed
    * relationally before the collect. Swap the brute-force shortlist for
    * any ANN shortlist (IVF/PQ/LSH) at corpus scale — the rerank is
    * agnostic to how the shortlist was produced.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, shortlistK: Int = 16,
                k: Int = 6, lambdaTenths: Int = 7,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k <= shortlistK && lambdaTenths >= 0 && lambdaTenths <= 10)
    val top = bruteForceKnn(corpus, queries, shortlistK, idCol, vecCol)
      .withColumn("rel", round(col("sim") * 1e6).cast("long"))
    val ids = top.select(col("q_id"), col("n_id"), col("rel"), col("sim"))
    val vecs = corpus.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("vv"))
    // pairwise sims inside each shortlist, both directions (map lookup
    // stays a single concat key) — ≤ shortlistK² tiny rows per query
    val pairs = ids.select(col("q_id"), col("n_id").as("ia"))
      .join(ids.select(col("q_id"), col("n_id").as("ib")), "q_id")
      .filter(col("ia") =!= col("ib"))
      .join(vecs.withColumnRenamed("vid", "ia").withColumnRenamed("vv", "va"), "ia")
      .join(vecs.withColumnRenamed("vid", "ib").withColumnRenamed("vv", "vb"), "ib")
      .select(col("q_id"),
        concat(col("ia").cast("string"), lit("_"), col("ib").cast("string")).as("pk"),
        round(round(cosine(col("va"), col("vb")), 6) * 1e6).cast("long").as("s9"))
    val cands = ids.groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("n_id"), col("rel")))).as("cands"))
    val simMaps = pairs.groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(col("pk"), col("s9")))).as("m"))
    val keep = lit(lambdaTenths)
    val pen = lit(10 - lambdaTenths)
    val init = struct(
      typedLit(Seq.empty[Long]).as("sel"),
      col("cands").as("rem"))
    val stepped = cands.join(simMaps, "q_id")
      .withColumn("st", aggregate(sequence(lit(1), lit(k)), init, (st, _) => {
        val scored = transform(st.getField("rem"), c =>
          struct(
            (keep * c.getField("rel") - pen * coalesce(
              array_max(transform(st.getField("sel"), s =>
                element_at(col("m"), concat(c.getField("n_id").cast("string"),
                  lit("_"), s.cast("string"))))),
              lit(0L))).as("sc"),
            (-c.getField("n_id")).as("nid")))
        val best = array_max(scored)
        val bestId = -best.getField("nid")
        struct(
          concat(st.getField("sel"), array(bestId)).as("sel"),
          filter(st.getField("rem"),
            c => c.getField("n_id") =!= bestId).as("rem"))
      }))
      .select(col("q_id"), posexplode(col("st").getField("sel"))
        .as(Seq("pos", "n_id")))
      .select(col("q_id"), col("n_id"), (col("pos") + 1).as("mmr_rank"))
    stepped.join(ids.select(col("q_id"), col("n_id"), col("sim")),
      Seq("q_id", "n_id"))
  }
}
