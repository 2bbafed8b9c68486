package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact (digest group-by),
  * MinHash+LSH band-bucketing, SimHash with pigeonhole candidate generation,
  * and exact n-gram Jaccard verification. Built from codegen'd built-ins —
  * higher-order array functions, xxhash64, bit ops — so every stage runs
  * inside whole-stage codegen with map-side partial aggregation.
  *
  * Scale design (100 TB):
  * - exact dedup shuffles 16-byte digests, never document payloads;
  * - MinHash signatures are fixed-width (numHashes × 8 bytes) regardless of
  *   document size; only (band, bandHash, id) triples shuffle for LSH;
  * - candidate verification joins shingle SETS only for LSH-surviving pairs;
  * - giant near-duplicate clusters create quadratic bucket blowup — cap with
  *   `maxBucket` (buckets above the cap are dropped; at cap b a cluster of n
  *   docs still surfaces via its other bands with high probability).
  */
object Dedup {

  /** One row per distinct normalized text: the minimum id wins, with the
    * duplicate count. Shuffle key = md5 digest (32 hex chars).
    */
  def exactDedup(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Corpus version diff by content digest: which normalized texts were
    * added, removed, or kept between two corpus snapshots — the audit
    * companion to [[incrementalDedup]] for dataset versioning. One
    * digest-keyed full outer join; payloads never shuffle (both sides
    * reduce to distinct 32-char digests first, with map-side combine).
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 textCol: String = "text"): DataFrame = {
    def digests(df: DataFrame) = df
      .select(TextOps.fingerprint(col(textCol)).as("digest")).distinct()
    digests(oldDocs).withColumn("in_old", lit(true))
      .join(digests(newDocs).withColumn("in_new", lit(true)),
        Seq("digest"), "full_outer")
      .select(col("digest"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .otherwise("kept").as("status"))
  }

  /** Incremental exact dedup: new documents whose normalized-text digest is
    * absent from the existing corpus — the standard ingest flow (dedup the
    * new crawl against everything already kept, then within itself). The
    * anti-join shuffles 32-char digests only, never payloads; the existing
    * side can be a pre-computed digest table. Within-batch duplicates keep
    * the minimum id.
    */
  def incrementalDedup(newDocs: DataFrame, existing: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val newD = newDocs.select(col(idCol),
      TextOps.fingerprint(col(textCol)).as("digest"))
    val oldD = existing.select(
      TextOps.fingerprint(col(textCol)).as("digest")).distinct()
    newD.join(oldD, Seq("digest"), "left_anti")
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** [[incrementalDedup]] with a Bloom-filter prefilter — EXACTLY the same
    * output, restructured for the 100 TB ingest reality that most of a new
    * crawl is NOT in the kept corpus. One compact filter over the corpus's
    * digests broadcasts to the new batch; rows the filter rejects are
    * DEFINITELY new (Bloom has no false negatives) and skip the join
    * entirely, so the exact anti-join runs only over the "maybe" rows:
    * true duplicates plus an fpp-bounded sliver of false positives. The
    * anti-join's probe side shrinks from |batch| to
    * |dups| + fpp·|batch| — at 1% fpp, ~99% of a mostly-novel batch never
    * shuffles. (Spark's own runtime-filter machinery applies the same idea
    * to join pruning; here it is an explicit, reusable ingest operator —
    * the filter can be built once and persisted alongside the corpus.)
    *
    * `expectedItems` sizes the filter without a counting pass (the caller
    * usually knows |corpus|); 0 falls back to a distributed count of the
    * corpus digest table (cheap: map-side-combined distinct digests).
    */
  def bloomIncrementalDedup(newDocs: DataFrame, existing: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            fpp: Double = 0.01,
                            expectedItems: Long = 0L): DataFrame = {
    import graft.functions.BloomFunctions
    val newD = newDocs.select(col(idCol),
      TextOps.fingerprint(col(textCol)).as("digest"))
    // the corpus digest set is read up to three times (count fallback,
    // bloom build, anti-join build side) and recomputed by each reader. It
    // is not cached: a session cache entry would outlive this call and be
    // picked up by every later query that builds the same digest frame. At
    // 100 TB the production shape passes a pre-computed digest TABLE as
    // `existing` plus `expectedItems`.
    val oldD = existing.select(
      TextOps.fingerprint(col(textCol)).as("digest")).distinct()
    val nItems = math.max(1L,
      if (expectedItems > 0) expectedItems else oldD.count())
    // might_contain requires the filter as a constant or scalar subquery —
    // the subquery form keeps the build distributed (no driver collect of a
    // corpus-sized filter) and Spark plans it as a broadcast-reused subquery
    val bloom = oldD.agg(BloomFunctions.bloomFilterAgg(
      xxhash64(col("digest")), nItems, BloomFunctions.bitsFor(nItems, fpp)).as("bf"))
    val probed = newD.withColumn("maybe",
      BloomFunctions.mightContain(bloom.scalar(), xxhash64(col("digest"))))
    val definitelyNew = probed.filter(!col("maybe")).select(col(idCol), col("digest"))
    // the USING join puts the key column first — reselect to the union order
    val confirmedNew = probed.filter(col("maybe")).select(col(idCol), col("digest"))
      .join(oldD, Seq("digest"), "left_anti")
      .select(col(idCol), col("digest"))
    definitelyNew.unionAll(confirmedNew)
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** word-level shingles of size k as a distinct array column.
    *
    * The split word array is bound as a LAMBDA VARIABLE (`ws`) via the
    * single-element-array wrap: lambda variables evaluate once, whereas a
    * plan-attribute reference inside a lambda body gets the whole upstream
    * expression inlined by CollapseProject and re-evaluated PER ELEMENT —
    * the naive `transform(seq, i -> slice(split(text), …))` re-splits the
    * document once per shingle, i.e. quadratic in document length.
    * (`array_join(ws, ' ')` in the short-doc branch reconstructs
    * `lower(text)` exactly: split/join with a single-char separator invert.)
    */
  def shingles(textCol: String, k: Int): org.apache.spark.sql.Column =
    expr(
      s"""array_distinct(flatten(transform(array(split(lower($textCol), ' ')),
         |  ws -> CASE WHEN size(ws) < $k THEN array(array_join(ws, ' '))
         |        ELSE transform(sequence(0, size(ws) - $k),
         |               i -> array_join(slice(ws, i + 1, $k), ' ')) END)))""".stripMargin)

  /** MinHash signature: sig[j] = min over shingles of xxhash64(shingle, j).
    * Fixed 8·numHashes bytes per doc regardless of document length.
    *
    * Expression shape matters: `shingles` appears only in the COLLECTION
    * argument of the fold, so it evaluates once per row. (The naive
    * `transform(seq, j -> array_min(transform(shingles, …)))` re-evaluates
    * the shingle construction once per seed — 64× — because lambda bodies
    * re-evaluate everything inside them.)
    */
  def minhashSignature(df: DataFrame, textCol: String = "text",
                       numHashes: Int = 64, shingleSize: Int = 3): DataFrame =
    df.withColumn("shingles", shingles(textCol, shingleSize))
      .withColumn("minhash_sig",
        graft.functions.MinHashFunctions.minhashSig(col("shingles"), numHashes))

  /** All ordered (a < b) pairs from a SORTED array column, as an array of
    * structs {a, b}. Used after `groupBy(bucket) → collect_list(id)`: pair
    * generation happens inside the bucket's own row — one shuffle total,
    * instead of window-count + self-join + distinct (three shuffles whose
    * intermediate rows scale with bucket occupancy squared anyway).
    */
  def sortedPairs(ids: String): org.apache.spark.sql.Column =
    expr(
      s"""flatten(transform($ids,
         |  (x, i) -> transform(slice($ids, i + 2, size($ids)),
         |            y -> struct(x AS a, y AS b))))""".stripMargin)

  /** LSH candidate pairs: signatures are cut into `bands` bands of
    * numHashes/bands rows; docs sharing any band hash become candidates; the
    * pair is kept when exact shingle-set Jaccard ≥ `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Shuffle budget (scale-critical): exactly one wide shuffle over
    * (band, bandHash, id) triples for the bucket groupBy, a distinct over the
    * surviving candidate id-pairs (tiny: bounded by maxBucket² per bucket),
    * and the verify joins — whose build side is the candidate pair list, so
    * AQE turns them into broadcasts. Shingle SETS never ride a shuffle: they
    * are recomputed per side from the pruned (id, text) scan, which at corpus
    * scale is strictly cheaper than caching + shuffling multi-KB arrays.
    */
  /** (id, band_idx, band_hash) triples for a corpus: the LSH banding stage
    * shared by [[minhashNearDups]] and [[incrementalNearDups]]. The
    * signature is bound as a lambda variable (`sig`, single-element-array
    * wrap) so the 64-hash fold evaluates once per row — referencing the
    * minhash_sig attribute inside the band lambda would inline and re-run
    * the fold once per band.
    */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               numHashes: Int, bands: Int, shingleSize: Int,
                               idAs: String): DataFrame = {
    val r = numHashes / bands
    // repartition BEFORE the signature computation so it runs across all
    // cores (a small parquet input is otherwise a single serial partition)
    val base = df.select(col(idCol), col(textCol)).repartition(col(idCol))
    // fused text→signature kernel (opt round 16): hashes gram byte-ranges
    // of lower(text) in place — bit-identical to
    // minhash_sig(shingles(text,k)) (OpsSpec pins it; min is idempotent so
    // dropping array_distinct changes nothing) and 7.4× faster at 100×
    // (9.78 → 1.33 s for the 500k-doc signature pass; OPTIMIZATION_r16.md
    // "minhash LSH family")
    base.withColumn("minhash_sig",
        graft.functions.MinHashFunctions
          .minhashSigText(col(textCol), shingleSize, numHashes))
      .select(col(idCol).as(idAs),
        posexplode(expr(
          s"""element_at(transform(array(minhash_sig),
             |  sig -> transform(sequence(0, ${bands - 1}),
             |    b -> xxhash64(b, array_join(
             |           transform(slice(sig, b * $r + 1, $r),
             |                     x -> cast(x AS STRING)), ',')))), 1)""".stripMargin))
          .as(Seq("band_idx", "band_hash")))
  }

  def minhashNearDups(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", numHashes: Int = 64,
                      bands: Int = 16, shingleSize: Int = 3,
                      threshold: Double = 0.5,
                      maxBucket: Int = 1000): DataFrame = {
    val base = df.select(col(idCol), col(textCol)).repartition(col(idCol))
    val banded = bandedSignatures(df, idCol, textCol, numHashes, bands,
      shingleSize, "mh_id")

    // one shuffle: bucket members collect into their bucket's row; buckets
    // above maxBucket drop (quadratic-blowup guard — a giant near-dup
    // cluster still surfaces through its other bands w.h.p.)
    val candidates = banded
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("mh_id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
      .select(explode(sortedPairs("ids")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

    verifyJaccard(candidates, base, idCol, textCol, shingleSize, threshold)
  }

  /** Incremental NEAR-dup: new documents whose shingle-jaccard with any
    * already-kept document reaches `threshold` — the LSH companion to
    * [[incrementalDedup]] (exact digests), i.e. the production ingest flow
    * "flag new crawl docs that near-duplicate the kept corpus". Returns
    * (new_id, kept_id, jaccard), one row per qualifying CROSS pair (within-
    * batch near-dups are [[minhashNearDups]]'s job on the new side alone).
    *
    * Scale design: both sides reduce to fixed-width signatures before
    * anything shuffles; the candidate join keys on (band, bandHash), so work
    * tracks bucket occupancy, not |new|·|kept|. The kept side's banded
    * signatures are a pure function of text — at production scale persist
    * them once and reuse across ingests instead of recomputing. `maxBucket`
    * drops kept-side hot buckets before the join (quadratic-blowup guard,
    * same contract as minhashNearDups: a pair lost with its bucket still
    * surfaces via any other matching band w.h.p.).
    */
  def incrementalNearDups(newDocs: DataFrame, existing: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          numHashes: Int = 64, bands: Int = 16,
                          shingleSize: Int = 3, threshold: Double = 0.5,
                          maxBucket: Int = 1000): DataFrame = {
    // per-side occupancy via a WINDOW count: one pass over each side's
    // bands (no second signature computation for a separate groupBy), and
    // the window's hash partitioning on the band key is exactly the join
    // key, so the candidate join reuses the exchange. A bucket hot on
    // EITHER side drops — capping only the kept side would let a templated
    // new-batch cluster explode the join just the same.
    def capped(bandsDf: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", "band_hash")
      bandsDf.withColumn("bn", count(lit(1)).over(w))
        .filter(col("bn") <= maxBucket).drop("bn")
    }
    val newBands = capped(bandedSignatures(newDocs, idCol, textCol,
      numHashes, bands, shingleSize, "new_id"))
    val keptBands = capped(bandedSignatures(existing, idCol, textCol,
      numHashes, bands, shingleSize, "kept_id"))
    val candidates = newBands.join(keptBands, Seq("band_idx", "band_hash"))
      .select("new_id", "kept_id").distinct()
    // exact verify on hashed+sorted shingles via the early-terminating
    // merge-scan kernel (8-byte longs; |A∩B| unchanged, the string-shingle
    // oracle certifies — same contract as ngramJaccardPairs)
    def hashed(df: DataFrame, as: String, sh: String) =
      df.select(col(idCol).as(as),
        sortedHashedShingles(textCol, shingleSize).as(sh))
    candidates
      .join(hashed(newDocs, "new_id", "sh_n"), "new_id")
      .join(hashed(existing, "kept_id", "sh_k"), "kept_id")
      .withColumn("jaccard", graft.functions.JaccardFunctions
        .sortedJaccardGe(col("sh_n"), col("sh_k"), threshold))
      .filter(col("jaccard").isNotNull)
      .select(col("new_id"), col("kept_id"), col("jaccard"))
  }

  /** Exact shingle-Jaccard verification of an (id_a, id_b) candidate pair
    * list: the standard second stage of every LSH candidate generator. The
    * shingle sets join only for surviving candidates (broadcast under AQE
    * when the pair list is small); shingle sets are distinct, so
    * |A∪B| = |A|+|B|−|A∩B| — one array op per pair instead of two.
    */
  private def verifyJaccard(candidates: DataFrame, base: DataFrame,
                            idCol: String, textCol: String,
                            shingleSize: Int, threshold: Double): DataFrame = {
    // hashed (8-byte longs) + sorted once per doc → early-terminating
    // merge-scan per pair (functions.SortedJaccardGe); |A∩B| unchanged by
    // hashing, certified by the string-shingle oracle
    def hs(idAs: String, shAs: String) = base.select(col(idCol).as(idAs),
      sortedHashedShingles(textCol, shingleSize).as(shAs))
    candidates.join(hs("id_a", "sh_a"), "id_a").join(hs("id_b", "sh_b"), "id_b")
      .withColumn("jaccard", graft.functions.JaccardFunctions
        .sortedJaccardGe(col("sh_a"), col("sh_b"), threshold))
      .filter(col("jaccard").isNotNull)
      .select("id_a", "id_b", "jaccard")
  }

  /** The verify-stage shingle encoding shared by every near-dup path:
    * xxhash64-hashed (8-byte longs instead of multi-byte strings) and
    * SORTED ASCENDING — the input contract of
    * [[graft.functions.SortedJaccardGe]] (sorted, duplicate-free; the
    * distinctness comes from [[shingles]]). |A∩B| is unchanged by hashing:
    * a 64-bit collision within one union is ~1e-13-improbable and
    * deterministic — certified by the exact string-shingle oracles.
    */
  private[graft] def sortedHashedShingles(textCol: String, k: Int): org.apache.spark.sql.Column =
    // fused single-pass kernel (functions.ShingleKernel) — array-identical
    // to the five-expression SQL formulation it replaces (the spec asserts
    // it), which re-materialized string arrays on every reference and was
    // 26 s/pass × up to 4 passes of d15's 95 s at the 100× rehearsal
    graft.functions.ShingleFunctions.shingleHashes(col(textCol), k)

  /** the SQL-composition reference implementation of
    * [[sortedHashedShingles]] — kept as the spec oracle proving the fused
    * kernel computes array-identical output */
  private[ops] def sortedHashedShinglesComposed(textCol: String, k: Int): org.apache.spark.sql.Column =
    array_sort(transform(shingles(textCol, k), x => xxhash64(x)))

  /** exact Jaccard over two distinct-element array columns */
  def jaccardCol(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"size(array_intersect($a, $b)) / CAST(size(array_union($a, $b)) AS DOUBLE)")

  /** n-gram Jaccard similarity for pairs grouped by a blocking key:
    * deterministic and oracle-checkable, no hashing involved. Pair count is
    * quadratic per block — choose blocking keys so blocks stay small (this is
    * the classic blocked-similarity design; unblocked all-pairs at corpus
    * scale is what MinHash LSH is for). The intersect/union sizes are
    * computed once in a projection below the threshold filter, not re-derived
    * per consumer.
    */
  /** `sizeBucketing` (default ON — the scale contract): refines the user's
    * block key with a LOSSLESS geometric shingle-count bucket. J(A,B) ≥ t
    * implies max(|A|,|B|)/min(|A|,|B|) ≤ 1/t < base, so with buckets
    * floor(log_base |S|) every qualifying pair lands in the same or an
    * adjacent bucket; each doc enters its own bucket as HOME and the bucket
    * below as GUEST, and a pair is emitted unless BOTH sides are guests —
    * same-bucket pairs arise once as home/home (their guest/guest copy one
    * bucket down is filtered), cross-bucket pairs once as home/guest in the
    * lower bucket. Output is provably identical to the unbucketed run; what
    * changes is the blocking contract at scale: a coarse user block (lang,
    * source) no longer puts all its documents in ONE quadratic pair
    * explosion — in-bucket pair counts stay bounded by the corpus's length
    * distribution as the corpus grows, and the per-task memory of the
    * collect_list group drops to O(bucket), not O(block).
    */
  /** `bigBucket`: buckets above this member count leave the collect_list
    * kernel path — whose per-task memory is O(bucket) — for a SHUFFLE-based
    * per-bucket prefix join with O(1) per-task state (the d12 machinery
    * keyed by (blk, szb, gram)). Output is identical on either path (same
    * prefix-completeness theorem, same emission rules, same verify kernel —
    * BigBlockGate `ab` mode re-certifies set-identity at rehearsal scale).
    *
    * Default 1,048,576, set by MEASUREMENT (r11 constrained-heap rehearsal,
    * tools/BigBlockGate): a 1,000,000-member single block COMPLETES on the
    * kernel path under an 8 GiB/8-thread JVM (363 s, planted-twin recall
    * 500k/500k) — the collect_list buffer of its dominant size-bucket
    * (~0.6–1 GB of hashed shingles) streams one group per task and spills
    * between groups. The routed path at the same scale is ~7× slower
    * (prefix-join shuffle constants), so routing below the measured cliff
    * trades real speed for protection that is not needed; above ~1M members
    * a single group's buffer approaches per-task memory and the hatch is
    * the difference between a routed plan and an OOM. Pass `bigBucket <= 0`
    * to disable the routing probe entirely (kernel path for every block).
    *
    * **MEMORY ASSUMPTION of the default:** the 1M-member measurement holds
    * at ≥1 GiB of heap per task slot (8 GiB / 8 threads). A deployment
    * with smaller per-task memory (many cores over a small executor heap)
    * must lower `bigBucket` proportionally — roughly
    * `heapPerTaskSlotBytes / 1024` members — or the dominant size-bucket's
    * collect_list buffer for one maximal block can exceed its task's share
    * before the sort-based aggregate's between-group spilling can help.
    *
    * EAGER-ACTION + SNAPSHOT semantics: when the probe is enabled, this
    * builder runs ONE column-pruned count job over the block keys at plan
    * BUILD time (not at execution), and the big-block routing decision is
    * frozen into the returned plan. Re-executing the returned DataFrame
    * after the source data changed reuses the stale routing — correctness
    * is unaffected (both paths emit identical pairs; routing is purely a
    * memory-shape choice), but a block that GREW past the cap since build
    * time executes on the kernel path sized for its build-time count.
    * Rebuild the plan after bulk ingests, or disable the probe and route
    * manually.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], shingleSize: Int = 3,
                        threshold: Double = 0.1,
                        sizeBucketing: Boolean = true,
                        bigBucket: Int = 1048576): DataFrame = {
    val blk = concat_ws("|", blockCols.map(col): _*)
    // One shuffle total: each block collects its (id, shingles) members and
    // emits its own ordered pairs — the same in-bucket explosion the LSH
    // paths use, which beats a blocked self-join (whose sort-merge has to
    // sort rows carrying multi-KB shingle arrays) and needs no persist: the
    // collect_list aggregation buffer is the materialization barrier that
    // keeps the per-pair intersect from re-running the shingle expression.
    // Per-task memory is O(size bucket), the documented blocking contract.
    // shingles travel HASHED (xxhash64 longs): the per-pair intersect
    // compares 8-byte longs instead of multi-byte strings and the
    // collect_list buffer shrinks ~5-10×; |A∩B| is unchanged (sets are
    // distinct; a 64-bit collision within one union is ~1e-13-improbable
    // and deterministic — certified by the exact string-shingle oracle)
    val s = df.select(blk.as("blk"), col(idCol).as("jid"),
        col(textCol).as("jtext"))
      .withColumn("sh", sortedHashedShingles("jtext", shingleSize))
      .select(col("blk"), col("jid"), col("sh"), size(col("sh")).as("sz"))
    val bucketed =
      if (sizeBucketing && threshold > 0.0 && threshold < 1.0) {
        // base is 1/t padded by 1e-6 so a pair at EXACTLY ratio t (integer
        // sizes can hit it) sits strictly inside one bucket step — floating-
        // point log can then never spread a qualifying pair two buckets apart
        val lnBase = math.log((1.0 / threshold) * (1.0 + 1e-6))
        // home + guest copies come from ONE explode over the already-computed
        // (sh, sz) row — not a union, which would scan (and re-shingle) the
        // source twice. Guests from bucket 0 would land in a homeless bucket
        // −1 (every pair there is guest/guest, filtered) — not generated.
        s.withColumn("szb0",
            floor(log(greatest(col("sz"), lit(1)).cast("double")) / lnBase).cast("int"))
          .select(col("blk"), col("jid"), col("sh"), col("sz"),
            explode(when(col("szb0") >= 1, array(
                struct(col("szb0").as("szb"), lit(false).as("guest")),
                struct((col("szb0") - 1).as("szb"), lit(true).as("guest"))))
              .otherwise(array(
                struct(col("szb0").as("szb"), lit(false).as("guest"))))).as("bg"))
          .select(col("blk"), col("bg.szb").as("szb"),
            col("jid"), col("sh"), col("sz"), col("bg.guest").as("guest"))
      } else s.withColumn("szb", lit(0)).withColumn("guest", lit(false))
    // Route OVERSIZED user blocks away from the collect_list kernel BEFORE
    // building the plan: a one-job, column-pruned count over the block key
    // (no text read, no shingling) finds blocks that could overflow the
    // kernel's O(bucket) aggregation buffer — a single group's buffer never
    // spills, so an extreme block is a hard OOM cliff, not a slowdown. The
    // common case (every block under the cut) keeps EXACTLY the single
    // kernel-path plan: the first cut of this routing used an in-plan
    // window over (blk, szb) + union, and the consumed wire plan re-derived
    // the whole shingle pipeline 4–6× (no exchange reuse across rebuilt
    // branches) — 3× the operator cost at gated scales for a path that
    // only matters at extreme ones. A block count is an upper bound spread
    // over its size-buckets (home+guest ≤ 2× membership), hence the /2.
    // Plan-build-time count precedent: d05's corpusSizeHint.
    val bigBlks: Seq[String] =
      if (bigBucket <= 0 ||
          !(sizeBucketing && threshold > 0.0 && threshold < 1.0)) Nil
      else df.select(blk.as("blk")).groupBy("blk").agg(count(lit(1)).as("m"))
        .filter(col("m") > bigBucket / 2)
        .collect().map(_.getString(0)).toSeq
    def kernelPairs(in: DataFrame): DataFrame = in
      .select(col("blk"), col("szb"),
        struct(col("jid"), col("sh"), col("sz"), col("guest")).as("it"))
      .groupBy("blk", "szb")
      // sort by id (the struct's first field) so pairs come out id_a < id_b
      .agg(sort_array(collect_list(col("it"))).as("items"))
      // each bucket emits its qualifying pairs from ONE codegen'd kernel
      // call (functions.BucketJaccardPairs): guest/guest exclusion,
      // size-ratio prefilter and the early-terminating merge-scan verify
      // exactly as the former SQL tail, but candidate generation switches
      // from the m²/2 in-bucket combination stream to an IN-TASK
      // rarest-first prefix-filter index once a bucket passes 64 members —
      // the quadratic term that turned linear growth inside a fixed
      // (lang, source, size-bucket) key into segment α ≈ 1.6–2.0 at the
      // 100× rehearsal
      .select(col("blk"), explode(graft.functions.JaccardFunctions
        .bucketJaccardPairs(col("items"), threshold)).as("p"))
      .select(col("blk"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        round(col("p.jaccard"), 6).as("jaccard"))
    if (bigBlks.isEmpty) kernelPairs(bucketed)
    else {
      // Shuffle path for the oversized blocks: the SAME prefix-filter
      // construction expressed relationally — per-bucket gram frequencies,
      // rarest-first per-doc prefixes, candidates from a
      // (blk, szb, gram)-keyed self-join, the identical emission rules,
      // and the verify joining each doc's sorted shingles back onto
      // surviving candidates. Wide shuffles carry 8-byte grams and bare id
      // pairs; O(1) per-task state. A qualifying pair still surfaces in
      // exactly ONE bucket (the home/guest exactly-once rule is
      // bucket-local), so no cross-path dedup is needed beyond the
      // per-block candidate distinct.
      val big = bucketed.filter(col("blk").isin(bigBlks: _*))
      val ex = big.select(col("blk"), col("szb"), col("jid"), col("sz"),
        col("guest"), explode(col("sh")).as("gram"))
      val freq = ex.groupBy("blk", "szb", "gram")
        .agg(count(lit(1)).as("freq"))
      // per-doc prefix: sz − ⌈t·sz⌉ + 1 rarest grams in the bucket's own
      // (freq, gram) total order — the same formula and slack as the
      // kernel and prefixFilterJaccardPairs
      val prefLen = (col("sz") -
        ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
      val pref = ex.join(freq, Seq("blk", "szb", "gram"))
        .groupBy("blk", "szb", "jid", "sz", "guest")
        .agg(array_sort(collect_list(struct(col("freq"), col("gram"))))
          .as("ord"))
        .select(col("blk"), col("szb"), col("jid"), col("sz"), col("guest"),
          explode(slice(transform(col("ord"), x => x.getField("gram")),
            lit(1), prefLen)).as("gram"))
      val cand = pref.select(col("blk"), col("szb"), col("gram"),
          col("jid").as("id_a"), col("sz").as("sz_a"), col("guest").as("g_a"))
        .join(pref.select(col("blk"), col("szb"), col("gram"),
          col("jid").as("id_b"), col("sz").as("sz_b"), col("guest").as("g_b")),
          Seq("blk", "szb", "gram"))
        .filter(col("id_a") < col("id_b"))
        .filter(!(col("g_a") && col("g_b")))
        .filter(least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= threshold)
        .select("blk", "id_a", "id_b").distinct()
      val g = s.filter(col("blk").isin(bigBlks: _*))
        .select(col("jid"), col("sh"))
      val bigPairs = cand
        .join(g.select(col("jid").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(g.select(col("jid").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("blk"), col("id_a"), col("id_b"),
          graft.functions.JaccardFunctions
            .sortedJaccardGe(col("sh_a"), col("sh_b"), threshold).as("jac"))
        .filter(col("jac").isNotNull)
        .select(col("blk"), col("id_a"), col("id_b"),
          round(col("jac"), 6).as("jaccard"))
      kernelPairs(bucketed.filter(!col("blk").isin(bigBlks: _*)))
        .unionAll(bigPairs)
    }
  }

  /** EXACT all-pairs Jaccard join via prefix filtering (Chaudhuri/Bayardo
    * AllPairs / PPJoin family) — the deterministic complement to MinHash
    * LSH: no blocking key, no probabilistic recall, provably complete.
    *
    * Principle: put every doc's distinct shingles in ONE global canonical
    * order (rarest-first by corpus frequency, ties by hash value); a pair
    * with J ≥ t must share at least ⌈t·max(|a|,|b|)⌉ shingles, and two
    * sorted sets with overlap ≥ α always intersect within their first
    * (|x| − α + 1) elements — so joining only on each doc's PREFIX
    * (|x| − ⌈t·|x|⌉ + 1 rarest shingles, a superset of the required
    * prefix) generates every qualifying pair. The exact verify
    * (sorted_jaccard_ge kernel) then removes false positives.
    *
    * Scale notes (100 TB): all wide shuffles move 8-byte hashed grams or
    * bare id pairs — shingle ARRAYS only travel in the final verify join
    * of surviving candidates. Candidate volume is governed by prefix
    * selectivity: rarest-first ordering puts each doc's least common
    * grams in its prefix, so hot grams (stopword shingles) never
    * generate pairs unless a doc is mostly made of them. Higher
    * thresholds shrink prefixes linearly ((1−t)·|x| + 1). A hot rare-ish
    * gram is an AQE skew-join key like any other.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int = 3,
                               threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0,1)")
    val docs = df.select(col(idCol).as("jid"), col(textCol).as("jtext"))
      .withColumn("sh", sortedHashedShingles("jtext", shingleSize))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val freq = docs.select(explode(col("sh")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("freq"))
    // per-doc prefix: grams in (freq, gram) order, first sz − ⌈t·sz⌉ + 1.
    // The 1e-9 slack keeps a float ⌈t·sz⌉ from rounding UP past the exact
    // value (a too-short prefix loses the completeness guarantee; one gram
    // longer is merely a few extra candidates).
    // Shape note (r11): the window-count freq that won d15 a 2× at 100×
    // was MEASURED SLOWER here (97 → 113 s) — this operator's candidate
    // join is a SELF-join of the prefix subtree, which Spark already
    // de-duplicates via ReuseExchange, so the window only added its
    // gram-partition sort without removing a derivation
    val prefLen = (col("sz") -
      ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
    // prefix construction stays collect_list+slice (hash agg): the
    // row_number-window alternative was A/B'd at 100× in r11 — faster at
    // 32 threads (60.9 vs 84.7 s) but SLOWER at 8 threads (72.8 vs
    // 53.8 s), and 8-thread-per-heap is the production executor shape the
    // constrained-heap rehearsal certifies; the window's jid-partition
    // sort pays more than the array build saves when per-thread memory is
    // real
    val pref = docs.select(col("jid"), col("sz"), explode(col("sh")).as("gram"))
      .join(freq, "gram")
      .groupBy("jid", "sz")
      .agg(array_sort(collect_list(struct(col("freq"), col("gram")))).as("ord"))
      .select(col("jid"), col("sz"),
        posexplode(slice(transform(col("ord"), s => s.getField("gram")),
          lit(1), prefLen)).as(Seq("p", "gram")))
    val cand = pref.select(col("gram"), col("jid").as("id_a"),
        col("sz").as("sz_a"), col("p").as("p_a"))
      .join(pref.select(col("gram"), col("jid").as("id_b"),
        col("sz").as("sz_b"), col("p").as("p_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      // size-ratio prefilter: J ≤ min/max, so failing pairs never qualify
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      // PPJoin positional filter (Xiao et al. 2008; opt round 15): both
      // arrays carry the SAME global rarest-first order, so a pair's
      // matching grams appear in the same relative order on both sides
      // and its FIRST prefix match minimizes both positions. For the
      // first match at (p_a, p_b) no common gram precedes it in either
      // array, so overlap ≤ 1 + min(sz_a−p_a−1, sz_b−p_b−1); J ≥ t needs
      // overlap ≥ t/(1+t)·(sz_a+sz_b). Applied per occurrence BEFORE the
      // distinct: the bound shrinks as positions grow, so a pair passes
      // via some occurrence iff its first-match (maximal) bound passes —
      // the surviving pair set is exactly the first-match-filtered one,
      // and completeness is untouched (only provably-below-threshold
      // pairs drop). At 100× this prunes the verify stream 31.0M →
      // 12.5M candidates (round 15; OPTIMIZATION_r16.md
      // "d15_containment_pairs" carries the same bound to containment) —
      // the verify joins ship shingle ARRAYS, so every pruned candidate
      // saves ~1.5 KB of shuffle.
      .filter((lit(1) + least(col("sz_a") - col("p_a") - 1,
          col("sz_b") - col("p_b") - 1)).cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) -
          lit(1e-9))
      .select("id_a", "id_b").distinct()
    val g = docs.select(col("jid"), col("sh"))
    cand
      .join(g.select(col("jid").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(g.select(col("jid").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardFunctions
          .sortedJaccardGe(col("sh_a"), col("sh_b"), threshold).as("jac"))
      .filter(col("jac").isNotNull)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** EXACT all-pairs shingle CONTAINMENT |A∩B|/|A| ≥ t — near-SUPERSET
    * detection: "doc B is doc A plus extra content", which symmetric
    * jaccard misses as soon as the extension outweighs the shared core
    * (jaccard(A, A∪X) = |A|/|A∪X| → 0 while containment stays 1). The
    * quote/boilerplate/version-extension case of the dedup family.
    * Output rows are DIRECTED: (id_a, id_b, containment) = how much of
    * A lives inside B.
    *
    * Prefix filter (AllPairs adapted to containment): if |A∩B| ≥ t·|A|,
    * at most (1−t)·|A| of A's grams miss B, so A's rarest-first prefix of
    * ⌊(1−t)·|A|⌋+1 grams must share a gram with B — candidates join A's
    * PREFIX against B's FULL gram set (the probe index; at corpus scale an
    * inverted index keyed by gram). The size filter |B| ≥ t·|A| prunes
    * impossible pairs before the verify. Wide shuffles carry 8-byte grams
    * and bare ids; shingle arrays re-join only for surviving candidates,
    * verified by the early-terminating [[graft.functions.SortedContainmentGe]]
    * kernel.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val docs = df.select(col(idCol).as("jid"), col(textCol).as("jtext"))
      .withColumn("sh", sortedHashedShingles("jtext", shingleSize))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    // A-side prefix: ⌊(1−t)·sz⌋ + 1 rarest grams (1e-9 slack so a float
    // floor never rounds DOWN past the exact value — one gram short loses
    // completeness, one long is a few extra candidates)
    val prefLen = (floor(lit(1.0 - threshold) * col("sz") + lit(1e-9))
      .cast("int") + 1)
    // window-count document frequency on the single gram explosion (see
    // prefixFilterJaccardPairs — same wire-plan re-derivation economics)
    val grams = docs.select(col("jid"), col("sz"), explode(col("sh")).as("gram"))
    val gramsF = grams.withColumn("freq", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("gram")))
    // BOTH join sides now derive from ONE posexploded rarest-first stream
    // (opt round 16): the prefix side is a position filter over it, and the
    // index side carries its positions too, enabling the PPJoin positional
    // bound below (Xiao et al. 2008, the d12 trick adapted to containment).
    // Spark's ReuseExchange computes the ordered subtree once for both
    // sides — the old shape exploded the raw gram stream a second way.
    val ordered = gramsF
      .groupBy("jid", "sz")
      .agg(array_sort(collect_list(struct(col("freq"), col("gram")))).as("ord"))
      .select(col("jid"), col("sz"),
        posexplode(transform(col("ord"), s => s.getField("gram")))
          .as(Seq("p", "gram")))
    val pref = ordered.filter(col("p") < prefLen)
    val allGrams = ordered.select(col("jid").as("id_b"), col("sz").as("sz_b"),
      col("p").as("p_b"), col("gram"))
    val cand = pref.select(col("gram"), col("jid").as("id_a"),
        col("sz").as("sz_a"), col("p").as("p_a"))
      .join(allGrams, "gram")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("sz_b").cast("double") >= lit(threshold) * col("sz_a"))
      // Positional filter: both sides enumerate in the SAME global
      // rarest-first order, so a pair's first shared gram minimizes both
      // positions (a shared gram before p_b in B would sit before p_a in A,
      // i.e. inside A's prefix — an earlier occurrence, contradiction).
      // At that occurrence no shared gram precedes it on either side, so
      // |A∩B| ≤ 1 + min(sz_a−p_a−1, sz_b−p_b−1); containment ≥ t needs
      // |A∩B| ≥ t·sz_a. The bound is maximal at the first match and only
      // shrinks for later occurrences, so filtering per occurrence BEFORE
      // the distinct keeps a pair iff its first-match bound passes —
      // completeness untouched, only provably-below-threshold pairs drop
      // before the distinct exchange and the array-shipping verify joins.
      .filter((lit(1) + least(col("sz_a") - col("p_a") - 1,
          col("sz_b") - col("p_b") - 1)).cast("double") >=
        lit(threshold) * col("sz_a") - lit(1e-9))
      .select("id_a", "id_b").distinct()
    val g = docs.select(col("jid"), col("sh"))
    cand
      .join(g.select(col("jid").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(g.select(col("jid").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardFunctions
          .sortedContainmentGe(col("sh_a"), col("sh_b"), threshold).as("c"))
      .filter(col("c").isNotNull)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("containment"))
  }

  /** Exact duplicate-SPAN detection (the Lee et al. 2022 "Deduplicating
    * Training Data" operator): two documents are flagged when they share
    * any exact, contiguous `spanTokens`-token substring — the
    * boilerplate/quotation/mirror-page signal that SET-based similarity
    * (jaccard over shingles) dilutes away once the shared span is a small
    * fraction of both documents. Returns (id_a, id_b, n_shared_spans):
    * the number of distinct span values the pair shares.
    *
    * Overlapping stride-1 token windows hash to 8-byte digests
    * (per-doc-distinct); docs sharing a digest pair up through one
    * bucket-grouped shuffle of bare (digest, id) rows — text never
    * shuffles, candidate volume ∝ true shared-span density, and a hot
    * boilerplate span is capped by `maxBucket` like every other bucketed
    * pair generator here.
    */
  def sharedSpanPairs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", spanTokens: Int = 20,
                      maxBucket: Int = 10000,
                      onOverflow: String = "drop"): DataFrame = {
    require(onOverflow == "drop" || onOverflow == "fail",
      s"onOverflow must be 'drop' or 'fail', got '$onOverflow'")
    // span hashes via the fused shingle kernel (opt round 16): a stride-1
    // spanTokens-token window IS a word k-gram, so shingle_hashes(text, k)
    // produces exactly the distinct xxhash64 values the old per-window
    // array_join/transform string construction built (sorted — irrelevant,
    // the groupBy keys on the value), with zero window-string allocation:
    // 8.57 → 1.14 s for the 100× span explosion (OPTIMIZATION_r16.md
    // "d16_shared_spans"; identity check: same count + decimal hash sum
    // on both paths)
    val spans = df.select(col(idCol).as("sid"),
      explode(graft.functions.ShingleFunctions
        .shingleHashes(col(textCol), spanTokens)).as("wh"))
    val grouped = spans.groupBy("wh")
      .agg(sort_array(collect_list(col("sid"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    // 'drop' (prod): a hot boilerplate span above the cap is discarded
    // before pair explosion — the quadratic-blowup guard every bucketed
    // pair generator here shares. 'fail' (certification): the same
    // condition raises instead, proving the cap-free oracle and the
    // capped engine computed over identical buckets.
    val capped =
      if (onOverflow == "fail")
        grouped.withColumn("ids",
          when(size(col("ids")) > maxBucket, raise_error(concat(
            lit(s"sharedSpanPairs: span bucket > maxBucket=$maxBucket at digest "),
            col("wh").cast("string")))).otherwise(col("ids")))
      else grouped.filter(size(col("ids")) <= maxBucket)
    capped
      .select(explode(sortedPairs("ids")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  /** 64-bit SimHash fingerprint via the codegen'd single-pass kernel
    * (graft.functions.SimHash64): per token, hash bits vote +1/−1 per
    * position; fingerprint bit b is set when the vote is positive.
    */
  def simhash64(df: DataFrame, textCol: String = "text"): DataFrame =
    // fused text→fingerprint kernel (opt round 16): per-token byte-range
    // hashing, bit-identical to simhash64(split(lower(text), ' ')) (OpsSpec
    // pins it) — fingerprint pass 10.1 → 1.7 s at 100× (OPTIMIZATION_r16.md
    // "d03b_simhash_prod")
    df.withColumn("simhash",
      graft.functions.MinHashFunctions.simhash64Text(col(textCol)))

  /** Near-duplicate pairs by SimHash hamming distance ≤ maxHamming: pigeonhole
    * candidate generation — the 64-bit fingerprint splits into `numChunks`
    * equal chunks, and any pair with hamming < numChunks must agree on at
    * least one chunk exactly, so candidates come from numChunks cheap
    * equi-buckets, then bit_count verifies. Returns (id_a, id_b, hamming).
    * The recall guarantee is exact for hamming ≤ numChunks − 1; beyond that
    * detection is probabilistic (a matching chunk must exist by luck).
    */
  /** `maxBucket` caps (chunk, value) collision groups: a bucket above the
    * cap is dropped before pair explosion (quadratic-blowup guard — short
    * chunk values over a web-scale corpus WILL have hot values). A pair lost
    * with its bucket still surfaces through any other chunk that matches;
    * only pairs whose sole matching chunk was the hot one are sacrificed.
    */
  def simhashNearDups(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      maxHamming: Int = 3,
                      maxBucket: Int = 10000,
                      numChunks: Int = 4): DataFrame = {
    require(64 % numChunks == 0, s"numChunks must divide 64, got $numChunks")
    val chunkBits = 64 / numChunks
    val mask = (1L << chunkBits) - 1
    // parallelize the fingerprint fold across cores; the fingerprint is bound
    // as a lambda variable (array-wrap) and carried through the chunk structs,
    // so the fold runs exactly once per row with no cache barrier needed
    val fp = simhash64(
        df.select(col(idCol), col(textCol)).repartition(col(idCol)), textCol)
      .select(col(idCol).as("sh_id"), col("simhash"))
    val chunked = fp.select(col("sh_id"),
      posexplode(expr(
        s"""element_at(transform(array(simhash),
           |  s -> transform(sequence(0, ${numChunks - 1}),
           |    c -> struct(shiftright(s, c * $chunkBits) & $mask AS chunk_val,
           |                s AS simhash))), 1)""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("sh_id"), col("chunk_idx"),
        col("chunk.chunk_val").as("chunk_val"),
        col("chunk.simhash").as("simhash"))
    // one shuffle: each (chunk, value) bucket collects its (id, fingerprint)
    // members — 10 bytes each — and emits its own pairs; the fingerprints
    // travel WITH the pair, so no verify join is needed at all. The final
    // distinct dedups pairs that collide in several chunks (≤ 4 copies).
    chunked
      .groupBy("chunk_idx", "chunk_val")
      .agg(sort_array(collect_list(struct(col("sh_id"), col("simhash"))))
        .as("members"))
      .filter(size(col("members")) >= 2 && size(col("members")) <= maxBucket)
      .select(explode(sortedPairs("members")).as("p"))
      .select(col("p.a.sh_id").as("id_a"), col("p.b.sh_id").as("id_b"),
        expr("bit_count(p.a.simhash ^ p.b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash candidate generation + exact shingle-Jaccard verification: the
    * production near-dup flow where SimHash chunks are the cheap recall stage
    * and Jaccard is the precision stage. With `numChunks` chunks, every pair
    * at hamming ≤ numChunks − 1 is GUARANTEED to surface (pigeonhole), so
    * choosing numChunks above the corpus's worst near-dup hamming makes the
    * output exactly the Jaccard-threshold ground-truth set — which is what
    * lets an exact all-pairs oracle certify this hash-based path.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * SimHash's niche is HIGH-similarity detection (near-identical documents):
    * at moderate thresholds the hamming radius needed for full recall makes
    * nearly every pair a candidate (measured: radius 15 of 64 admits ~40% of
    * all pairs on a web-ish corpus — the index adds nothing; that regime
    * belongs to MinHash banding, `minhashNearDups`). Keep the threshold high
    * and the chunk count low. A maxHamming above numChunks − 1 weakens the
    * pigeonhole guarantee into a measured property — legitimate when the
    * corpus's threshold-qualifying pairs are verified to share a chunk (the
    * oracle certifies exactly that).
    *
    * Scale design: candidates never carry payloads — pair generation streams
    * (id, fingerprint, set-size) triples (26 bytes) through a SALTED
    * self-join (hot buckets from biased chunks would otherwise explode
    * quadratically inside one task), the hamming cut and size-ratio bound
    * run as codegen'd ALU filters on that stream, and only surviving pairs
    * reach the shingle-set verify join (hashed 8-byte shingles, AQE
    * broadcasts the doc-keyed side at these scales).
    */
  def simhashVerifiedNearDups(df: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text",
                              threshold: Double = 0.9,
                              numChunks: Int = 8,
                              maxHamming: Int = 7,
                              maxBucket: Int = 10000,
                              shingleSize: Int = 3): DataFrame = {
    require(64 % numChunks == 0, s"numChunks must divide 64, got $numChunks")
    val chunkBits = 64 / numChunks
    val mask = (1L << chunkBits) - 1
    // pair generation carries ONLY (id, fingerprint, set size) — 26 bytes —
    // never shingle payloads: with fine chunks the in-bucket pair stream is
    // tens of millions of rows, and materializing multi-KB arrays per
    // generated pair is ~100 GB of copy churn (the measured 137 s trap).
    // Shingle sets join back AFTER the cheap filters, against a doc-keyed
    // table AQE broadcasts at these scales.
    val base = df.select(col(idCol), col(textCol)).repartition(col(idCol))
    // sz via the fused hashed-shingle kernel (opt round 16): same count as
    // size(shingles(...)) — distinctness is preserved under hashing modulo
    // the documented ~1e-13 64-bit collision tolerance every hashed-shingle
    // oracle already carries — without materializing the gram-string array
    // a second way (the composed fingerprint pass read 10.1 s at 100× vs
    // 1.7 s fused, OPTIMIZATION_r16.md "d03b_simhash_prod")
    val fp = simhash64(base, textCol)
      .withColumn("sz", size(sortedHashedShingles(textCol, shingleSize)))
      .select(col(idCol).as("sv_id"), col("simhash"), col("sz"))
    val chunked = fp.select(
      posexplode(expr(
        s"""element_at(transform(array(simhash),
           |  s -> transform(sequence(0, ${numChunks - 1}),
           |    c -> shiftright(s, c * $chunkBits) & $mask)), 1)""".stripMargin))
        .as(Seq("chunk_idx", "chunk_val")),
      struct(col("sv_id"), col("simhash"), col("sz")).as("it"))
    // fine chunks make HOT buckets a certainty (a biased 4-bit chunk can
    // hold most of the corpus), and collect_list pair generation would run
    // a hot bucket's quadratic explosion in ONE task (measured: a 4.2k-doc
    // bucket = 8.6M pairs serially). Instead pairs come from a SALTED
    // self-join: the probe side keeps its id-hash salt, the build side
    // replicates across all $pairSalts salts, so each hot bucket's pair
    // stream spreads over pairSalts parallel tasks while every unordered
    // pair still arises exactly once per matching chunk.
    val pairSalts = 16
    val bucketSizes = chunked.groupBy("chunk_idx", "chunk_val")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBucket)
    val inBuckets = chunked.join(broadcast(bucketSizes.select("chunk_idx", "chunk_val")),
      Seq("chunk_idx", "chunk_val"))
    // the probe stream is BYTES-tiny (26 B/row) but CPU-heavy downstream
    // (pair generation + hamming + verify), so AQE's byte-based coalescing
    // would fuse it into ONE serial task (measured: the whole sf0.1 pipeline
    // in a single 13 s task). An explicit numbered repartition on the join
    // keys pins the pair stage at cluster parallelism — REPARTITION_BY_NUM
    // is exempt from AQE coalescing, and hashing on the exact join keys
    // means no further exchange is ever needed for this join.
    val pairPar = df.sparkSession.sparkContext.defaultParallelism
    val probe = inBuckets.select(col("chunk_idx"), col("chunk_val"),
        pmod(xxhash64(col("it.sv_id")), lit(pairSalts)).as("salt"), col("it").as("x"))
      .repartition(pairPar, col("chunk_idx"), col("chunk_val"), col("salt"))
    val build = inBuckets.select(col("chunk_idx"), col("chunk_val"),
      explode(expr(s"sequence(0, ${pairSalts - 1})")).as("salt"), col("it").as("y"))
    val candidates = probe.join(build, Seq("chunk_idx", "chunk_val", "salt"))
      .filter(col("x.sv_id") < col("y.sv_id"))
      .filter(expr(s"bit_count(x.simhash ^ y.simhash) <= $maxHamming"))
      // a hamming-h pair matches ~numChunks·(1−1/numChunks)^h chunks; keep
      // it ONLY in its first matching chunk — each surviving pair is emitted
      // exactly once, so no cross-chunk distinct is needed and the verify
      // join handles each unique pair once. zmap = bitmap of zero (matching)
      // chunks of the xor; lowest set bit picks the first match — pure
      // codegen'd ALU ops (no per-pair lambda/alloc; the classic
      // subtract-borrow nibble hack would overflow under ANSI arithmetic)
      .withColumn("xorfp", expr("x.simhash ^ y.simhash"))
      .withColumn("zmap", expr(
        (0 until numChunks).map(c =>
          s"(CASE WHEN (shiftright(xorfp, ${c * chunkBits}) & $mask) = 0 " +
            s"THEN ${1L << c}L ELSE 0L END)").mkString(" + ")))
      .filter(expr("(zmap & -zmap) = shiftleft(1L, chunk_idx)"))
      // J(A,B) ≤ min/max sizes: threshold-failing pairs skip the verify
      .filter(least(col("x.sz"), col("y.sz")).cast("double") /
        greatest(col("x.sz"), col("y.sz")) >= threshold)
      .select(col("x.sv_id").as("id_a"), col("y.sv_id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
    // exact verify on survivors; shingles travel HASHED (xxhash64 longs)
    // and SORTED once per document: the per-pair check is then the
    // early-terminating sorted merge-scan (functions.SortedJaccardGe) —
    // zero allocation, bails as soon as the jaccard upper bound falls
    // below the threshold, which for the ~99.9% non-matching candidates is
    // within a few elements. |A∩B| is unchanged by hashing (sets are
    // distinct; a 64-bit collision within one union is ~1e-13-improbable
    // and deterministic — certified by the oracle)
    val hashedShingles = base.select(col(idCol),
      sortedHashedShingles(textCol, shingleSize).as("sh"))
    val sa = hashedShingles.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val sb = hashedShingles.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", graft.functions.JaccardFunctions
        .sortedJaccardGe(col("sh_a"), col("sh_b"), threshold))
      .filter(col("jaccard").isNotNull)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fuzzy near-duplicates by BOUNDED EDIT DISTANCE — the dedup modality
    * for short keyed fields (titles, questions, URLs, headers) where token
    * Jaccard is too coarse: `levenshtein(a, b) ≤ maxDist` is the match
    * predicate, computed with Spark's built-in threshold-bounded
    * levenshtein (O(maxDist·min(|a|,|b|)) per pair with early exit, not
    * O(|a|·|b|)).
    *
    * Completeness without an all-pairs scan — the PassJoin pigeonhole
    * (Li/Deng/Feng, ICDE'11): partition every string into k+1 contiguous
    * chunks by a fixed rule of its length (base = L div (k+1); the first
    * L mod (k+1) chunks get one extra char). An edit script of ≤ k
    * operations touches at most k chunks, so any pair within distance k
    * shares at least one chunk VERBATIM, and that chunk's position shifts
    * by at most the number of indels before it (≤ k). The build side
    * indexes its own k+1 chunks; the probe side emits, for every candidate
    * partner length L' ∈ [L−k, L+k] and chunk index i, the substrings of
    * itself at the rule's (i, L') start ± k — (2k+1)²·(k+1) ≈ 75 cheap
    * narrow keys per row at k=2, joined on (block, i, L', chunk-hash).
    * Candidates dedup on the id pair, then the exact verify decides.
    *
    * Scale: the previous length-bucket scheme was quadratic whenever keys
    * shared one length (fixed-width prefixes: EVERYTHING in one bucket —
    * measured α 1.86 at a 10× rehearsal, 76 s). Chunk keys make candidate
    * volume content-bounded like d12's prefix filter: random non-matching
    * strings almost never share an exact ~L/(k+1)-gram at an aligned
    * position (same rehearsal: 4.6 s, α 0.64). Chunks travel as xxhash64
    * longs, never text; a spurious hash-collision candidate is erased by
    * the exact verify. The verify is Spark's threshold-bounded
    * levenshtein, which returns −1 past maxDist — filter on the SIGN,
    * never `≤ maxDist`.
    *
    * Contract: `0 ≤ maxDist ≤ 8`. The probe side enumerates
    * (2k+1)²·(k+1) candidate keys per row — 25 at k=1, 75 at k=2, 2,601 at
    * k=8 — so the cap bounds candidate volume, not string length. (Earlier
    * rounds accepted up to 64, where the blowup reaches ~1.1M keys/row;
    * the cap was tightened in r12.) For larger distances use the token-
    * level operators (d04/d12) whose candidate volume is content-bounded.
    */
  def editDistanceNearDups(df: DataFrame, idCol: String = "doc_id",
                           strCol: String = "key",
                           blockCols: Seq[String] = Seq("lang", "source"),
                           maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0 && maxDist <= 8,
      s"editDistanceNearDups maxDist out of range: $maxDist (cap is 8: the " +
        s"PassJoin probe enumerates (2k+1)^2*(k+1) candidate keys per row, " +
        s"which at k=$maxDist would be " +
        s"${(2L*maxDist+1)*(2L*maxDist+1)*(maxDist+1)}; use the token-level " +
        "near-dup operators for coarser matching)")
    val k = maxDist
    val nseg = k + 1
    val blk = if (blockCols.isEmpty) lit("") else concat_ws("|", blockCols.map(col): _*)
    val base = df.select(blk.as("eblk"), col(idCol).as("eid"),
        col(strCol).as("ekey"))
      .withColumn("elen", length(col("ekey")))
    // chunk start (0-based) and length for index i under the fixed rule,
    // as SQL fragments over a length expression
    def segStart(lenSql: String, iSql: String) =
      s"$iSql * (($lenSql) div $nseg) + least($iSql, ($lenSql) % $nseg)"
    def segLen(lenSql: String, iSql: String) =
      s"(($lenSql) div $nseg) + if($iSql < ($lenSql) % $nseg, 1, 0)"
    // build side: one row per own chunk, keyed (blk, i, own length, hash)
    val build = base.select(col("eblk"), col("eid").as("id_r"),
        col("ekey").as("key_r"), col("elen").as("len_r"),
        posexplode(expr(
          s"""transform(sequence(0, $k), i ->
             |  xxhash64(substring(ekey, ${segStart("elen", "i")} + 1,
             |                     ${segLen("elen", "i")})))""".stripMargin))
          .as(Seq("seg_i", "seg_h")))
    // probe side: for every partner length lb in [elen−k, elen+k] and
    // chunk index i, the substrings of this key at the rule's start ± k
    // (clamped; sequence() is guarded against inverted bounds — Spark's
    // sequence(hi, lo) would otherwise generate a DESCENDING range)
    // branch-free enumeration over the static (dl, i, shift) index space —
    // (2k+1)²(k+1) combos decoded from one sequence(), invalid ones dropped
    // by a filter() on runtime bounds (no empty-array literals: a typed
    // NullType array() would not encode on the wire)
    val nIdx = (2 * k + 1) * (2 * k + 1) * (k + 1)
    val probe = base.select(col("eblk"), col("eid").as("id_l"),
        col("ekey").as("key_l"), col("elen").as("len_l"),
        explode(expr(
          s"""transform(
             |  filter(
             |    transform(sequence(0, ${nIdx - 1}), z -> named_struct(
             |      'seg_i', cast((z div ${2 * k + 1}) % ${k + 1} AS INT),
             |      'lb', cast(elen + (z div ${(k + 1) * (2 * k + 1)}) - $k AS INT),
             |      'sh', cast(z % ${2 * k + 1} - $k AS INT))),
             |    c -> c.lb >= 0
             |      AND ${segStart("c.lb", "c.seg_i")} + c.sh >= 0
             |      AND ${segStart("c.lb", "c.seg_i")} + c.sh
             |            <= elen - ${segLen("c.lb", "c.seg_i")}),
             |  c -> named_struct('seg_i', c.seg_i, 'lb', c.lb,
             |    'seg_h', xxhash64(substring(ekey,
             |      ${segStart("c.lb", "c.seg_i")} + c.sh + 1,
             |      ${segLen("c.lb", "c.seg_i")}))))""".stripMargin))
          .as("pr"))
      .select(col("eblk"), col("id_l"), col("key_l"), col("len_l"),
        col("pr.seg_i").as("seg_i"), col("pr.lb").as("len_r"),
        col("pr.seg_h").as("seg_h"))
    probe.join(build, Seq("eblk", "seg_i", "len_r", "seg_h"))
      .filter(col("id_l") < col("id_r"))
      .select(col("id_l").as("id_a"), col("id_r").as("id_b"),
        col("key_l").as("key_a"), col("key_r").as("key_b"))
      .distinct()
      .withColumn("dist", expr(s"levenshtein(key_a, key_b, $k)"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Embedding-cosine near-duplicates via multi-table sign-LSH bucketing +
    * exact cosine verify; see Similarity.scala for the primitives.
    * `corpusSizeHint` sizes the LSH plane count without an extra corpus pass. */
  def embeddingNearDups(df: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        threshold: Double = 0.35,
                        corpusSizeHint: Long = 0L): DataFrame =
    Similarity.lshNearDups(df, idCol, vecCol, threshold,
      corpusSizeHint = corpusSizeHint)

  /** Connected components over an undirected pair list — the step that turns
    * pairwise near-dup output (d02-d05) into "keep one document per cluster".
    * Returns (node, cluster_id) for every node that appears in a pair, where
    * cluster_id = the smallest node id reachable from it.
    *
    * Algorithm: iterated min-label propagation AUGMENTED with label-pointer
    * edges (node ↔ current label), which gives pointer-doubling behavior —
    * a chain of length d converges in O(log d) rounds, not O(d) — so the
    * round count stays single-digit at any realistic cluster diameter.
    * Labels only decrease, so the fixpoint test (sum of labels unchanged,
    * accumulated as DECIMAL — overflow-safe at any node count) is exact.
    * Each round is one groupBy shuffle over the edge list; only (long,
    * long) pairs ever shuffle or persist. At cluster scale, set a reliable
    * checkpoint dir and swap localCheckpoint for checkpoint to survive
    * executor loss across rounds.
    */
  /** `checkpointDir`: when set, label generations (and the edge list) use
    * RELIABLE `checkpoint` into that directory instead of `localCheckpoint` —
    * the production setting: localCheckpoint pins blocks to executors, so one
    * lost executor kills the lineage-truncated frame mid-iteration; a
    * reliable checkpoint survives executor loss.
    *
    * `stepThroughWire`: when set, the WHOLE fixpoint — init labels,
    * double-hop body plan, round bound, multiset-fixpoint early exit —
    * ships as ONE `Rel.ExtIteration` wire artifact and the consumer runs
    * the loop (round 10). Composes with `checkpointDir`: setting it
    * configures the context's checkpoint dir, which the consumer's
    * iteration loop honors by materializing rounds with RELIABLE
    * `checkpoint` instead of `localCheckpoint` (round 11 — previously the
    * wire path silently downgraded reliability).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIter: Int = 25,
                          checkpointDir: Option[String] = None,
                          stepThroughWire: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    val fwd = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    val edges0 = fwd.union(fwd.select(col("v").as("u"), col("u").as("v"))).distinct()
    // the edge list is referenced every round: checkpoint when wiring rounds
    // (a leaf plan is what makes the step a named read) or when reliability
    // is requested, else persist
    val edges =
      if (stepThroughWire || checkpointDir.isDefined) materialize(edges0)
      else edges0.persist()
    // Init = min(u, min neighbor) — ONE free propagation hop (opt round 16):
    // the old identity init paid the same |E|-row exchange for a distinct();
    // a groupBy/min over the symmetric edge list costs the same shuffle and
    // starts the label state one hop ahead, which pointer doubling
    // compounds (a star/pair cluster is already converged at init). The
    // fixpoint is init-independent for any valid state (label(u) ≤ u and
    // ≥ the component minimum), so results are unchanged.
    def initLabels(ed: DataFrame): DataFrame =
      ed.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u").as("node"), least(col("mv"), col("u")).as("label"))
    // Round-15 REFUTATION (the d17 co-partitioning mechanism does NOT
    // transfer here): the edge list enters this join through a UNION with
    // the per-round pointer frames, and a union of a cached co-partitioned
    // leaf with unpartitioned frames has no partitioning — so caching
    // edges on v cannot remove the per-round exchange the way graphRank's
    // direct edge join could. Distributing the join over the union
    // ((ed ⋈ lblv) ∪ (ptr ⋈ lblv) ∪ (ptr⁻¹ ⋈ lblv), exact by
    // join-over-union-all + min's multiplicity-insensitivity, with edges
    // cached v-partitioned/v-sorted) was IMPLEMENTED AND MEASURED: d13
    // read 5.98 s vs 4.44 s at sf0.1 and 68.7 s vs 39.0 s solo at 100× —
    // three sort-merge joins + two extra label-scale exchanges per hop
    // cost far more than the one union exchange they replace (the union
    // ships edges+2·labels rows ONCE and sorts once; the split pays
    // per-branch join machinery twice per double-hop round). Keep the
    // union shape.
    def step(ed: DataFrame)(lbl: DataFrame): DataFrame = {
      val ptr = lbl.select(col("node").as("u"), col("label").as("v"))
      // Reverse-pointer branch eliminated from the join (opt round 16): the
      // old shape unioned ptr⁻¹ = (label(n), n) into the v-keyed join, but
      // joining (u=label(n), v=n) against labels on v=n just reads back
      // label(n) — the result is EXACTLY one (label(n), label(n)) row per
      // node n, i.e. lbl.select(label, label) verbatim. Emitting it after
      // the join keeps |V| rows out of the union exchange and the join
      // probe per hop (the join now ships |E|+|V| rows, not |E|+2|V|)
      // while the groupBy's input multiset — and therefore every label
      // generation — is bit-identical.
      ed.union(ptr)
        .join(lbl.select(col("node").as("v"), col("label")), "v")
        .select(col("u"), col("label"))
        .union(lbl.select(col("label").as("u"), col("label")))
        .groupBy("u").agg(min(col("label")).as("label"))
        .select(col("u").as("node"), col("label"))
    }
    val labels = if (stepThroughWire) {
      // ONE wire artifact (round 10): the pointer-doubling fixpoint ships
      // as a single Rel.ExtIteration — double-hop body (halves the fixed
      // per-round materialization cost), bounded rounds, and the consumer's
      // exact multiset fixpoint check standing in for the host loop's
      // monotone-sum convergence test. Unique edges view, dropped in
      // finally, so concurrent calls can't clobber each other.
      val edgesView = "graft_cc_edges_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      edges.createOrReplaceTempView(edgesView)
      try {
        // init derives from the SAME named read so the whole artifact —
        // initial labels included — is plan, not host state
        val plan = graft.substrait.Producer.produceIteration(
          initLabels(spark.table(edgesView)),
          l => { val e = spark.table(edgesView); step(e)(step(e)(l)) },
          maxIters = maxIter, checkFixpoint = true,
          // pointer-doubling label propagation converges within the bound
          // by construction, so requiring the fixpoint costs nothing and
          // turns a silently-wrong truncated run (e.g. a caller passing a
          // too-small maxIter for a pathological diameter) into a loud one
          requireFixpoint = true)
        // the reliability of the consumed rounds is THIS call's
        // checkpointDir choice, scoped explicitly — not whatever dir an
        // earlier caller left configured on the sticky context
        graft.substrait.Consumer.consume(spark,
            graft.substrait.Wire.decode(graft.substrait.Wire.encode(plan)),
            reliableIteration = Some(checkpointDir.isDefined))
          .toDF("node", "label")
      } finally {
        spark.catalog.dropTempView(edgesView)
        // all rounds consumed (or consume threw); the result is its own
        // checkpoint (no-op for the reliable/disk-backed form when
        // checkpointDir is set)
        releaseLocalCheckpoint(edges)
      }
    } else {
      // the labels frame is referenced three times per iteration (both
      // pointer directions + the join side), so each generation is
      // checkpointed — dropping this recomputes the distinct per reference
      // and costs more than the checkpoint job does
      var labels = materialize(initLabels(edges))
      var prevSum: java.math.BigDecimal = null
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        // two propagation hops per materialization round: halves the fixed
        // checkpoint/action cost and still detects the exact fixpoint
        // (labels are monotone, so a stable sum across a double-hop is a
        // fixpoint)
        val superseded = labels
        labels = materialize(step(edges)(step(edges)(labels)))
        val s = labels.agg(sum(col("label").cast("decimal(38,0)")))
          .head().getDecimal(0)
        done = prevSum != null && s.compareTo(prevSum) == 0
        prevSum = s
        iter += 1
        // the old generation is dead once the new one is materialized —
        // freeing its pinned blocks bounds the loop's executor-memory
        // footprint to two generations (same discipline as the wire
        // consumer's ExtIteration loop, r11)
        releaseLocalCheckpoint(superseded)
      }
      labels
    }
    if (!(stepThroughWire || checkpointDir.isDefined)) edges.unpersist()
    // (the wire path releases edges in its own finally block above)
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Free the MEMORY_AND_DISK blocks a localCheckpoint'd frame pins —
    * no-op for reliable checkpoints (disk-backed) and non-LogicalRDD
    * plans. Callers must prove the frame is superseded: unpersisting a
    * lineage-truncated frame that is still referenced loses its data.
    */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Rank units per 1.0 of rank: all graphRank arithmetic is fixed-point
    * integers so any engine replays it bit-identically (same trick as the
    * t30 integer mixture weights — double summation is merge-order-
    * dependent in the last ULP; integer sums are exact).
    */
  val RankUnit: Long = 1L << 20
  /** floor(0.15 × 2^20): the damped-centrality teleport term in units. */
  val RankBase: Long = (15L * RankUnit) / 100L

  /** Damped centrality (PageRank-style power iteration, Page et al. 1999)
    * over an undirected pair graph — the template/content-farm detector:
    * documents central in the near-duplicate graph are boilerplate hubs,
    * peripheral ones are organic. Complements [[connectedComponents]]
    * (membership) with a per-node intensity score.
    *
    * EXACT integer arithmetic throughout, so a fixed iteration count needs
    * no convergence epsilon and the oracle is an unrolled SQL expression:
    *   contrib(u) = rank(u) DIV deg(u)
    *   rank'(v)   = 157286 + (85 × Σ contrib) DIV 100      -- all BIGINT
    * starting from rank = 2^20. The undirected edge list means every node
    * with an edge receives contributions (in-neighbors = out-neighbors),
    * so a plain inner join + sum covers the whole node set.
    *
    * Scale: each round is one shuffle keyed by node id carrying 16-byte
    * (id, long) rows; deg rides ON the edge list (joined once, then the
    * checkpointed (u, v, deg) frame is reused every round) — no per-round
    * dimension join. Fixed `iters` (default 3) bounds total work;
    * `stepThroughWire` ships the WHOLE fixpoint — init state, per-round
    * plan, round count — as ONE `Rel.ExtIteration` artifact the consumer
    * loops (round 10; substrait 0.3 itself has no iteration, so foreign
    * consumers loud-reject the type_url).
    */
  def graphRank(pairs: DataFrame, aCol: String = "id_a",
                bCol: String = "id_b", iters: Int = 3,
                stepThroughWire: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20, s"graphRank iters out of range: $iters")
    val spark = pairs.sparkSession
    val fwd = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    val edges0 = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    // (u, v, deg): reused every round. CACHED pre-partitioned on the join
    // key, not localCheckpointed — Spark 4's localCheckpoint drops
    // outputPartitioning (the LogicalRDD plans as partition-less,
    // BASELINE.md round 15 "d17 graphRank"), which re-shuffled the WHOLE
    // edge list into the rank join every round; a cached REPARTITION_BY_NUM
    // leaf keeps
    // hash(u, P) (AQE never coalesces an explicit count), so the
    // per-round join reads edges in place and only the contribution
    // aggregate exchanges. P = the session's shuffle parallelism.
    //
    // deg rides as a WINDOW count over the SAME u-keyed exchange the
    // cache pins (opt round 16 — edge prep was 48 s of d17's
    // ~57 s at 100×, and 2 of its 3 full |2E|-row exchanges were the deg
    // groupBy's re-exchange + the deg join feeding the explicit
    // repartition; count(*) over (partition by u) on the repartitioned
    // stream is the same per-u row count with ZERO extra exchange, and
    // the window's u-sort happens once, inside the cached frame; the
    // within-JVM A/B is VERDICT.md's d17 row).
    val nShuffle = spark.sessionState.conf.numShufflePartitions
    val edges = edges0
      .repartition(nShuffle, col("u"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    def step(ed: DataFrame)(r: DataFrame): DataFrame =
      ed.join(r.select(col("node").as("u"), col("rank_units")), "u")
        .select(col("v"), expr("rank_units DIV deg").as("contrib"))
        .groupBy("v").agg(sum(col("contrib")).as("csum"))
        .select(col("v").as("node"),
          (lit(RankBase) + expr("(85 * csum) DIV 100")).as("rank_units"))
    var ranks: DataFrame = null
    if (stepThroughWire) {
      // ONE wire artifact (round 10): the whole fixpoint — init state, the
      // per-round plan, and the round count — rides as a single
      // Rel.ExtIteration; the consumer runs the loop. (Previously each
      // ROUND's plan was wire-stepped but the loop itself was host-side.)
      // The edges leaf stays a named read: per-call unique view name,
      // dropped in finally, so concurrent calls can't clobber each other —
      // and it resolves to the CACHED co-partitioned frame, so every
      // consumed round's join scans it in place.
      val edgesView = "graft_rank_edges_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      edges.createOrReplaceTempView(edgesView)
      try {
        // init derives from the SAME named read so the whole artifact —
        // initial state included — is plan, not host state
        val init = spark.table(edgesView).select(col("u").as("node"))
          .distinct().select(col("node"), lit(RankUnit).as("rank_units"))
        val plan = graft.substrait.Producer.produceIteration(
          init, st => step(spark.table(edgesView))(st),
          maxIters = iters, checkFixpoint = false)
        val decoded = graft.substrait.Wire.decode(
          graft.substrait.Wire.encode(plan))
        // graphRank always materializes rounds with localCheckpoint (never
        // reliable checkpoints, regardless of any checkpoint dir another
        // caller left configured on the context); each consumed round's
        // join still reads the CACHED edges in place — the cached leaf
        // rides inside the round's plan, only the truncated round state
        // loses its partitioning
        ranks = graft.substrait.Consumer.consume(spark, decoded,
            reliableIteration = Some(false))
          .toDF("node", "rank_units")
      } finally {
        spark.catalog.dropTempView(edgesView)
        // released in finally, not only on the success path: the consumed
        // result is its own snapshot, and if consume throws (a divergence
        // guard) the method returns nothing — either way the cached edge
        // list must not stay pinned for the session
        edges.unpersist(blocking = false)
      }
    } else {
      // host-side loop: rounds are CACHED, not checkpointed — graphRank's
      // body binds the state exactly ONCE, so the analyzed plan grows only
      // linearly in `iters` (require-bounded at 20), and a cached round
      // keeps its groupBy partitioning hash(node, P), which the next
      // round's join on u reuses: ONE exchange per round (the contribution
      // aggregate), zero on either join side. (The wire path cannot do
      // this: the consumer must lineage-truncate rounds because foreign
      // bodies may bind state k times — see the Consumer.ExtIteration
      // refutation note — so there the round state re-exchanges, still
      // with the cached edges read in place.)
      ranks = edges.select(col("u").as("node")).distinct()
        .select(col("node"), lit(RankUnit).as("rank_units")).persist()
      ranks.count()
      for (_ <- 1 to iters) {
        val superseded = ranks
        ranks = step(edges)(ranks).persist()
        ranks.count()
        superseded.unpersist(blocking = false)
      }
      // plan-free snapshot (one cache scan), then drop the live caches —
      // cache entries have no GC lifecycle, so returning one would leak
      val snap = ranks.localCheckpoint(true)
      ranks.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      ranks = snap
    }
    // the double view is exact: units < 2^53, and /2^20 is one correctly-
    // rounded IEEE op in any engine
    ranks.select(col("node"), col("rank_units"),
      (col("rank_units").cast("double") / lit(RankUnit.toDouble)).as("rank"))
  }

  /** Incremental connected components: fold a NEW batch of near-dup edges
    * into EXISTING cluster labels without revisiting historical edges.
    * Old clusters collapse losslessly to star edges (node → its label):
    * a star is reachability-equivalent to the original cluster, and since
    * labels are min-ids, the merged min-label result is IDENTICAL to
    * recomputing from scratch over old∪new edges (certified by the d13
    * oracle and the algebraic spec). Work per ingest: |nodes| + |batch|
    * edges, not |historical edges| — and stars have depth 1, so the
    * pointer-doubling loop converges in fewer rounds than a cold run.
    */
  def incrementalConnectedComponents(oldLabels: DataFrame, newPairs: DataFrame,
                                     aCol: String = "id_a", bCol: String = "id_b",
                                     maxIter: Int = 25,
                                     checkpointDir: Option[String] = None,
                                     stepThroughWire: Boolean = false): DataFrame = {
    val stars = oldLabels.select(col("node").cast("long").as(aCol),
      col("cluster_id").cast("long").as(bCol))
    connectedComponents(
      stars.unionByName(newPairs.select(col(aCol).cast("long").as(aCol),
        col(bCol).cast("long").as(bCol))),
      aCol, bCol, maxIter, checkpointDir, stepThroughWire)
  }

  /** Cluster-dedup composite: drop every document whose near-dup cluster
    * contains a smaller id (the canonical keeper). Documents in no pair are
    * kept untouched — the anti-join only ships (id, cluster) pairs. */
  def dedupByClusters(df: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id",
                      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster dedup: keep the HIGHEST-`quality` member of each
    * near-dup cluster (ties → smallest id) instead of [[dedupByClusters]]'
    * arbitrary min-id keeper — "keep the longest / highest-scoring copy",
    * the selection rule real curation pipelines want. Documents in no pair
    * survive untouched.
    *
    * Scale shape: clustering is pointer-doubling CC over the pair set; the
    * winner per cluster is ONE struct-max aggregate (quality, −id) — no
    * window, no per-cluster sort; only (id, cluster, quality) triples ride
    * the shuffles and the final anti-join ships bare ids.
    *
    * Plan note (measured, round 8): this runs as SortAggregate, and that is
    * the RIGHT plan. The obvious "fix" — `max_by(node, struct(q, -node))` —
    * also plans as SortAggregate (the struct ordering sits in the aggregate
    * buffer, and HashAggregateExec requires every buffer field to be an
    * UnsafeRow-mutable scalar; MaxBy is declarative so ObjectHashAggregate
    * doesn't apply either). The hash-agg alternative (max(q) per cluster +
    * join-back + min(node)) re-shuffles the FULL member set for the join,
    * while the partial SortAggregate here ships one row per cluster per map
    * partition — strictly less network at scale for a map-local sort of
    * 24-byte triples.
    */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame,
                         quality: org.apache.spark.sql.Column,
                         idCol: String = "doc_id",
                         aCol: String = "id_a", bCol: String = "id_b",
                         stepThroughWire: Boolean = false): DataFrame = {
    val member = connectedComponents(pairs, aCol, bCol,
        stepThroughWire = stepThroughWire)
      .join(df.select(col(idCol).cast("long").as("node"), quality.as("__q")),
        "node")
    // Winner = argmax by (quality, then SMALLEST node): as TopKByKey k=1
    // (opt round 15) — 2 fixed-width buffer slots, so Spark plans a
    // HashAggregate with map-side partial reduction. The previous
    // max(struct(q, -negid)) was bit-identical in ORDER (struct ordering:
    // q first, null-q lowest; tie → max(-node) = min node — TopKByKey's
    // key DESC NULLS LAST, id ASC is the same total order) but its
    // struct-typed buffer forced a SortAggregate, sorting the whole
    // cluster membership. (The r8 refutation only covered max_by, which
    // ALSO SortAggregates — COVERAGE.md "Round-8 plan notes"; a
    // fixed-width kernel is the shape neither builtin offers.)
    val winners = member.groupBy("cluster_id")
      .agg(graft.functions.TopKFunctions
        .topkByKey(col("__q"), col("node"), 1).as("w"))
      .select(col("w").getItem(0).getField("id").as("node"))
    val losers = member.select("node").join(winners, Seq("node"), "left_anti")
    df.join(losers.withColumnRenamed("node", idCol), Seq(idCol), "left_anti")
  }
}
