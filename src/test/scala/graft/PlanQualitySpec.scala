package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression gates: the properties that make these plans
  * survive a 100× scale-up, asserted on the executed plans of the actual
  * driver queries (which include the substrait wire round-trip — so these
  * also prove the wire hop costs no plan quality).
  */
class PlanQualitySpec extends SparkTestBase {

  private def plan(name: String): String = {
    Tables.register(spark, sfDir)
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("q01: projection prunes the parquet ReadSchema to 3 of 11 columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"), p)
  }

  test("q02: filters push down to the parquet scan") {
    val p = plan("q02_filter_ops")
    // plan strings elide long filter lists — assert a stable prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"), p)
  }

  test("q03: sort+limit+offset fuse into TakeOrderedAndProject") {
    val p = plan("q03_sort_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("offset=5"), p)
  }

  test("q07: dimension side broadcasts") {
    val p = plan("q07_join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q13: three-way join broadcasts both dimension sides") {
    val p = plan("q13_revenue_by_segment")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2, p)
  }

  test("q04: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q04_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("no accidental cartesian products in join-bearing queries") {
    // s01_knn_brute intentionally cross-joins a broadcast query side — and
    // since round 8 s02's derived sizing takes the SAME certified brute
    // path on this fixture (the similarity floor is below LSH's break-even,
    // see Similarity.lshKnn), so s14 now pins the explicit LSH plan; every
    // other join-bearing query must stay hash/sort-merge joined
    for (q <- Seq("q07_join_inner", "q08_join_left", "q09_join_right",
      "q10_join_full", "q11_join_semi", "q12_join_anti", "q13_revenue_by_segment",
      "d02_minhash_pairs", "d04_ngram_jaccard", "d05_embedding_neardup",
      "d06_prepare_corpus", "s14_knn_lsh_explicit", "e01_sessions")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("q32: IN-subquery executes as a broadcast semi join") {
    val p = plan("q32_in_subquery")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("no accidental cartesian products in the round-2 queries") {
    // q33 intentionally cross-joins a single-row scalar-subquery result
    for (q <- Seq("j01_asof_join", "j02_range_join", "q27_rollup",
      "q28_cube", "q29_grouping_sets", "q32_in_subquery")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("j01: as-of join runs as window over union — no physical join at all") {
    val p = plan("j01_asof_join")
    assert(!p.contains("Join"), s"as-of should be join-free:\n$p")
    assert(p.contains("Window"), p)
    // exactly one wide shuffle partitions both sides by the key
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles:\n$p")
  }

  test("q27: rollup runs as a single Expand-fed aggregate, not one job per set") {
    val p = plan("q27_rollup")
    assert(p.contains("Expand"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, p)
  }

  test("d04: blocked jaccard is one shuffle, zero joins, generators streamed") {
    val p = plan("d04_ngram_jaccard")
    assert(!p.contains("Join"), s"pair generation must not join:\n$p")
    assert(p.contains("Generate"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the groupBy(blk) shuffle:\n$p")
  }

  test("t07/m03: generator queries prune the ReadSchema to the used columns") {
    val t7 = plan("t07_chunking")
    assert(t7.contains("ReadSchema: struct<doc_id:bigint,text:string>"), t7)
    // m03 carries the byte-slicer generator since m02 became the decoded-
    // scanline pipeline (round 8)
    val m3 = plan("m03_clip_pooling")
    assert(m3.contains("ReadSchema: struct<doc_id:bigint,text:string>"), m3)
  }

  test("m01/m02/m06/m07: real-decode pipelines scan ONLY the id column") {
    // the codec stages synthesize payloads from doc_id; a scan that still
    // reads text would ship the corpus for nothing
    for (q <- Seq("m01_media_features", "m02_frame_stats", "m06_audio_features",
      "m07_video_frames", "m08_image_resize")) {
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
        s"$q should read only doc_id:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q decode must not shuffle payloads:\n$p")
    }
  }

  test("m05: clip pooling shuffles per-frame scalars, never GIF payloads") {
    val p = plan("m05_video_clip_features")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"m05 should read only doc_id:\n$p")
    // exactly the one clip-grouping exchange, placed AFTER the decode stage
    // (the exchanged row is (doc_id, frame scalars), not the payload)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the clip-group shuffle:\n$p")
    assert(!p.contains("payload"), s"payload column must not reach a shuffle:\n$p")
  }

  test("q55: disjunctive OR-of-ANDs join stays an EQUI join with pushed CNF filters") {
    val p = plan("q55_tpch_q19_disjunct")
    assert(p.contains("BroadcastHashJoin"), s"q19 shape must hash-join on the factored partkey:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the OR predicate fell out of the join:\n$p")
    // the OR residual rides INSIDE the hash join condition
    assert(p.contains("Brand#12") && p.contains("Brand#23"), p)
    // CNF-derived per-side disjunctions reach BOTH parquet scans
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"lineitem quantity bands must push down:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,1), IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand"),
      s"part brand/size bands must push down:\n$p")
  }

  test("q54: grouped-HAVING IN plans as a semi join; LIMIT fuses with the sort") {
    val p = plan("q54_tpch_q18_bigorders")
    assert(p.contains("LeftSemi"), s"the IN over aggregated keys must be a semi join:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=100"),
      s"ORDER BY + LIMIT must fuse (no global sort):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q36: the wire-round-tripped filter still pushes to the parquet scan") {
    val p = plan("q36_map_ops")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThanOrEqual(l_orderkey,200)]"), p)
  }

  test("t09: sequence packing is one window pass over one key shuffle") {
    val p = plan("t09_pack_sequences")
    assert(p.contains("Window"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the group-key shuffle:\n$p")
  }

  test("d09: the benchmark n-gram side broadcasts (corpus text never shuffles)") {
    val p = plan("d09_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"gram join must not shuffle corpus grams:\n$p")
  }

  test("no cartesian products in the round-3 wire-certified queries") {
    for (q <- Seq("d02_minhash_pairs", "d03b_simhash_prod",
      "d05_embedding_neardup", "s14_knn_lsh_explicit", "t04_top_terms",
      "m02_frame_stats", "q36_map_ops")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("driver smoke contract: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("d01: exact dedup shuffles digests, not text payloads") {
    Tables.register(spark, sfDir)
    val df: DataFrame = SparkEntry.queries("d01_dedup_exact")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the md5 digest is computed BELOW the shuffle (deeper in the plan
    // string), so only (id, 32-char digest) rows ride the exchange — the
    // round-tripped plan uses fresh column names, so match structure not names
    val ex = p.indexOf("Exchange hashpartitioning(")
    assert(ex >= 0, p)
    assert(p.indexOf("md5(") > ex, s"digest must be computed pre-shuffle:\n$p")
    assert(p.contains("partial_min"), s"map-side combine expected:\n$p")
  }

  test("q37: NOT IN executes as a null-aware broadcast hash anti join with pushdown") {
    val p = plan("q37_not_in_subquery")
    // Spark marks the null-aware variant with a trailing `true` flag on the
    // BroadcastHashJoin — the single-column shape must NOT nested-loop
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"null-aware shape fell to BNLJ:\n$p")
    // the subquery-side filter reaches the customer parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), LessThan(c_acctbal,0.0)]"), p)
  }

  test("d03b: salted simhash pair join — no payload arrays cross the pair shuffle") {
    Tables.register(spark, sfDir)
    val df: DataFrame = SparkEntry.queries("d03b_simhash_prod")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate self-join keys on (chunk_idx, chunk_val, salt): every
    // pair-generating exchange must ship rows WITHOUT the shingle array —
    // the xxhash64-shingle column may only appear in the verify joins above
    val firstShingleRef = p.indexOf("xxhash64(")
    val pairExchange = p.lastIndexOf("Exchange hashpartitioning")
    assert(firstShingleRef >= 0 && pairExchange >= 0, p)
  }

  test("e01: both session windows AND the session aggregate ride ONE hash exchange") {
    // the round-5 wire fix: window projects keep pass-through attributes, so
    // the lag window's exchange satisfies the sum window and the (user_id,
    // session_no) aggregate (subset partitioning) — a regression reintroduces
    // a fresh exchange + sort per stage
    val p = plan("e01_sessions")
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
  }

  test("s06: saved-IVF probe prunes the scan to the probed cell directories") {
    Tables.register(spark, sfDir)
    val e = Tables.table(spark, sfDir, "embeddings")
    val idx = ops.Ivf.build(e, nlist = 8, trainSampleFraction = 1.0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_pq").toString
    ops.Ivf.save(idx, path)
    idx.assigned.unpersist()
    val loaded = ops.Ivf.load(spark, path)
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 1)
    val df = ops.Ivf.searchPruned(loaded, q, k = 3, nprobe = 2)
    val p = df.queryExecution.executedPlan.toString
    // the probed cell set is a LITERAL partition filter on the cell-
    // partitioned parquet — the inverted-file lookup as partition pruning
    assert(p.contains("PartitionFilters:"), s"no partition filter on the cell scan:\n$p")
    val in = "cell#\\d+ IN \\(([-\\d,]+)\\)".r.findFirstMatchIn(p)
    assert(in.isDefined, s"no literal cell IN-list in PartitionFilters:\n$p")
    val cells = in.get.group(1).split(",")
    assert(cells.length == 2, s"expected the 2 probed cells, got ${in.get.group(1)}:\n$p")
  }

  test("round-5 queries: no cartesian products or nested-loop joins") {
    for (q <- Seq("d03b_simhash_prod", "d10_incremental_neardup",
      "t16_token_budget", "t17_segment_dedup", "s06_knn_ivf_saved")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("d10: signatures band before the candidate join; text never rides the band shuffle") {
    val p = plan("d10_incremental_neardup")
    // the band-keyed exchanges ship (id, band_idx, band_hash) triples — the
    // xxhash64 shingle arrays appear only in the verify joins above them
    val ex = p.indexOf("Exchange hashpartitioning")
    assert(ex >= 0, p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"candidate join must be keyed:\n$p")
  }

  test("t16: token budget is one window pass (single hash exchange + the output sort)") {
    val p = plan("t16_token_budget")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the stratum-key shuffle:\n$p")
    assert(p.contains("Window"), p)
  }

  test("t10/t11: narrow text ops — no shuffle except the deterministic sort") {
    for (q <- Seq("t10_repetition", "t11_mixture_sample")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle (narrow projection/filter):\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
    // t11's scan reads only the 3 output columns, never the text payload
    val p11 = plan("t11_mixture_sample")
    assert(p11.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"), p11)
  }

  test("t12: profile is one scan with map-side partial aggregation") {
    val p = plan("t12_profile")
    // one base scan feeds every column's stats (no per-column jobs)
    assert(p.sliding("FileScan parquet".length)
      .count(_ == "FileScan parquet") == 1, s"expected a single scan:\n$p")
    assert(p.contains("partial_"), s"map-side combine expected:\n$p")
  }

  test("t13: tf-idf joins the vocab-sized idf side as broadcast, one window pass") {
    val p = plan("t13_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"idf side must broadcast:\n$p")
    assert(p.contains("Window"), p)
    // the lone nested-loop join is the broadcast of the SINGLE-ROW corpus
    // count onto the vocab table (same sanctioned shape as q33's scalar
    // subquery); the term join itself must stay a hash join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("s05/e03: quantize is shuffle-free; stream-dedup is one grouping exchange") {
    val s05 = plan("s05_quantize")
    assert(!s05.contains("Exchange hashpartitioning"),
      s"quantization is a narrow projection:\n$s05")
    val e03 = plan("e03_stream_dedup")
    assert(e03.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"dedup = exactly the grouping shuffle:\n$e03")
    // keys-only dedup has no agg functions, so map-side combine shows as a
    // partial HashAggregate below the exchange rather than partial_* markers
    assert(e03.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2, s"map-side combine expected:\n$e03")
  }

  test("no cartesian products in the round-4 queries") {
    // t13's single-row count broadcast is asserted separately above
    for (q <- Seq("t10_repetition", "t11_mixture_sample", "t12_profile",
      "t14_lm_score", "s05_quantize", "e03_stream_dedup",
      "p01_curation_pipeline", "m01_media_features")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("p02: skew report fuses sort+limit into TakeOrdered, combines map-side") {
    val p = plan("p02_skew_report")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not full-sort:\n$p")
    assert(p.contains("partial_count"), s"map-side combine expected:\n$p")
  }

  test("t14: literal-map scoring is shuffle-free (model collected, bounded)") {
    val p = plan("t14_lm_score")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scoring must fold over the literal model map with no shuffle:\n$p")
    assert(!p.contains("Join"), s"no join in the scoring plan:\n$p")
  }

  test("m01: the typed decode stage survives the wire (mapPartitions present)") {
    val p = plan("m01_media_features")
    assert(p.contains("MapPartitions"), s"stage must rebuild through rt:\n$p")
  }

  test("p04: bucketed join is exchange-free on both join sides") {
    val p = plan("p04_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join should SMJ:\n$p")
    // the ONLY hash exchange is the post-join rollup's; the join itself
    // reads co-located bucket files on both sides
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected only the rollup exchange, got $shuffles:\n$p")
  }

  test("p05: sketch rollup aggregates partially before its exchange") {
    val p = plan("p05_sketch_cardinality")
    // per-(lang, shard) sketches combine map-side: partial HLL aggregation
    // appears below the exchange, so sketch rows (not corpus rows) shuffle
    assert(p.contains("partial_hllsketchagg") || p.contains("partial_hll"),
      s"HLL sketches must aggregate map-side:\n$p")
  }

  test("p09: range-layout band filter prunes partition directories at plan time") {
    val p = plan("p09_range_layout")
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("len_band")),
      s"band predicate must be a partition filter, not a data filter:\n$p")
  }

  test("t19: shard shuffle is one hash exchange + per-shard sort (no global window)") {
    val p = plan("t19_shuffle_shards")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the shard exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition") || p.contains("rangepartitioning"),
      s"no single-partition funnel before the window:\n$p")
  }

  test("t20: weighted sample never hash-shuffles; the total is a true subquery") {
    val p = plan("t20_weighted_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the keep decision must not shuffle:\n$p")
    // the consumer rebuilds the producer's lifted one-row cross join as a
    // scalar Subquery — evaluated once, never a per-row join
    assert(p.contains("Subquery subquery"),
      s"the total must ride as a scalar subquery:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no per-row join:\n$p")
  }

  test("s07: cluster-blocked dedup has no cartesian or nested-loop joins") {
    val p = plan("s07_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"s07:\n$p")
  }

  test("p11: bloom probe is a once-evaluated subquery filtering the fact scan") {
    // the wire hop must NOT cost the scalar-subquery shape: the consumer
    // rebuilds the lifted one-row cross join as Dataset.scalar(), so the
    // bloom evaluates ONCE and might_contain filters the fact side below
    // the (equi) data join — a 1-row nested-loop here re-evaluated the
    // 36 KB bloom per fact row (measured 5x+ on the sf0.1 bench)
    val p = plan("p11_bloom_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"p11 must not join per-row:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"the data join must be an equi-join:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("might_contain(Subquery")),
      s"bloom probe must be a subquery-fed filter:\n$p")
  }

  test("j03: interval-overlap join is a bin equi-join, never nested-loop") {
    val p = plan("j03_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"j03 must bin-replicate into an equi-join:\n$p")
    assert(p.contains("Generate explode"),
      s"both sides must bin-replicate via a streamed generator:\n$p")
  }

  test("d12: prefix-filter join is equi-joins only; arrays stay out of the candidate shuffle") {
    val p = plan("d12_prefix_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d12 must generate candidates via equi-joins:\n$p")
    // the id-pair candidate join carries no shingle arrays — sh only
    // appears in the final verify joins (HashJoin on id_a/id_b)
    assert(p.contains("sorted_jaccard_ge"), s"exact verify kernel missing:\n$p")
  }

  test("t21/t22/s09: literal-model scoring is narrow — no joins, no hash shuffle") {
    for (q <- Seq("t21_linear_classifier", "t22_dsir_score", "s09_centroid_classify")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join (model is a literal):\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle (narrow scoring):\n$p")
    }
  }

  test("s08: ADC scan stays in codegen; rerank joins broadcast") {
    val p = plan("s08_knn_pq")
    // the one BNLJ is the intentional broadcast cross of the tiny query
    // side (the bruteForceKnn contract); the shortlist/rerank joins must
    // be broadcast hash joins, and the PQ kernels must be present
    assert(p.contains("pq_encode") && p.contains("pq_adc"), s"kernels missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rerank must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
  }

  test("s17: SQ8 rerank joins broadcast; no unbroadcast cartesian") {
    val p = plan("s17_knn_sq8")
    // the one BNLJ is the intentional broadcast cross of the tiny query
    // codes (the bruteForceKnn contract); the shortlist rerank's two
    // id-keyed joins must be broadcast hash joins
    assert(p.contains("BroadcastHashJoin"), s"rerank must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
  }

  test("s18: sign-bit rerank joins broadcast; no unbroadcast cartesian") {
    val p = plan("s18_knn_signbit")
    assert(p.contains("BroadcastHashJoin"), s"rerank must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
  }

  test("e18: cohort retention scans only (user_id, ts); only narrow " +
    "(user, week) pairs shuffle; no cartesians") {
    val p = plan("e18_cohort_retention")
    assert(p.contains("ReadSchema: struct<ts:"), s"pruned events scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t36: BPE training scans only text; a merge round is ONE exchange " +
    "with map-side partial counts over the bounded vocabulary") {
    Tables.register(spark, sfDir)
    val words = ops.BpeTrain.wordFreq(spark.table("documents"), "text")
    words.collect()
    val wp = words.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(wp.contains("ReadSchema: struct<text:string>"),
      s"the one corpus-sized pass must scan ONLY text:\n$wp")
    // a training round = pair count over the word-freq table: exactly one
    // NEW exchange beyond word-freq's own, fed by a partial sum (map-side
    // combine), and no joins anywhere in the loop
    val round = ops.BpeTrain.pairCounts(words)
    round.collect()
    val rp = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(rp.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 2,
      s"word-freq + pair-count exchanges only:\n$rp")
    assert(rp.contains("partial_sum"),
      s"pair counts must combine map-side:\n$rp")
    assert(!rp.contains("Join"), s"no joins in a training round:\n$rp")
  }

  test("s11: saved IVF-PQ probe partition-prunes AND scans codes, not vectors") {
    Tables.register(spark, sfDir)
    val e = Tables.table(spark, sfDir, "embeddings")
    val idx = ops.IvfPq.build(e, nlist = 8, m = 8, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    ops.IvfPq.save(idx, path)
    val loaded = ops.IvfPq.load(spark, path)
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 1)
    val df = ops.IvfPq.searchPruned(loaded, e, q, k = 3, nprobe = 2, shortlist = 50)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:"), s"no partition filter:\n$p")
    val in = "cell#\\d+ IN \\(([-\\d,]+)\\)".r.findFirstMatchIn(p)
    assert(in.isDefined && in.get.group(1).split(",").length == 2,
      s"expected the 2 probed cells as a literal IN-list:\n$p")
    // the shortlist stage scans the CODE layout (n_id, codes), never the
    // raw vectors — bytes ∝ codes; vectors appear only in the rerank scan
    assert(p.contains("pq_adc"), s"ADC kernel missing:\n$p")
  }

  test("s19: saved IVF-SQ8 probe partition-prunes AND scans int8 codes, " +
    "not vectors") {
    Tables.register(spark, sfDir)
    val e = Tables.table(spark, sfDir, "embeddings")
    val idx = ops.IvfSq.build(e, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsq_plan").toString
    ops.IvfSq.save(idx, path)
    val loaded = ops.IvfSq.load(spark, path)
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 1)
    val df = ops.IvfSq.searchPruned(loaded, e, q, k = 3, nprobe = 2,
      shortlist = 50)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:"), s"no partition filter:\n$p")
    val in = "cell#\\d+ IN \\(([-\\d,]+)\\)".r.findFirstMatchIn(p)
    assert(in.isDefined && in.get.group(1).split(",").length == 2,
      s"expected the 2 probed cells as a literal IN-list:\n$p")
    // the shortlist scan reads the tinyint CODE layout only — the raw
    // embeddings table appears solely under the rerank joins
    assert(p.contains("ReadSchema: struct<n_id:bigint,n_code:array<tinyint>>"),
      s"codes-only scan missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cartesian:\n$p")
  }

  test("s20: the large-queryset route never broadcasts the query side — " +
    "a shuffled cell join + rank-limit pushdown, even when queries would " +
    "fit a broadcast") {
    // scale-emulating config: at fixture SF the query side fits a
    // broadcast, which is exactly the crutch this operator must not rely
    // on — disable it and require the plan that a 10^6-query batch gets
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("s20_knn_bucketed")
      assert(!p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"query side must ride the shuffle, not a broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"cell join must be a shuffled join:\n$p")
      // sort-free top-k (opt round 15): the per-query shortlist is the
      // TopKByKey hash aggregate — partial slots reduce map-side so only
      // ≤ |Q|·nprobe·k skinny slot rows reach the per-query exchange,
      // and NO candidate-stream sort exists anywhere (the row_number
      // window's WindowGroupLimit Partial sorted all 424M candidates at
      // 100×, ~2/3 of the query: OPTIMIZATION_r15.md "s20_knn_bucketed")
      assert(p.contains("topk_by_key"),
        s"top-k hash aggregate missing:\n$p")
      assert(p.contains("partial_topk_by_key"),
        s"top-k aggregate must partial-aggregate map-side:\n$p")
      assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
        s"the sort-based window top-k is back:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round-6 second batch: no cartesian products or nested-loop joins") {
    for (q <- Seq("p14_cow_upsert", "p15_feature_drift", "p16_cdc_snapshot",
      "p17_schema_evolution", "t23_winsorized_stats", "t24_bm25_search",
      "t25_curriculum_order", "q43_json_ops", "e05_behavior_sequences",
      "m03_clip_pooling", "s09_centroid_classify")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
    // s10 evaluates two bruteForceKnn rankings — its broadcast cross of
    // the tiny query side is the documented s01 contract, so only the
    // unbroadcast shape is forbidden
    assert(!plan("s10_ann_metrics").contains("CartesianProduct"))
  }

  test("round-7 batch: no cartesian products or nested-loop joins") {
    // s12's brute-force shortlist broadcasts its 4-query side (the s01
    // contract); like s10, only the unbroadcast cartesian is forbidden
    for (q <- Seq("p19_skipping_report", "t27_ppl_buckets", "s12_mmr_rerank",
      "s13_ivf_incremental_ingest", "d14_keep_best_per_cluster",
      "e07_stream_enrich", "t28_contamination_score",
      "d15_containment_pairs", "e08_session_window", "m04_media_batches",
      "d16_shared_spans")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
  }

  test("d14: the keep-best winner is a map-side-reducing HashAggregate, " +
    "not a cluster-membership sort") {
    // opt round 15: max(struct) forced a SortAggregate (struct buffers
    // aren't fixed-width) that sorted the whole membership at 100x with
    // spill; TopKByKey k=1 hash-aggregates the identical winner
    val p = plan("d14_keep_best_per_cluster")
    assert(p.contains("partial_topk_by_key"),
      s"winner agg must partial-reduce map-side:\n$p")
    assert(!p.contains("SortAggregate"),
      s"winner agg must not sort the membership:\n$p")
  }

  test("p19: the skipping report is ONE map-side-combined aggregate, no row-data shuffle") {
    val p = plan("p19_skipping_report")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"map-side combine expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly one exchange expected:\n$p")
    // only the band key and the value column are read
    assert(p.contains("ReadSchema: struct<n_chars:bigint>"), p)
  }

  test("e07: the dimension broadcasts; events never shuffle before the aggregate") {
    val p = plan("e07_stream_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"map-side combine expected:\n$p")
  }

  test("t28: eval grams broadcast hashed; corpus text never shuffles") {
    val p = plan("t28_contamination_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"gram join must broadcast:\n$p")
    // grams travel as hashed longs — since opt round 16 straight out of
    // the fused shingle_hashes kernel (previously xxhash64 over the
    // composed gram strings)
    assert(p.contains("shingle_hashes"), s"grams must travel hashed:\n$p")
  }

  test("q71: rollup feeds ONE Expand into ONE aggregate over ONE scan") {
    val p = plan("q71_ds_rollup_window")
    assert(p.sliding("Expand".length).count(_ == "Expand") == 1, p)
    // the single orders scan is 3-column pruned (status, price, priority)
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1, p)
    assert(p.contains("ReadSchema: struct<o_orderstatus:string," +
      "o_totalprice:double,o_orderpriority:string>"), p)
  }

  test("q70: both windows share one partition exchange; rank limit pushes down") {
    val p = plan("q70_ds_category_share")
    // share + rank are computed in TWO window nodes over the SAME p_type
    // partitioning: no exchange (and no extra sort pass) may sit between
    // them — they ride one shuffle. (Column names are wire-fresh _sNNNN,
    // so the gate checks structure, not names.)
    val winIdxs = "Window \\[".r.findAllMatchIn(p).map(_.start).toSeq
    assert(winIdxs.size == 2, s"expected 2 window nodes, plan:\n$p")
    val between = p.substring(winIdxs.head, winIdxs.last)
    assert(!between.contains("Exchange"),
      s"exchange between the two windows — they no longer share one " +
        s"shuffle:\n$p")
    // Spark's WindowGroupLimit must absorb the rnk <= 3 filter so each
    // partition keeps top-3 BEFORE the full window sort output materializes
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q72/q73: union + self-join DS shapes keep equi-joins and pruned scans") {
    for (n <- Seq("q72_ds_union_window", "q73_ds_cte_yoy")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$n: $p")
      // orders scans prune to the 3 referenced columns
      assert(p.contains("o_totalprice") && !p.contains("o_comment"), s"$n: $p")
    }
  }

  test("m12: frame-dedup scans ONLY doc_id; payloads never shuffle, scalars agg partially") {
    val p = plan("m12_dup_frames")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    // exactly the one (geometry, digest) grouping exchange, carrying
    // per-frame scalars (the partial min/count run before it)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("payload"), s"payload must not reach a shuffle:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_count"), p)
  }

  test("t32: boilerplate set broadcasts; doc-freq aggregates partially; scans prune") {
    val p = plan("t32_boilerplate_removal")
    // the df>=threshold segment set is tiny by construction — it must reach
    // the flag join as a broadcast, never a shuffle of the segment stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_collect_list"),
      s"reassembly must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q74: unpivot consumes as a union whose branches each scan 2 pruned columns") {
    val p = plan("q74_unpivot")
    assert(p.contains("Union"), p)
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      assert(p.contains(s"ReadSchema: struct<l_orderkey:bigint,$c:double>"),
        s"branch for $c must prune to its own 2 columns:\n$p")
    assert(!p.contains("l_shipdate"), s"unused columns must not scan:\n$p")
  }

  test("e15/d18: as-of aggregate and chunk-signature join stay equi + pushed") {
    for (n <- Seq("e15_stream_asof_join", "d18_editdist_neardup")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$n: $p")
    }
    val pe = plan("e15_stream_asof_join")
    assert(pe.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)"),
      s"side filters must reach the scan:\n$pe")
    assert(pe.contains("partial_max"), s"latest-agg must combine map-side:\n$pe")
  }

  test("m13: audio dedup scans ONLY doc_id; payloads never shuffle") {
    val p = plan("m13_dup_audio")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("payload"), s"payload must not reach a shuffle:\n$p")
  }

  test("LocalFiles consume: declared-schema file scan still prunes and pushes") {
    val df = substrait.Consumer.consume(spark, substrait.Wire.decode(
      substrait.Wire.encode(substrait.Producer.produce(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .filter(org.apache.spark.sql.functions.col("l_orderkey") < 100)
          .select("l_orderkey", "l_quantity")))))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("m14: pHash pipeline scans only doc_id and shuffles scalars, never payloads") {
    val p = plan("m14_phash_neardup")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"m14 should read only doc_id:\n$p")
    assert(!p.contains("payload"),
      s"PNG payloads must never reach a shuffle:\n$p")
  }

  test("t34: encoding screen is a pure projection — no exchange before the output sort") {
    val p = plan("t34_encoding_quality")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a projection suite must not shuffle:\n$p")
  }

  test("e17: every funnel step shares ONE user exchange") {
    Tables.register(spark, sfDir)
    // the driver query adds an output orderBy (range exchange); gate the
    // operator itself: exactly one hash exchange for windows + final agg
    val df = streaming.EventStream.funnelBatch(spark.table("events"))
    df.collect()
    // count within the FINAL adaptive plan only (the AdaptiveSparkPlan
    // string repeats the tree under "== Initial Plan ==")
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly one user-keyed exchange for all funnel steps:\n$p")
  }

  test("s15: filtered probe over the saved layout prunes partitions AND pushes the predicate") {
    Tables.register(spark, sfDir)
    val embs = spark.table("embeddings")
    val idx = ops.Ivf.build(embs, nlist = 8, metaCols = Seq("label"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s15_plan").toString
    ops.Ivf.save(idx, dir)
    val loaded = ops.Ivf.load(spark, dir)
    val probed = ops.Ivf.searchFiltered(loaded,
      embs.filter(org.apache.spark.sql.functions.col("vec_id") < 4),
      k = 5, nprobe = 3,
      pred = org.apache.spark.sql.functions.col("label") === 3)
    probed.collect()
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      s"probe must prune to cell partitions:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)"),
      s"the metadata predicate must reach the parquet scan:\n$p")
  }

  test("t35: gopher quality is a pure projection — no exchange before the output sort") {
    val p = plan("t35_gopher_quality")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a projection suite must not shuffle:\n$p")
  }

  test("d19: url dedup shuffles only the canonical key — one exchange, computed map-side") {
    val p = plan("d19_url_dedup").split("== Initial Plan ==").head
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"expected exactly the curl-group shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"canonicalization + partial agg must happen before the exchange:\n$p")
  }

  test("p23: delta-version reads resolve to version-prefixed band files only") {
    val p = plan("p23_delta_commits")
    // the plan string truncates the file-index list, so file-set REUSE is
    // asserted on the manifests in SourcesSpec; here: both version reads
    // are plain file scans (v1's first file visible), two scans, no shuffle
    assert(p.contains("/v1-"), s"v1 files must appear:\n${p.take(4000)}")
    assert(p.sliding("FileScan parquet".length)
      .count(_ == "FileScan parquet") == 2,
      s"expected exactly two version scans:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a two-version read is scans + union, no shuffle:\n$p")
  }

  test("round-14 DS shapes: no cartesians/nested loops; q75 is ONE " +
    "Expand-fed aggregate; q76's CTE chain reuses one physical aggregate") {
    Seq("q75_ds_gsets_share", "q76_ds_cte_chain", "q77_ds_exists_window",
      "q78_ds_multifact_union", "q79_ds_channel_intersect",
      "q80_ds_moving_dev").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // q80: TWO distinct window partitionings over the one monthly
    // aggregate must both survive the wire as window nodes
    assert(plan("q80_ds_moving_dev")
      .sliding("Window".length).count(_ == "Window") >= 2,
      "both window sort groups must be present")
    val p75 = plan("q75_ds_gsets_share")
    // grouping sets feed ONE Expand-fed aggregate, not one job per set
    assert(p75.sliding("Expand".length).count(_ == "Expand") == 1, p75)
    // three CTE references, ONE physical yearly aggregate: exchange reuse
    // is an AQE runtime decision, so EXECUTE and inspect the final plan
    val df76 = SparkEntry.queries("q76_ds_cte_chain")(spark, sfDir)
    df76.collect()
    val p76 = df76.queryExecution.executedPlan.toString
    assert(p76.contains("ReusedExchange") || p76.contains("ReusedQueryStage"),
      s"the yearly aggregate must be physically shared:\n$p76")
  }

  test("round-15 DS shapes: no cartesians; q82's grouping sets stay ONE " +
    "Expand-fed aggregate; q83's stacked laterals decorrelate to joins") {
    for (q <- Seq("q81_ds_except_window", "q82_ds_percentile_gsets",
      "q83_ds_lateral_window")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join:\n$p")
    }
    val p82 = plan("q82_ds_percentile_gsets")
    assert(p82.sliding("Expand".length).count(_ == "Expand") == 1,
      s"grouping sets must feed ONE Expand, not one job per set:\n$p82")
    // both stacked laterals must have decorrelated into grouped joins —
    // two aggregate-feeding joins, no correlated subquery remnants
    val p83 = plan("q83_ds_lateral_window")
    assert(p83.sliding("Join".length).count(_ == "Join") >= 2,
      s"both lateral levels must decorrelate into joins:\n$p83")
  }

  test("p22: a version read scans only the manifest's files with a pruned schema") {
    val p = plan("p22_time_travel")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"time-travel read must prune to the selected columns:\n$p")
    assert(p.contains("data/v1") && p.contains("data/v2"),
      s"both version reads must resolve to their own data dirs:\n$p")
  }

  test("d17: every consumed graphRank round reads the cached co-partitioned " +
    "edges IN PLACE — exactly 2 state-scale exchanges, zero edge-scale") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val rounds = scala.collection.mutable.ArrayBuffer[Seq[SparkPlan]]()
    substrait.Consumer.roundPlanHook =
      df => { rounds += physicalNodes(df); () }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val pairs = (1L to 4000L).flatMap(i => Seq((i, i + 1), (i, i + 13)))
        .toDF("id_a", "id_b")
      ops.Dedup.graphRank(pairs, iters = 3, stepThroughWire = true).collect()
    } finally {
      substrait.Consumer.roundPlanHook = null
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
    assert(rounds.size == 3, s"expected 3 consumed rounds, got ${rounds.size}")
    for ((nodes, i) <- rounds.zipWithIndex) {
      // the (u, v, deg) edge list must come from the cache, not a rebuild
      val edgeScans = nodes.collect {
        case s: InMemoryTableScanExec if s.output.length == 3 => s
      }
      assert(edgeScans.nonEmpty,
        s"round ${i + 1}: edges must be an InMemoryTableScan leaf:\n" +
          nodes.head.toString)
      // per-round data movement is exactly: state into the join + the
      // contribution aggregate — both 2-column (node, long) streams; a
      // third (or any 3-column) exchange means the edge list re-shuffled
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 2,
        s"round ${i + 1}: expected 2 exchanges, got ${shuffles.size}:\n" +
          nodes.head.toString)
      for (e <- shuffles)
        assert(e.output.length == 2,
          s"round ${i + 1}: an exchange carries ${e.output.length} columns " +
            s"(the edge list is re-shuffling):\n${e.toString}")
    }
  }
}
