package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry, Tables}

/** Regenerates PLANS.md: the executed physical plans of flagship driver
  * queries (which include the substrait wire round-trip), annotated with the
  * scale property each plan demonstrates. Run after planner-affecting
  * changes: `sbt "runMain graft.tools.PlansDoc /root/testdata/sf0.001"`.
  */
object PlansDoc {
  private val flagship: Seq[(String, String)] = Seq(
    "q01_scan_project" -> "column pruning reaches the parquet scan (ReadSchema is 3 of 11 columns) after the wire hop",
    "q02_filter_ops" -> "predicates push down to the scan (PushedFilters) after the wire hop",
    "q04_pricing_summary" -> "partial (map-side) aggregation before the single exchange",
    "q07_join_inner" -> "the dimension side broadcasts; no shuffle on the fact side",
    "q03_sort_limit_offset" -> "sort+limit+offset fuse into TakeOrderedAndProject",
    "d01_dedup_exact" -> "the md5 digest is computed below the exchange — only (id, digest) rows shuffle, never text",
    "d04_ngram_jaccard" -> "blocked all-pairs jaccard: ONE groupBy(blk) shuffle, zero joins, pair explosion streamed through chained generators in whole-stage codegen",
    "j01_asof_join" -> "as-of join is join-free: union + running-max window over one key shuffle",
    "t09_pack_sequences" -> "sequence packing is one window pass over one group-key shuffle",
    "q36_map_ops" -> "map construction/access stays inside whole-stage codegen; the filter still pushes to the scan",
    "t10_repetition" -> "all four repetition metrics fold in ONE shuffle-free codegen stage (tokens bound once as a lambda variable)",
    "t12_profile" -> "every column's stats from a single scan + single aggregate (struct-array explode, not per-column jobs)",
    "t13_tfidf" -> "tf-idf: one tf shuffle, vocab-sized idf side broadcasts, one window pass keyed by the doc id",
    "s05_quantize" -> "int8 quantization is a narrow projection — scale bound as a lambda variable, zero shuffles before the output sort",
    "e03_stream_dedup" -> "streaming-dedup batch twin: exactly one grouping exchange with the partial aggregate below it",
    "p01_curation_pipeline" -> "dedup → repetition filter → mixture → pack COMPOSED as one plan: digest-keyed dedup shuffle, narrow filters fused, one window pass",
    "p02_skew_report" -> "heavy-hitter report: map-side-combined counts, single-row total broadcast, TakeOrderedAndProject top-k (no full sort)",
    "e01_sessions" -> "sessionization after the wire hop: lag window, running-sum window AND the session aggregate all ride ONE hash exchange (window projects keep pass-through attributes, so partitioning propagates)",
    "s06_knn_ivf_saved" -> "saved-IVF probe: the probed cell set is a LITERAL PartitionFilter on the cell-partitioned parquet — the inverted-file lookup as partition pruning",
    "d10_incremental_neardup" -> "incremental near-dup ingest: both sides reduce to banded signatures before the bucket join; shingle payloads only join back for surviving candidates",
    "p11_bloom_join" -> "runtime-filter join: the dim-key bloom rides as a reused scalar subquery and might_contain drops fact rows BELOW the join — only joinable rows reach the shuffle",
    "s07_semantic_dedup" -> "semantic dedup: k-means cells as literal centroids in a narrow assignment stage; ONE wide shuffle of 8-byte ids for in-cell pair generation; vectors re-join only for the exact-cosine verify",
    "t19_shuffle_shards" -> "deterministic corpus shuffle: one hash exchange on the md5 shard + per-shard local sort for row_number — no global window, no single-partition sort",
    "t20_weighted_sample" -> "weighted PPS sample: the weight total rides as a one-row scalar subquery; the keep decision is a narrow codegen'd filter — zero shuffles",
    "j03_interval_join" -> "interval-overlap join: both sides bin-replicate through streamed generators into ONE equi-join; the ownership-bin filter emits each pair exactly once with no dedup shuffle",
    "d12_prefix_jaccard" -> "exact unblocked all-pairs jaccard: rarest-first prefix candidates join on 8-byte grams, id-pair dedup, shingle arrays re-join only for the exact kernel verify",
    "s08_knn_pq" -> "PQ ANN: codegen'd pq_encode compresses the corpus 16x below the join; per-query ADC tables broadcast; exact rerank touches only the shortlist via broadcast hash joins",
    "t22_dsir_score" -> "DSIR scoring: the fitted 256-bucket log-ratio model rides as a literal map — the scoring pass is narrow, zero joins, zero hash shuffles",
    "s11_knn_ivfpq" -> "IVF-PQ probe: literal cell PartitionFilters prune the saved code layout; pq_adc shortlists inside codegen; raw vectors appear only in the broadcast rerank",
    "t24_bm25_search" -> "BM25: one tf shuffle; df and query sides broadcast; N/avgdl are one-row scalar subqueries; ranking runs on exact integer scores",
    "p16_cdc_snapshot" -> "CDC snapshot: WindowGroupLimit keeps per-key winners BEFORE the exchange — the shuffle carries ~|keys| rows, not the log",
    "e06_resample_ff" -> "hourly resample: the dense grid streams from a per-key sequence generator and the IGNORE NULLS forward-fill window rides the grid join's key shuffle",
    "j04_asof_within" -> "staleness-bounded as-of join: still zero physical joins — the freshness check is a narrow projection above the single running-max window",
    "p19_skipping_report" -> "skipping report: ONE map-side-combined aggregate to band envelopes; prune flags are narrow projections — row data never shuffles",
    "t27_ppl_buckets" -> "perplexity buckets: the char-LM scoring pass is shuffle-free (literal model map); one doc-keyed join, one lang-keyed window for the exact ntile",
    "s12_mmr_rerank" -> "MMR rerank: shortlist + pairwise sims reduce to per-query arrays/maps; the greedy loop is a single codegen-stage aggregate HOF — no driver loop, no per-iteration shuffles",
    "s13_ivf_incremental_ingest" -> "incremental IVF ingest: the appended batch assigns against literal saved centroids in a narrow stage; the probe scans the grown cell-partitioned layout",
    "d14_keep_best_per_cluster" -> "quality-aware cluster dedup: winners via ONE struct-max aggregate over (quality, −id); bare-id anti-join — text never rides a shuffle after pair generation",
    "d15_containment_pairs" -> "directed containment: document frequency is a WINDOW count on the single gram explosion (no separate freq branch — wire plans can't persist, so branches re-derive; r11 cut the 100× wall ~2×); A-side rarest-first prefix joins the reused gram index on 8-byte grams; shingle arrays re-join only for the early-terminating sorted_containment_ge verify",
    "q70_ds_category_share" -> "TPC-DS category-share shape: share + rank windows stack on ONE p_type exchange; the rank<=3 predicate becomes WindowGroupLimit so partitions keep top-3 before the window output materializes",
    "q71_ds_rollup_window" -> "TPC-DS rollup hierarchy: ONE 3-column-pruned scan feeds ONE Expand into ONE aggregate; rank-within-parent is a single window pass over the grouping-id partition",
    "q73_ds_cte_yoy" -> "TPC-DS year-over-year: the multi-reference CTE re-produces its aggregate subtree per reference on the wire (substrait has no common-subplan sharing); each side partial-aggregates over a 3-column-pruned scan and the year-shifted self-join BROADCASTS one aggregated side with the growth predicate folded into the join",
    "e08_session_window" -> "native session_window sessions ON the wire (ExtSessionWindow + plain AggregateRel): the consumed plan re-derives Catalyst's session merge (MergingSessions) riding ONE user-keyed exchange",
    "m04_media_batches" -> "media batch packing: per-modality window pass over payload SIZES — binary payloads never shuffle; batch boundaries from one running sum",
    "m01_media_features" -> "REAL PNG decode: both codec stages ride as named typed stages (png_encode → image_decode); payloads stay in their input partition — zero shuffles before the output sort",
    "q47_tpch_q2_mincost" -> "TPC-H Q2 shape: the correlated min decorrelates to a grouped aggregate re-joined on (partkey, price); dimension sides broadcast",
    "q50_tpch_q20_excess" -> "TPC-H Q20 shape: grouping-key-correlated HAVING scalar decorrelates into an aggregate-to-aggregate join; both IN levels become semi joins",
    "d05_embedding_neardup" -> "embedding near-dup: ONE codegen'd lsh_buckets kernel computes all table buckets (the composed per-plane form ran interpreted past the JIT size limit); candidate ids shuffle bare, vectors re-join only for the exact-cosine verify",
    "e09_stream_upsert_sink" -> "streaming upsert sink batch twin: the band-pruned merge reads ONLY affected partitions (PartitionFilters from the driver-side band list) and the final state scans the swapped layout",
    "q55_tpch_q19_disjunct" -> "TPC-H Q19 shape: the OR-of-ANDs predicate's repeated equi conjunct factors out — an EQUI hash join carries the OR as residual, and CNF-derived per-side disjunctions push to BOTH parquet scans",
    "q54_tpch_q18_bigorders" -> "TPC-H Q18 shape: the IN over aggregated keys plans as a LeftSemi against the grouped-HAVING side; ORDER BY + LIMIT fuse into TakeOrderedAndProject",
    "m07_video_frames" -> "REAL multi-frame GIF decode: gif_encode → gif_frames as named typed stages; one output row per decoded frame, payloads never leave their partition",
    "e11_dynamic_gap_sessions" -> "DYNAMIC per-row session gaps on the wire: the consumed plan re-derives MergingSessions from the string gap expression (CAST AS INTERVAL) riding the ExtSessionWindow detail",
    "t30_temperature_mix" -> "temperature mixture rebalance: the |domains|-row derived-rate side broadcasts back; the corpus pass is a narrow md5-draw filter — no corpus shuffle",
    "p20_freq_items" -> "frequent-items sketch: per-shard LongsSketch rows merge through one tiny exchange; the certification probes run on the top-k side only",
    "q65_tpch_q8_mktshare" -> "TPC-H Q8 shape: eight-table market share — every dimension (incl. nation twice) broadcasts; the fact side never shuffles before the year aggregate",
    "q60_tpch_q5_localsupp" -> "TPC-H Q5 shape: six-table snowflake with the customer-nation = supplier-nation constraint — all five joins broadcast, zero sort-merge at certification SF",
    "d17_graph_rank" -> "damped-centrality rank round (r15): the (u, v, deg) edge list is a CACHED co-partitioned InMemoryTableScan leaf read in place every round — zero edge-scale exchange, zero per-round sort; only two node-scale exchanges per round (state into the join + the contribution aggregate); all arithmetic integral (DIV)",
    "e13_stream_heavy_hitters" -> "windowed heavy-hitters batch twin: ONE sketch row per hour window merges map-side; the top-5 probe side joins the tiny sketch frame — raw events never shuffle twice",
    "m09_scene_cuts" -> "scene-change detection: real GIF decode stages feed one doc-keyed window pass for the luma-delta lag; only per-frame scalars shuffle",
    "q66_tpch_q4_late" -> "TPC-H Q4 shape: the EXISTS over late lineitems plans as a LeftSemi carrying the timestamp + INTERVAL comparison as the join residual; both scans prune to the compared columns",
    "q67_tpch_q6_forecast" -> "TPC-H Q6 shape: pure scan-filter-agg — every predicate reaches the lineitem scan as PushedFilters, no exchange before the single-row partial/final aggregate",
    "q68_tpch_q17_smallqty" -> "TPC-H Q17 shape: the correlated scalar AVG decorrelates to a partkey-grouped aggregate joined back; the part dim broadcasts and lineitem shuffles once on partkey",
    "q69_corr_count_expr" -> "correlated COUNT inside a wider expression: count coalesces to 0 at the AGGREGATE level, the ×2 evaluates outside a broadcast LEFT join; both scans pruned with PushedFilters, partial count map-side",
    "t29b_bpe_tokens_prod" -> "50k-merge broadcast BPE kernel: zero shuffle before the output sort — the codegen'd bpe_count_v2 reads the broadcast table; the scan carries only (doc_id, text)",
    "m10_jpeg_lossy" -> "the lossy-codec pipeline scans ONLY doc_id (payloads are synthesized then decoded in-partition, never shuffled); the tolerance boolean is a narrow projection over the decode stage",
    "t32_boilerplate_removal" -> "CCNet-style boilerplate strip: exact two-level doc-frequency aggregate (both levels map-side partial), the tiny df>=threshold set BROADCASTS back as the flag join, one ordered-reassembly exchange",
    "m12_dup_frames" -> "corpus duplicate-frame detection: real GIF encode+decode as named typed stages over a doc_id-only scan; ONE (geometry, raster-digest) exchange of per-frame scalars with partial min/count below it — payloads never shuffle",
    "q74_unpivot" -> "UNPIVOT through the standalone-Expand wire path: the consumed union scans lineitem once per measure branch, each branch pruned to exactly its (id, measure) columns",
    "d18_editdist_neardup" -> "PassJoin edit-distance dedup: probe/build chunk signatures join EQUI on (block, chunk-idx, length, xxhash64) with id-order + threshold-bounded levenshtein as the residual; candidate dedup then exact verify",
    "e15_stream_asof_join" -> "streaming as-of batch twin: the interval join stays equi on the key with the time range as residual, side filters push to both scans, and the latest-per-left aggregate combines map-side",
    "m13_dup_audio" -> "duplicate audio through the LOSSY codec: content-keyed μ-law encode + decode-and-fingerprint as named typed stages over a doc_id-only scan; one (n_samples, digest) exchange of scalars — payloads never shuffle",
    "s15_filtered_knn" -> "metadata-filtered ANN: the label predicate filters the assigned index BEFORE the broadcast probe join (on the saved layout it pushes into the parquet scan beside the probed-cell partition filters); top-k per query via one rank window",
    "t34_encoding_quality" -> "mojibake screen: replace-diff marker counts as ONE codegen'd projection over the scan — no exchange before the output sort",
    "e17_funnel" -> "ordered funnel: three window minima + the final per-user aggregate all share ONE user-keyed exchange; the scan carries only (ts, user_id, event_type)",
    "m14_phash_neardup" -> "perceptual-hash near-dup across resolutions: PNG encode (incl. REAL half-resolution re-encodes) + decode-pool-dHash as named typed stages over a doc_id-only scan; ONE dhash exchange of per-image scalars with partial count/min below it",
    "t35_gopher_quality" -> "Gopher quality rules: every fold (word count, mean length, symbol/alpha/stop-word counts) rides one projection over the scan — no exchange before the output sort",
    "d19_url_dedup" -> "canonical-URL dedup: normalization is map-side expressions feeding ONE canonical-key exchange with partial counts — digest-width rows only",
    "p23_delta_commits" -> "delta-version time travel: both version reads are plain multi-file scans (v1 files + v2's carried/rewritten set) unioned with ZERO exchanges; the manifest did the pruning before the plan existed",
    "s19_knn_ivfsq" -> "IVF-SQ8 probe: the saved cell layout scans int8 codes ONLY (ReadSchema n_id + array<tinyint>) under a literal probed-cell PartitionFilter; quantized-cosine shortlist, broadcast exact rerank",
    "s20_knn_bucketed" -> "large-queryset kNN: WindowGroupLimit (Partial below the per-query exchange, Final above) caps the candidate stream at k rows per query per partition; at THIS fixture scale Spark rightly broadcasts the tiny query side - the operator never requires it, and PlanQualitySpec pins the shuffled cell-join shape under a scale-emulating broadcast threshold",
    "t36_bpe_train" -> "BPE training as ONE wire ExtIteration (r15): a corpus-sized text-only scan builds the word-freq state; each consumed round is vocab-bounded - pair-count exchange with map-side partials, relational fetch-1 argmax, constant-key merge join, and the partition-capping state repartition (without which union-fed rounds double their task count)",
    "p26_shallow_clone" -> "shallow clone: all four labeled version reads are plain multi-file scans (the clone's v1 resolves ABSOLUTE source files); zero exchanges below the union — the manifests did all routing before the plan existed")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, sfDir)
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.tools.PlansDoc` at sf0.001; every query below\n")
    sb.append("runs the full substrait produce→encode→decode→consume round-trip\n")
    sb.append("first, so these plans are what a consumer of the WIRE form executes.\n")
    flagship.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count() // let AQE finalize
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      // plan strings can carry raw control chars from string LITERALS in
      // the plan (t30's NUL null-stratum sentinel) — escape them so the
      // file stays text, not "binary", to grep and diff
      sb.append(df.queryExecution.executedPlan.toString.take(4000)
        .flatMap(c => if (c != '\n' && c != '\t' && c < ' ')
          f"\\u${c.toInt}%04x" else c.toString))
      sb.append("\n```\n")
    }
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote PLANS.md (${flagship.size} plans)")
    spark.stop()
  }
}
