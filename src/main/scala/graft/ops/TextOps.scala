package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for large-scale training-data pipelines, all built
  * from codegen'd `org.apache.spark.sql.functions` (no UDFs): language-ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  * Each is a narrow projection — at 100 TB these run as a single map stage
  * over the scan with zero shuffles.
  */
object TextOps {

  /** Marker-word sets per language. Deliberately tiny and SQL-expressible so
    * the DuckDB oracle can replicate the exact heuristic; swap for character
    * n-gram profiles when accuracy matters more than verifiability.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "fr" -> Seq(" le ", " la ", " et ", " est "),
    "es" -> Seq(" el ", " de ", " que ", " es "),
    "de" -> Seq(" der ", " und ", " das ", " ist "))

  private def score(text: Column, words: Seq[String]): Column =
    words.map(w => when(text.like(s"%$w%"), 1).otherwise(0)).reduce(_ + _)

  /** Adds `score_<lang>` columns and an argmax `lang_pred` column. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val scored = markers.foldLeft(df) { case (d, (lang, ws)) =>
      d.withColumn(s"score_$lang", score(t, ws))
    }
    // fixed-precedence argmax (ties resolve to the earlier language)
    val Seq(en, fr, es, de) = markers.map { case (l, _) => col(s"score_$l") }
    scored.withColumn("lang_pred",
      when(en >= fr && en >= es && en >= de, "en")
        .when(fr >= es && fr >= de, "fr")
        .when(es >= de, "es")
        .otherwise("de"))
  }

  /** Whitespace-delimited token count (codegen'd regexp_count). */
  def tokenCount(textCol: Column): Column = regexp_count(textCol, lit("\\S+"))

  /** BPE-ish subword proxy count: alphabetic runs, digit runs, and isolated
    * punctuation each count as one piece — the usual cheap stand-in for a
    * real tokenizer when budgeting token counts at corpus scale.
    */
  def bpeTokenCount(textCol: Column): Column =
    regexp_count(textCol, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Quality metrics: length, token count, punctuation/stopword ratios and a
    * blended score in [0,1]. All arithmetic is per-row IEEE double —
    * deterministic and engine-independent.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_q", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_punct", regexp_count(t, lit("[.,;:!?]")))
      .withColumn("n_stopwords", regexp_count(t, lit("\\b(the|a|and|of|is|to)\\b")))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / greatest(col("n_chars_q"), lit(1)))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("avg_token_len",
        col("n_chars_q").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5
          + least(lit(1.0), col("stopword_ratio") * 5.0) * 0.3
          + when(col("avg_token_len") >= 3.0 && col("avg_token_len") <= 10.0, 0.2)
              .otherwise(0.0))
  }

  /** Whitespace-normalized lower-cased MD5 fingerprint — the canonical
    * document identity for exact dedup; shuffles 32-byte digests instead of
    * document payloads.
    */
  def fingerprint(textCol: Column): Column =
    md5(regexp_replace(lower(textCol), "\\s+", " "))

  /** Top-k corpus vocabulary by term frequency (vocabulary building /
    * stopword discovery). One shuffle with map-side partial counts — the
    * token explosion never crosses the network un-aggregated — then a
    * TakeOrdered top-k instead of a full sort.
    */
  def topTerms(df: DataFrame, textCol: String = "text", k: Int = 50): DataFrame =
    df.select(explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(k)

  /** PII scrubbing: email/phone patterns replaced with typed placeholder
    * tokens, with per-document match counts for audit. Pure per-row regex
    * projection — zero shuffles at any scale. Patterns use the regex subset
    * shared by Java and RE2 so any engine reproduces them byte-for-byte.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  def redact(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailPattern)))
      .withColumn("n_phones", regexp_count(t, lit(PhonePattern)))
      .withColumn("text_redacted",
        regexp_replace(regexp_replace(t, EmailPattern, "[EMAIL]"),
          PhonePattern, "[PHONE]"))
  }

  /** Benchmark decontamination: flag every corpus document that shares at
    * least one word n-gram with any document in the evaluation set — the
    * standard guard against test-set leakage into training data.
    *
    * Scale shape: the BENCHMARK side's distinct n-grams are small by
    * definition (eval sets are thousands of docs, not billions), so they
    * broadcast; corpus n-grams stream through the broadcast hash join
    * without ever shuffling text. Returns (idCol, n_hits) for contaminated
    * docs only — compose with an anti-join (`decontaminate`) to drop them.
    */
  /** Deterministic, leakage-free train/val/test split assignment by
    * CONTENT hash — the split a training pipeline must be able to replay
    * bit-identically on any engine, any partitioning, any day: the
    * assignment is a pure function of (id, text), never of row order,
    * sampling state, or a seed column that has to be stored.
    *
    * Mechanics: md5 of `id ':' text`, first two hex chars = 256 buckets
    * (md5 is uniform per byte, so bucket shares are within ±1/256 of the
    * requested fractions); buckets `[0, trainBuckets)` → train,
    * `[trainBuckets, trainBuckets+valBuckets)` → val, rest → test. All
    * string ops — md5 + substring + comparison — are byte-identical across
    * engines (the DuckDB oracle replays the rule verbatim). Per-row map
    * work only: no shuffle, no state, embarrassingly parallel at any SF.
    */
  def splitAssign(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  trainBuckets: Int = 205, valBuckets: Int = 26): DataFrame = {
    require(trainBuckets >= 1 && valBuckets >= 1 &&
      trainBuckets + valBuckets < 256,
      s"split buckets out of range: train=$trainBuckets val=$valBuckets")
    def hex2(b: Int) = f"$b%02x"
    val h = substring(md5(concat(col(idCol).cast("string"), lit(":"),
      col(textCol))), 1, 2)
    df.withColumn("split",
      when(h < lit(hex2(trainBuckets)), "train")
        .when(h < lit(hex2(trainBuckets + valBuckets)), "val")
        .otherwise("test"))
  }

  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 8): DataFrame = {
    // grams travel HASHED (xxhash64 longs): the broadcast build side and the
    // corpus-side probe stream carry 8 bytes per gram instead of the ~80-byte
    // 8-word strings (measured 15× wall at a 10× rehearsal with string grams
    // — the join itself, not the explode, was the cost). |matches| unchanged:
    // gram sets are distinct per doc and a cross-side 64-bit collision is
    // ~1e-13-improbable and deterministic — certified by the exact
    // string-gram oracle. The hashes come from the fused shingle_hashes
    // kernel (opt round 16): same sorted-distinct hash SET as
    // xxhash64(wordNgrams(...)) — the composed form materialized every
    // n-word gram STRING per doc just to hash it (the d16-measured cost),
    // the kernel hashes byte ranges of lower(text) in place.
    def grams(df: DataFrame, cols: Column*) = df.select(
      cols :+ explode(graft.functions.ShingleFunctions
        .shingleHashes(col(textCol), n)).as("gh"): _*)
    val bench = grams(benchmark).select("gh").distinct()
    grams(corpus, col(idCol))
      .join(broadcast(bench), "gh")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document contamination REPORT: every corpus doc with its distinct
    * n-gram count, benchmark-overlap count, and overlap fraction — zero-hit
    * docs included at 0.0 (a left join keeps them), so thresholding this
    * frame IS the decontamination policy knob ("drop ≥ 20% overlap" rather
    * than [[decontaminate]]'s any-hit rule). Same scale shape as
    * `contaminationHits`: the eval side's distinct hashed grams broadcast,
    * corpus grams stream 8 bytes each, text never shuffles.
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 8): DataFrame = {
    // fused shingle_hashes kernel (opt round 16): identical hash set and —
    // because the kernel output is DISTINCT, like wordNgrams' — identical
    // n_grams count (modulo the documented ~1e-13 64-bit gram-collision
    // tolerance every hashed-gram oracle carries; same argument as d03b's
    // size(shingle_hashes) swap)
    val bench = benchmark.select(
      explode(graft.functions.ShingleFunctions
        .shingleHashes(col(textCol), n)).as("gh"))
      .distinct().withColumn("__hit", lit(1))
    corpus.select(col(idCol), graft.functions.ShingleFunctions
        .shingleHashes(col(textCol), n).as("gs"))
      .select(col(idCol), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("gh"))
      .join(broadcast(bench), Seq("gh"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col(idCol), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 6)
          .as("contamination"))
  }

  /** Corpus minus every document flagged by `contaminationHits`. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 8): DataFrame =
    corpus.join(
      contaminationHits(corpus, benchmark, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Distinct word n-grams of a text column (whitespace tokens, lowercased);
    * shorter-than-n docs contribute their whole token string as one gram so
    * exact short duplicates still collide. */
  def wordNgrams(text: Column, n: Int): Column =
    expr(
      s"""array_distinct(flatten(transform(array(split(lower(${text.toString}), ' ')),
         |  ws -> CASE WHEN size(ws) < $n THEN array(array_join(ws, ' '))
         |        ELSE transform(sequence(0, size(ws) - $n),
         |               i -> array_join(slice(ws, i + 1, $n), ' ')) END)))""".stripMargin)

  /** Context-window chunking: fixed-size character windows with overlap —
    * the standard long-document preprocessing for bounded-context models.
    * One explode per document, chunks stay in their document's partition;
    * swap `chunkChars` for a token budget by pre-tokenizing upstream.
    */
  def chunk(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            chunkChars: Int = 256, overlap: Int = 64): DataFrame = {
    require(overlap >= 0 && overlap < chunkChars, "need 0 <= overlap < chunkChars")
    val stride = chunkChars - overlap
    df.select(col(idCol),
      posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(cast(ceil((length($textCol) - $overlap)
           |    / CAST($stride AS DOUBLE)) AS INT), 1) - 1),
           |  k -> substring($textCol, k * $stride + 1, $chunkChars))""".stripMargin))
        .as(Seq("chunk_id", "chunk")))
  }

  /** Fixed-size token windows as segment strings: the segment generator for
    * [[dedupSegments]] on corpora without natural line/paragraph breaks.
    * The split word array binds ONCE as a lambda variable (array wrap) —
    * referencing it per window would re-split the document per segment.
    */
  def tokenWindowSegments(textCol: String, n: Int): org.apache.spark.sql.Column =
    expr(
      s"""element_at(transform(array(split($textCol, ' ')),
         |  ws -> transform(
         |    sequence(0, greatest(cast(ceil(size(ws) / ${n}.0) AS INT), 1) - 1),
         |    k -> array_join(slice(ws, k * $n + 1, $n), ' '))), 1)""".stripMargin)

  /** Segment-level exact dedup — RefinedWeb/C4-style line dedup generalized:
    * split every document into segments, keep each distinct segment only at
    * its FIRST occurrence in (id, position) order, reassemble survivors in
    * original order (documents left with no segments drop). Near-duplicate
    * documents shrink to their novel content instead of being dropped whole
    * — the granularity between exact doc-dedup (d01) and near-dup pair
    * removal (d02-d08). Returns (id, text_deduped, n_segments_kept).
    *
    * Scale design: segments shuffle ONCE keyed by their md5 digest (the
    * global first-occurrence decision is a window min over the digest
    * partition — no self-join), and kept segments shuffle once more back to
    * their document for reassembly. Only segment text rides those shuffles;
    * if segments are huge, pre-hash to (digest, id, pos) for the decision
    * and re-join the winners against a segment scan instead.
    */
  def dedupSegments(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    segments: org.apache.spark.sql.Column = null): DataFrame = {
    val segCol = Option(segments).getOrElse(tokenWindowSegments(textCol, 20))
    val segs = df.select(col(idCol), posexplode(segCol).as(Seq("pos", "seg")))
      .filter(length(col("seg")) > 0)
      .withColumn("digest", md5(col("seg")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("digest")
    segs
      .withColumn("first",
        min(struct(col(idCol).as("i"), col("pos").as("p"))).over(w))
      .filter(col("first.i") === col(idCol) && col("first.p") === col("pos"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("seg")))),
            s => s.getField("seg")), " ").as("text_deduped"),
        count(lit(1)).as("n_segments_kept"))
  }

  /** Exact per-group length quantiles (p25/p50/p75, linearly interpolated —
    * the same R-7 definition DuckDB's quantile_cont uses). Exact percentile
    * is a one-shuffle sort-based aggregate; switch to percentile_approx at
    * corpus scale when the group row counts make exact collection too wide.
    */
  def lengthQuantiles(df: DataFrame, byCol: String = "lang",
                      textCol: String = "text"): DataFrame =
    df.groupBy(col(byCol))
      .agg(
        percentile(length(col(textCol)), lit(0.25)).as("p25"),
        percentile(length(col(textCol)), lit(0.5)).as("p50"),
        percentile(length(col(textCol)), lit(0.75)).as("p75"),
        count(lit(1)).as("n_docs"))

  /** BM25 lexical top-k search (Robertson/Sparck-Jones, the Lucene idf
    * form) — the retrieval primitive a curation pipeline uses to pull
    * topic slices out of a corpus without embeddings. One tf shuffle
    * (term-in-doc counts), vocab-sized df and tiny query sides broadcast,
    * N/avgdl as scalar subqueries; per-term scores accumulate as scaled
    * longs (t14 convention) so the PER-DOC sum — and therefore the
    * RANKING — is integer-exact and engine-replayable, no float-sum-order
    * tie flips.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(String, Seq[String])],
               k: Int = 10, idCol: String = "doc_id",
               textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol).as("doc_id"),
      filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("toks"))
    // The query-term set is driver-known, so everything downstream of the
    // tokenizer is pre-filtered to it: the tf shuffle carries only
    // query-term occurrences and the df table is ≤|query terms| rows —
    // never the corpus vocabulary (which at 100 TB exceeds any broadcast).
    val qTermSet = queries.flatMap(_._2).distinct
    val exploded = toks.select(col("doc_id"), size(col("toks")).as("dl"),
      explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(qTermSet))
    val tf = exploded.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double")).scalar()
    val avgdl = toks.agg(sum(size(col("toks"))).cast("double") /
      count(lit(1))).scalar()
    // explicit query-term tf: a term repeated in one query weights its
    // contribution by qtf (same numbers the old duplicated-row join gave,
    // but as one row per (query, term) — no accidental-looking fanout)
    val q = queries.toDF("query_id", "terms")
      .select(col("query_id"), explode(col("terms")).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("qtf"))
    val idf = log((nDocs - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tsc = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score_num").desc, col("doc_id").asc)
    tf.join(broadcast(q), "term")
      .join(broadcast(dfTerm), "term")
      .withColumn("__s", col("qtf") * round(tsc * lit(1e9)).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__s")).as("score_num"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("score_num").cast("double") / 1e9, 6).as("score"))
  }

  /** Winsorized / trimmed per-group statistics — the robust-mean report a
    * corpus health check wants when a handful of giant or empty documents
    * would swamp a plain mean. Exact per-group quantiles (`percentile`,
    * the R-7 interpolation DuckDB's quantile_cont matches) bound the
    * trusted band; survivors' mean (trimmed) and the clamp-to-band mean
    * (winsorized) accumulate as exact DECIMAL(27,15) so the result is
    * summation-order-independent. Shape: one quantile aggregate over the
    * groups (tiny output) broadcast back, one final aggregate — two
    * passes, no wide join.
    */
  def winsorizedStats(df: DataFrame, byCol: String = "lang",
                      valueCol: String = "n_chars",
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val q = df.groupBy(col(byCol)).agg(
      percentile(col(valueCol), lit(lo)).as("q_lo"),
      percentile(col(valueCol), lit(hi)).as("q_hi"))
    val v = col(valueCol).cast("double")
    val inBand = v >= col("q_lo") && v <= col("q_hi")
    val dec = (c: Column) => c.cast(DecimalType(27, 15))
    df.join(broadcast(q), byCol)
      .groupBy(col(byCol), col("q_lo"), col("q_hi"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(inBand, 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(inBand, dec(v))).cast("double") /
          sum(when(inBand, 1L).otherwise(0L)), 6).as("trimmed_mean"),
        round(sum(dec(greatest(col("q_lo"), least(col("q_hi"), v))))
          .cast("double") / count(lit(1)), 6).as("winsor_mean"))
      .select(col(byCol), col("n_docs"), col("n_kept"), col("q_lo"),
        col("q_hi"), col("trimmed_mean"), col("winsor_mean"))
  }

  /** Statistical-LM quality score (the CCNet / Wenzek et al. 2020 signal,
    * with a char-bigram model standing in for KenLM): train P(c2|c1) on the
    * corpus itself, score each document by its mean log-probability —
    * boilerplate and natural text score high, character noise scores low.
    *
    * Determinism: each bigram's log-prob rounds to 9 dp and accumulates as
    * an exact scaled LONG (nano-units) before the mean, so the score is
    * independent of partition/summation order (float addition is not
    * associative) and any engine reproduces it bit for bit — long adds stay
    * inside whole-stage codegen where a DECIMAL accumulator would burn a
    * BigDecimal per bigram. |ln p| < 50 ⇒ overflow needs > 10^8 bigrams in
    * ONE document; beyond that, chunk documents first.
    *
    * Scale shape: the model is bounded by charset² regardless of corpus
    * size. Model building aggregates with map-side combine (the bigram
    * explosion collapses to ≤ charset² rows before the exchange). For a
    * bounded charset (≤ `maxLiteralModel` bigrams — any Latin-script
    * corpus) the model collects to the driver (the same bounded-collect
    * contract as the IVF quantizer) and scoring becomes a SHUFFLE-FREE
    * narrow fold over a literal map — no second explosion, no join, no
    * doc-keyed exchange. A CJK-scale charset falls back to the broadcast
    * join + one doc-keyed shuffle. Documents shorter than two characters
    * carry no signal and are dropped (inner semantics).
    */
  def charLmScore(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxLiteralModel: Int = 65536): DataFrame = {
    val base = df.filter(length(col(textCol)) >= 2)
    // model fit: ONE TypedImperativeAggregate pass (charlm_fit_agg) — a
    // per-task HashMap of the ~charset² distinct grams, maps merged across
    // partitions. The explode + groupBy it replaces materialized one row
    // per corpus BIGRAM (~300 per document) through a hash aggregate — the
    // dominant t14/t27 cost at 100× (35.5 s solo; the scoring side was
    // already a kernel). The aggregate evaluates NULL past maxLiteralModel
    // distinct grams, preserving the CJK/large-charset guard: the fallback
    // fits distributed and scores through a broadcast join, never
    // collecting an unbounded model to the driver.
    val fitRow = base.select(graft.functions.CharLmFunctions
      .charlmFitAgg(lower(col(textCol)), maxLiteralModel).as("m")).head()
    if (!fitRow.isNullAt(0)) {
      val bcMap = fitRow.getMap[String, Long](0)
      // p(g) = count(g) / count(first code point of g) — the same long/long
      // double division the frame-side fit performed
      val pcSum: Map[Int, Long] = bcMap.toSeq.groupBy(_._1.codePointAt(0))
        .map { case (cp, es) => cp -> es.map(_._2).sum }
      // the codegen'd charlm_fold kernel builds a hash table ONCE per plan
      // from this literal map and folds each document in one O(1)-lookup
      // pass. Identical arithmetic (HALF_UP-scaled long logs, wrapping
      // sum, missing bigram → NULL), so the oracles are unchanged. Entry
      // order is lookup-irrelevant; keep it deterministic (by gram) so the
      // plan bytes are stable
      val kvs = bcMap.toSeq.sortBy(_._1).flatMap { case (g, c) =>
        Seq(lit(g), lit(c.toDouble / pcSum(g.codePointAt(0)))) }
      val modelMap = map(kvs: _*)
      val f = graft.functions.CharLmFunctions.charlmFold(
        lower(col(textCol)), modelMap)
      base
        .select(col(idCol), f.as("f"))
        .select(col(idCol),
          col("f").getField("n_bigrams").as("n_bigrams"),
          round(col("f").getField("slp").cast("double") / 1e9
            / col("f").getField("n_bigrams"), 6).as("avg_logp"))
    } else {
      // big-model fallback: distributed fit (explode + groupBy — lower(text)
      // binds ONCE as a lambda variable; referenced directly inside the
      // per-bigram lambda it would re-lowercase the whole document once per
      // bigram) and a broadcast-join scoring pass
      val grams = base
        .select(col(idCol), explode(expr(
          s"""element_at(transform(array(lower($textCol)),
             |  tx -> transform(sequence(1, length(tx) - 1),
             |          i -> substring(tx, i, 2))), 1)""".stripMargin)).as("g"))
      val bc = grams.groupBy("g").agg(count(lit(1)).as("bc"))
      val pc = bc.groupBy(substring(col("g"), 1, 1).as("c1"))
        .agg(sum("bc").as("pc"))
      val model = bc.join(pc, substring(col("g"), 1, 1) === col("c1"))
        .select(col("g"), (col("bc").cast("double") / col("pc")).as("p"))
      grams.join(broadcast(model), "g")
        .groupBy(col(idCol))
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(sum(round(log(col("p")) * 1e9).cast("long")).cast("double")
            / 1e9 / count(lit(1)), 6).as("avg_logp"))
    }
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus char-LM ([[charLmScore]]) and split each language into
    * `nBuckets` equal-size bands by model fit — bucket 1 ("head") is the
    * best-scoring third, "tail" the worst — the standard pre-training
    * curation step that keeps head+middle and drops (or down-weights) the
    * tail. Assignment is ntile over (avg_logp DESC, doc_id) — integer-
    * exact and engine-replayable, no FP threshold comparisons at bucket
    * boundaries.
    *
    * Scale shape: scoring is charLmScore's shuffle-free literal-model fold;
    * the lang join is one doc-keyed hash join; the ntile window shuffles
    * once on lang. ntile needs each language's scores in one partition —
    * exact-rank semantics, certified here; at 100 TB per-language volumes,
    * swap the window for per-lang score THRESHOLDS from a bounded sample
    * (the CCNet production recipe) and label by comparison, keeping this
    * exact variant as the calibration oracle on samples.
    */
  def perplexityBuckets(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", langCol: String = "lang",
                        nBuckets: Int = 3): DataFrame = {
    val scores = charLmScore(df, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol).orderBy(col("avg_logp").desc, col(idCol))
    scores.join(df.select(col(idCol), col(langCol)), idCol)
      .withColumn("bucket", ntile(nBuckets).over(w))
      .withColumn("bucket_label",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets, "tail").otherwise("middle"))
  }

  /** Longest run of adjacent equal elements in the array SQL expression
    * `arr` (array&lt;string&gt;) — over a sorted array this is the max element
    * frequency; over the raw token stream it is the longest consecutive
    * repeat. One codegen'd fold, no explode.
    */
  private def maxRunSql(arr: String): String =
    s"""aggregate($arr,
       |  named_struct('prev', '', 'run', 0, 'best', 0),
       |  (s, w) -> named_struct(
       |    'prev', w,
       |    'run',  IF(s.prev = w, s.run + 1, 1),
       |    'best', GREATEST(s.best, IF(s.prev = w, s.run + 1, 1))),
       |  s -> s.best)""".stripMargin

  /** Per-document top-k TF-IDF terms (smoothed idf: ln((N+1)/(df+1)) + 1,
    * the scikit-learn convention) — keyword extraction / topic tagging for
    * corpus curation. Deterministic end to end: scores round to 6 dp BEFORE
    * ranking and ties break on the term string, so any engine reproduces
    * the exact top-k.
    *
    * Scale shape: one shuffle for (doc, term) term frequencies, the
    * document-frequency table derives from it with map-side combine, and
    * the per-doc ranking is one window pass keyed by the same doc id the
    * tf shuffle already established. The idf side of the join is always
    * broadcast: the code forces `broadcast(idf)`, whatever its size, so
    * neither AQE nor a shuffle join ever takes over. That is safe only
    * while the vocabulary (one (term, idf) row per distinct lower-cased
    * token) fits every executor's memory and the broadcast limit; a
    * corpus whose distinct-token count grows with its size (ids, hashes,
    * URLs in the text) breaks the assumption and needs the hint removed
    * or the vocabulary pruned first.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    // REFUTED (OPTIMIZATION_r16.md "t13_tfidf"): making this branch's
    // aggregate reference tf's count (sum(when(tf>=1,1,0))) so both
    // branches canonicalize to the same (doc,term) aggregate does NOT get
    // the token explode+shuffle reused — AQE stage reuse never fired on
    // the branches (host or wire: hashExchanges 6→6, reused 0, t13 solo
    // 6.0→6.8 s at 100×), so the pruned-distinct derivation below stays
    // (it is strictly cheaper per row than carrying the unused count).
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        log((col("n_docs") + 1).cast("double") / (col("df_t") + 1)) + 1.0)
    // broadcast the VOCAB-sized side explicitly: the planner's post-agg
    // estimate picked the |doc×term| tf side as the build side (a
    // corpus-scale broadcast hazard); idf is bounded by the vocabulary
    tf.join(broadcast(idf.select("term", "idf")), "term")
      .withColumn("score", round(col("tf") * col("idf"), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("score"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1): fraction of
    * duplicate words, character share of the most frequent word, share of
    * the most frequent word bigram, and the longest consecutive token run —
    * the standard signals for boilerplate / degenerate generation detection
    * in training-data curation. `repetitive` applies the blended cutoff.
    *
    * Scale shape: a pure narrow projection — tokens are bound ONCE as a
    * lambda variable (the single-element-array wrap; a bare column reference
    * would re-split the text per downstream use after CollapseProject), all
    * four metrics fold inside one whole-stage-codegen stage, and nothing
    * shuffles at any corpus size. Frequencies come from sorted-run lengths
    * (max frequency == longest adjacent run after array_sort), not a
    * groupBy — per-document state never leaves the row.
    */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val stats = expr(
      s"""element_at(transform(
         |  array(filter(split(lower($textCol), ' '), w -> w != '')),
         |  ws -> named_struct(
         |    'n_words', size(ws),
         |    'n_distinct', size(array_distinct(ws)),
         |    'top_word_n', ${maxRunSql("array_sort(ws)")},
         |    'top_bigram_n', CASE WHEN size(ws) < 2 THEN 0 ELSE
         |      ${maxRunSql(
        "array_sort(zip_with(slice(ws, 1, size(ws) - 1), " +
          "slice(ws, 2, size(ws) - 1), (a, b) -> concat(a, ' ', b)))")} END,
         |    'max_token_run', ${maxRunSql("ws")})), 1)""".stripMargin)
    // thresholds apply to the UNROUNDED ratios (the oracle's semantics);
    // rounding is only for the REPORTED fractions — classifying on rounded
    // values would diverge for ratios within 5e-7 of a threshold
    df.select(col(idCol), stats.as("st"))
      .select(
        col(idCol),
        col("st.n_words").as("n_words"),
        when(col("st.n_words") === 0, 0.0)
          .otherwise(lit(1.0) - col("st.n_distinct").cast("double") /
            col("st.n_words")).as("dup_word_raw"),
        when(col("st.n_words") === 0, 0.0)
          .otherwise(col("st.top_word_n").cast("double") /
            col("st.n_words")).as("top_word_raw"),
        when(col("st.n_words") < 2, 0.0)
          .otherwise(col("st.top_bigram_n").cast("double") /
            (col("st.n_words") - 1)).as("top_bigram_raw"),
        col("st.max_token_run").as("max_token_run"))
      .withColumn("repetitive",
        col("top_word_raw") > 0.2 || col("top_bigram_raw") > 0.1 ||
          col("max_token_run") >= 4)
      .select(col(idCol), col("n_words"),
        round(col("dup_word_raw"), 6).as("dup_word_frac"),
        round(col("top_word_raw"), 6).as("top_word_frac"),
        round(col("top_bigram_raw"), 6).as("top_bigram_frac"),
        col("max_token_run"), col("repetitive"))
  }

  /** Deterministic 256-bucket weight table for [[hashedLinearScore]]:
    * bucket "00".."ff" → an integer weight in [-1024, 1023] via an exact
    * LCG step — integer arithmetic only, so ANY engine reproduces it
    * (the oracle rebuilds the same table from printf('%02x', i)). */
  def defaultBucketWeights: Map[String, Long] =
    (0 until 256).map(i =>
      f"$i%02x" -> (((i.toLong * 1103515245L + 12345L) % 2048L) - 1024L)).toMap

  /** Hashed linear text classifier scoring — the fastText-shaped quality/
    * domain filter: lowercase word unigrams + bigrams hash into 256
    * md5-prefix buckets; the document score is the SUM OF INTEGER bucket
    * weights (a literal map riding the plan), so scoring is one narrow
    * zero-shuffle pass and the result is EXACT — no float summation order
    * to disagree about, which is what lets a foreign engine replay the
    * scores bit-for-bit. `score` rescales to [-1, 1]-ish for human use;
    * certification rides `score_num`/`n_features`.
    *
    * Scale notes: per-row compute ∝ tokens (md5 per feature); the weight
    * map is 256 entries regardless of corpus size. A trained production
    * model swaps in its own `weights` (bucket → quantized integer weight)
    * without touching the plan shape.
    */
  def hashedLinearScore(df: DataFrame, textCol: String = "text",
                        weights: Map[String, Long] = defaultBucketWeights,
                        idCol: String = "doc_id",
                        scoreScale: Double = 1024.0): DataFrame = {
    val wmap = typedLit(weights)
    val score = aggregate(col("__buckets"),
      lit(0L), (acc, b) => acc + coalesce(element_at(wmap, b), lit(0L)))
    df.withColumn("__buckets", hashedFeatureBuckets(col(textCol)))
      .withColumn("n_features", size(col("__buckets")).cast("long"))
      .withColumn("score_num", score)
      .withColumn("score", col("score_num").cast("double") /
        (lit(scoreScale) * greatest(col("n_features"), lit(1)).cast("double")))
      .drop("__buckets")
  }

  /** word uni+bigram features of a text column, each as its 2-hex-char
    * md5-prefix bucket — the shared feature hashing of
    * [[hashedLinearScore]] and [[dsirWeights]]/[[dsirScore]].
    * Fused kernel (opt round 16): array-identical to the composed
    * `transform(concat(filter(split(lower(t),"[^a-z]+"),…), zip_with(…)),
    * f -> substring(md5(f),1,2))` — OpsSpec pins the equality;
    * the composed form materialized every token/bigram STRING just to
    * md5-prefix it (the d15/d16 shingle-string cost, same fix). */
  def hashedFeatureBuckets(textCol: Column): Column =
    graft.functions.FeatureBucketFunctions.featureBuckets(textCol)

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): fit
    * hashed-feature bag models of the TARGET distribution (rows matching
    * `targetFilter`) and the RAW corpus, return per-bucket scaled-long
    * log-ratio weights w(b) = round((ln p̂_t(b) − ln p̂_r(b))·1e9)
    * (Laplace-smoothed). One aggregate over the exploded features → 256
    * rows collected to the driver — the fit is a fixed-size sketch of the
    * corpus, never corpus-sized, and the weights ride every scoring plan
    * as a literal map.
    */
  def dsirWeights(df: DataFrame, targetFilter: Column,
                  textCol: String = "text"): Map[String, Long] = {
    val counts = df
      .select(targetFilter.as("is_t"),
        explode(hashedFeatureBuckets(col(textCol))).as("b"))
      .groupBy("b")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nt = counts.map(_._2).sum.toDouble + 256.0
    val nr = counts.map(_._3).sum.toDouble + 256.0
    val byB = counts.map(c => c._1 -> (c._2, c._3)).toMap
    (0 until 256).map { i =>
      val b = f"$i%02x"
      val (ct, cr) = byB.getOrElse(b, (0L, 0L))
      b -> math.round((math.log((ct + 1.0) / nt) -
        math.log((cr + 1.0) / nr)) * 1e9)
    }.toMap
  }

  /** Corpus feature-drift report: KL/JS divergence terms between two
    * corpus versions' hashed-feature distributions — "did crawl N+1 shift
    * under the tokenizer" as 256 rows of integers, answerable without
    * reading either corpus twice. Laplace-smoothed bucket probabilities
    * p (v1) and q (v2); per bucket the scaled-long terms (×1e12, the t14
    * ln convention — integer rows any engine replays):
    * t_pq = p·ln(p/q), t_qp = q·ln(q/p), t_js = p/2·ln(p/m)+q/2·ln(q/m)
    * with m = (p+q)/2. Sum/1e12 gives KL(p‖q), KL(q‖p), JS. ONE plan:
    * tagged union → one 256-group aggregate; totals ride as scalar
    * subqueries; the full bucket domain is a 256-row inline table.
    */
  def featureDrift(v1: DataFrame, v2: DataFrame,
                   textCol: String = "text"): DataFrame = {
    val spark = v1.sparkSession
    import spark.implicits._
    val tagged = v1.select(lit(1).as("v"),
        explode(hashedFeatureBuckets(col(textCol))).as("b"))
      .unionAll(v2.select(lit(2).as("v"),
        explode(hashedFeatureBuckets(col(textCol))).as("b")))
    val counts = tagged.groupBy("b").agg(
      sum(when(col("v") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("v") === 2, 1L).otherwise(0L)).as("c2"))
    val n1 = counts.agg(sum(col("c1")).cast("double")).scalar()
    val n2 = counts.agg(sum(col("c2")).cast("double")).scalar()
    val domain = (0 until 256).map(i => f"$i%02x").toDF("b")
    val withP = domain.join(counts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .withColumn("p", (col("c1") + 1).cast("double") / (n1 + lit(256.0)))
      .withColumn("q", (col("c2") + 1).cast("double") / (n2 + lit(256.0)))
      .withColumn("m", (col("p") + col("q")) / 2)
    def t(c: Column): Column = round(c * lit(1e12)).cast("long")
    withP.select(col("b"), col("c1"), col("c2"),
        t(col("p") * log(col("p") / col("q"))).as("t_pq"),
        t(col("q") * log(col("q") / col("p"))).as("t_qp"),
        t(col("p") / 2 * log(col("p") / col("m")) +
          col("q") / 2 * log(col("q") / col("m"))).as("t_js"))
  }

  /** Score every row with [[dsirWeights]]' scaled-long log-ratios:
    * `score_num` (exact integer sum — order-independent, engine-portable)
    * and `score` = avg per-feature log importance ratio. Zero shuffles;
    * docs scoring high look more target-like. Feed the scores to
    * Pipeline.weightedSample / top-k selection for the resampling step. */
  def dsirScore(df: DataFrame, weights: Map[String, Long],
                textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    hashedLinearScore(df, textCol, weights, idCol, scoreScale = 1e9)

  /** CCNet-style boilerplate removal — the inverse of [[dedupSegments]]:
    * instead of keeping each distinct segment once, DROP every segment whose
    * corpus-wide document frequency reaches `minDocFreq` (navigation chrome,
    * cookie banners, license footers — text that repeats across many
    * documents is boilerplate, not content). Documents are reassembled from
    * their surviving segments in original order; a document whose segments
    * are all boilerplate survives with an empty `text_clean` so downstream
    * stages see the removal, not a silent row drop. Returns
    * (id, text_clean, n_kept, n_removed).
    *
    * Scale design: two shuffles + one join. (1) segment doc-frequency is an
    * exact two-level aggregate keyed by the segment digest ((digest, id)
    * dedup then digest count — both with map-side partial aggregation); the
    * boilerplate set it produces is tiny by construction (only segments
    * repeated across >= minDocFreq docs — at 100 TB switch the first level
    * to approx_count_distinct if exactness of the threshold is negotiable).
    * (2) segments re-shuffle keyed by the digest to pick up the boilerplate
    * flag (AQE broadcasts the small filtered side), then (3) one shuffle
    * back to the document for ordered reassembly. Only segment text rides
    * the shuffles; pre-hash to (digest, id, pos) and re-join winners against
    * a second scan if segments are huge (same escape hatch as
    * [[dedupSegments]]).
    */
  def removeBoilerplate(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 3,
                        minDocFreq: Int = 5): DataFrame = {
    require(n >= 1 && minDocFreq >= 2,
      s"removeBoilerplate: need n >= 1, minDocFreq >= 2 (got $n, $minDocFreq)")
    val segs = df
      .select(col(idCol), posexplode(tokenWindowSegments(textCol, n))
        .as(Seq("pos", "seg")))
      .filter(length(col("seg")) > 0)
      .withColumn("digest", md5(col("seg")))
    val boiler = segs.select(col("digest"), col(idCol)).distinct()
      .groupBy("digest").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocFreq)
      .select(col("digest"), lit(true).as("is_boiler"))
    segs.join(boiler, Seq("digest"), "left")
      .withColumn("keep", col("is_boiler").isNull)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            sort_array(collect_list(
              when(col("keep"), struct(col("pos"), col("seg"))))),
            s => s.getField("seg")), " ").as("text_clean"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Encoding-corruption screen (mojibake detector): per-document counts of
    * the marker sequences that survive every real-world corruption route a
    * crawl corpus sees —
    *   - U+FFFD replacement characters (decoder already gave up),
    *   - C0 control characters that never belong in text (NUL, SOH, BS),
    *   - `Ã` (UTF-8 multibyte lead read as Latin-1: é→Ã©, ü→Ã¼, …),
    *   - `â€` (UTF-8 punctuation read as windows-1252: ’→â€™, “→â€œ)
    * — plus an `enc_ok` verdict (all counts zero). Counting is
    * replace-diff arithmetic (`length(x) − length(replace(x, marker))`),
    * not a regex class: exact, engine-portable (identical semantics in the
    * DuckDB oracle), and codegen'd. A pure projection: at 100 TB this is
    * one map stage over the scan, zero shuffles.
    */
  def encodingQuality(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def cnt(marker: String): Column =
      ((length(col(textCol)) -
        length(replace(col(textCol), lit(marker), lit("")))) /
        marker.length).cast("long")
    val nRepl = cnt("\ufffd")                     // U+FFFD replacement char
    val nCtrl = cnt("\u0000") + cnt("\u0001") + cnt("\u0008") // NUL SOH BS
    val nLatin1 = cnt("\u00c3")                   // 'A-tilde' lead byte
    val nWin1252 = cnt("\u00e2\u20ac")            // 'a-circumflex euro' pair
    df.select(col(idCol),
      nRepl.as("n_replacement"),
      nCtrl.as("n_ctrl"),
      nLatin1.as("n_latin1_mojibake"),
      nWin1252.as("n_win1252_mojibake"),
      (nRepl + nCtrl + nLatin1 + nWin1252 === 0).as("enc_ok"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 — the
    * public heuristics every crawl-corpus pipeline reimplements): word
    * count bounds, mean word length bounds, symbol-to-word ratio
    * ('#' and '...'), alphabetic-word fraction, and a minimum stop-word
    * count — plus the conjunction verdict `gopher_ok`. All HOF folds over
    * ONE split (no UDFs, no regex classes beyond the case-insensitive
    * `[A-Za-z]`; stop words match on `lower(w)`); ratios are IEEE
    * doubles over exact integer counts so any engine replays them
    * bit-identically. A pure projection: zero shuffles at any scale.
    */
  def gopherQuality(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    minWords: Int = 50, maxWords: Int = 100000,
                    minMeanWordLen: Double = 3.0,
                    maxMeanWordLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1,
                    minAlphaFraction: Double = 0.8,
                    minStopWords: Int = 2): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // split on WHITESPACE RUNS (the cited Gopher rules tokenize on
    // whitespace, not single spaces — newlines/tabs must separate words)
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    def cnt(marker: String): Column =
      ((length(col(textCol)) -
        length(replace(col(textCol), lit(marker), lit("")))) /
        marker.length).cast("long")
    val nWords = size(words).cast("long")
    val safeN = greatest(nWords, lit(1L)).cast("double")
    val meanLen = aggregate(words, lit(0L),
      (acc, w) => acc + length(w)).cast("double") / safeN
    val nSymbols = cnt("#") + cnt("...")
    // case-INSENSITIVE per the cited A1.1 rules: "NASA" and "I" are
    // alphabetic words, and sentence-initial "The" counts as a stop word
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(filter(words,
      w => lower(w).isInCollection(stops))).cast("long")
    df.select(col(idCol),
      nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      nSymbols.as("n_symbols"),
      round(nAlpha.cast("double") / safeN, 6).as("alpha_fraction"),
      nStop.as("n_stopwords"),
      (nWords >= minWords && nWords <= maxWords &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        nSymbols.cast("double") / safeN <= maxSymbolRatio &&
        nAlpha.cast("double") / safeN >= minAlphaFraction &&
        nStop >= minStopWords).as("gopher_ok"))
  }

  /** Canonical form of an http(s) URL — the normalization that makes
    * URL-keyed dedup catch the same page crawled five different ways:
    * scheme and host lowercase, default port stripped (`:80` for http,
    * `:443` for https), trailing path slashes stripped (bare root stays
    * `/`), `utm_*` tracking parameters dropped, remaining query parameters
    * SORTED, fragment dropped. Pure codegen'd string/regex/HOF column ops
    * (the regexes are RE2-safe, so any engine replays them); no UDF, no
    * parse_url dependency. Non-URL inputs canonicalize to degenerate
    * strings rather than throwing — run a format screen first if the
    * column is untrusted.
    */
  def canonicalUrl(url: Column): Column = {
    // fragment FIRST: a '?' inside the fragment (".../docs#install?step=2")
    // must not be mistaken for the query start — everything from the first
    // '#' is dropped before any other component parses
    val base = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(base,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host =
      when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .otherwise(hostPort)
    val path0 = regexp_replace(
      regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val params = filter(split(regexp_extract(base, "\\?(.*)$", 1), "&"),
      p => length(p) > 0 && !p.startsWith("utm_"))
    val q = concat_ws("&", array_sort(params))
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }
}
