package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Pipeline-operator specs over the sf0.001 documents/embeddings tables.
  * The testdata generator plants ~5% near-duplicate documents (jaccard ≥0.9,
  * everything else <0.1), which these specs use as ground truth.
  */
class OpsSpec extends SparkTestBase {

  private def docs = { Tables.register(spark, sfDir); spark.table("documents") }
  private def embs = { Tables.register(spark, sfDir); spark.table("embeddings") }

  test("shingles produce k-grams") {
    val sh = docs.limit(5).withColumn("sh", Dedup.shingles("text", 3))
      .select(col("doc_id"), size(col("sh")).as("n"),
        size(split(lower(col("text")), " ")).as("toks"))
      .collect()
    sh.foreach(r => assert(r.getInt(1) <= r.getInt(2) - 2 && r.getInt(1) > 0))
  }

  test("minhash near-dups find the planted pairs and nothing else") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5).collect()
    assert(pairs.nonEmpty, "planted near-dups should surface")
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
  }

  test("minhash agrees with exact blocked jaccard on recall") {
    // exact global high-jaccard pairs (small corpus → all-pairs is fine here)
    val sh = docs.select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
    val a = sh.select(col("doc_id").as("id_a"), col("g").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("g").as("sh_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccardCol("sh_a", "sh_b"))
      .filter(col("j") >= 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == lsh, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("size-bucketed blocked jaccard is lossless: bucketed == unbucketed, at every threshold") {
    // the geometric size bucket + home/guest replication must emit EXACTLY
    // the unbucketed pair set — including thresholds that put qualifying
    // pairs in adjacent buckets (low t → coarse buckets, high t → fine)
    for (t <- Seq(0.05, 0.1, 0.3, 0.7, 0.9)) {
      def run(b: Boolean) =
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            blockCols = Seq("lang"), threshold = t, sizeBucketing = b)
          .select("blk", "id_a", "id_b", "jaccard").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val bucketed = run(true)
      val flat = run(false)
      assert(bucketed == flat,
        s"t=$t: bucketing lost ${flat -- bucketed}, invented ${bucketed -- flat}")
    }
  }

  test("size-bucketing losslessness holds on adversarial random corpora (seeded)") {
    // tiny vocab → heavy shingle collisions; lengths spanning many geometric
    // buckets, plus degenerate docs (empty, single-token, exact twins) —
    // the shapes that stress the home/guest adjacency argument
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    def doc(len: Int): String = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val lens = Seq(0, 1, 2, 3, 5, 8, 13, 30, 80, 200, 500)
    val rows = (0 until 60).map { i =>
      (i.toLong, if (i < lens.size) doc(lens(i)) else doc(1 + rnd.nextInt(300)))
    } ++ Seq((900L, doc(40))).flatMap(t => Seq(t, (901L, t._2))) // exact twin pair
    import spark.implicits._
    val df = rows.toDF("doc_id", "text").withColumn("lang", lit("x"))
    for (t <- Seq(0.07, 0.33, 0.5, 0.95)) {
      def run(b: Boolean) =
        Dedup.ngramJaccardPairs(df, "doc_id", "text", blockCols = Seq("lang"),
            threshold = t, sizeBucketing = b)
          .select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val bucketed = run(true)
      val flat = run(false)
      assert(bucketed == flat,
        s"t=$t: lost ${flat -- bucketed}, invented ${bucketed -- flat}")
    }
  }

  test("fused shingle_hashes kernel == the SQL composition, byte for byte") {
    // the kernel hashes gram byte-ranges of lower(text) in place; it must
    // reproduce array_sort(transform(shingles(text,k), xxhash64)) EXACTLY —
    // including split's limit=-1 semantics (trailing/consecutive-space
    // empty tokens), the size<k whole-string gram, unicode, and empty text
    import spark.implicits._
    val adversarial = Seq(
      "", " ", "  ", "a", "a ", " a", "a  b", "a b ", " a b",
      "the the the the", "ONE Two thrEE four FIVE six",
      "tab\there newline\nthere", "héllo wörld ünïcode tèxt mixed",
      "exact duplicate window exact duplicate window exact",
      "a b c", "a b c d", "x " * 50 + "tail")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val advDf = adversarial.toDF("doc_id", "text")
    for ((df, what) <- Seq((docs.select("doc_id", "text"), "documents fixture"),
                           (advDf, "adversarial")); k <- Seq(1, 2, 3, 5)) {
      val mismatches = df.select(
          Dedup.sortedHashedShingles("text", k).as("kernel"),
          Dedup.sortedHashedShinglesComposed("text", k).as("sql"))
        .filter(col("kernel") =!= col("sql"))
        .count()
      assert(mismatches == 0, s"$what k=$k: $mismatches rows differ")
    }
  }

  test("fused minhash_sig_text / simhash64_text == the array-input kernels") {
    // opt round 16: the fused text kernels hash gram/token byte-ranges of
    // lower(text) in place; they must reproduce the composed forms
    // minhash_sig(shingles(text,k)) and simhash64(split(lower(text),' '))
    // EXACTLY — duplicates (minhash min is idempotent; simhash votes count
    // them identically on both paths), split's limit=-1 empty tokens, the
    // size<k whole-string gram, unicode, and empty text
    import spark.implicits._
    val adversarial = Seq(
      "", " ", "  ", "a", "a ", " a", "a  b", "a b ", " a b",
      "the the the the", "ONE Two thrEE four FIVE six",
      "tab\there newline\nthere", "héllo wörld ünïcode tèxt mixed",
      "exact duplicate window exact duplicate window exact",
      "a b c", "a b c d", "x " * 50 + "tail")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val advDf = adversarial.toDF("doc_id", "text")
    import graft.functions.MinHashFunctions
    for ((df, what) <- Seq((docs.select("doc_id", "text"), "documents fixture"),
                           (advDf, "adversarial")); k <- Seq(1, 2, 3, 5)) {
      val mh = df.select(
          MinHashFunctions.minhashSigText(col("text"), k, 64).as("fused"),
          MinHashFunctions.minhashSig(Dedup.shingles("text", k), 64).as("composed"))
        .filter(col("fused") =!= col("composed")).count()
      assert(mh == 0, s"$what k=$k: $mh minhash rows differ")
    }
    for ((df, what) <- Seq((docs.select("doc_id", "text"), "documents fixture"),
                           (advDf, "adversarial"))) {
      val sh = df.select(
          MinHashFunctions.simhash64Text(col("text")).as("fused"),
          MinHashFunctions.simhash64(split(lower(col("text")), " ")).as("composed"))
        .filter(col("fused") =!= col("composed")).count()
      assert(sh == 0, s"$what: $sh simhash rows differ")
    }
  }

  test("fused feature_buckets kernel == the SQL composition, byte for byte") {
    // opt round 16: the kernel scans [a-z] byte runs of lower(text) and
    // md5-prefixes unigram/adjacent-bigram byte ranges in place; it must
    // reproduce transform(concat(filter(split(lower(t),"[^a-z]+"),…),
    // zip_with(…,concat(x,'_',y))), f -> substring(md5(f),1,2)) EXACTLY —
    // order included (unigrams then bigrams), empty/no-letter/one-token
    // edges, digit+punct separators, and unicode (incl. U+212A KELVIN SIGN,
    // which lower()s to ASCII 'k' and must re-enter the token alphabet)
    import spark.implicits._
    def composedBuckets(textCol: org.apache.spark.sql.Column) = {
      val toks = filter(split(lower(textCol), "[^a-z]+"), t => length(t) > 0)
      val feats = concat(toks,
        when(size(toks) < 2, typedLit(Seq.empty[String]))
          .otherwise(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (x, y) => concat(x, lit("_"), y))))
      transform(feats, f => substring(md5(f), 1, 2))
    }
    val adversarial = Seq(
      "", " ", "123 456", "...", "a", "A", "a b", "one2two three",
      "Hello, World! Again.", "tab\there newline\nthere",
      "héllo wörld ünïcode tèxt mixed", "Kelvin K sign",
      "CAPS and lower And MiXeD", "a-b_c d.e", "x " * 50 + "tail")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val advDf = adversarial.toDF("doc_id", "text")
    for ((df, what) <- Seq((docs.select("doc_id", "text"), "documents fixture"),
                           (advDf, "adversarial"))) {
      val mismatches = df.select(
          TextOps.hashedFeatureBuckets(col("text")).as("kernel"),
          composedBuckets(col("text")).as("sql"))
        .filter(col("kernel") =!= col("sql"))
        .count()
      assert(mismatches == 0, s"$what: $mismatches rows differ")
    }
  }

  test("prefix-filter branch (bucket > 64 members) equals exact all-pairs") {
    // 300 same-length-class docs in ONE (lang, size-bucket) — far above the
    // kernel's 64-member cut, so candidates MUST come from the in-task
    // rarest-first prefix index (the 100×-rehearsal scale path), not the
    // all-pairs loop. Output must equal the exact crossJoin ground truth.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    def doc(): String =
      Seq.fill(24 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 150).map(i => (i.toLong, doc()))
    // plant near-dups: a twin with one token appended
    val rows = base ++ base.take(60).map { case (i, t) => (i + 1000L, t + " omega") }
    import spark.implicits._
    val df = rows.toDF("doc_id", "text").withColumn("lang", lit("x"))
    for (t <- Seq(0.12, 0.4, 0.75)) {
      val sh = df.select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
      val a = sh.select(col("doc_id").as("id_a"), col("g").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("g").as("sh_b"))
      val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("j", Dedup.jaccardCol("sh_a", "sh_b"))
        .filter(col("j") >= t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text",
          blockCols = Seq("lang"), threshold = t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exact, s"t=$t: missed ${exact -- got}, extra ${got -- exact}")
    }
  }

  test("big-bucket shuffle path (bigBucket cut) equals the kernel path") {
    // bigBucket=10 forces EVERY real bucket through the shuffle-based
    // prefix join (the extreme-scale escape from O(bucket) collect_list
    // memory); output must be identical to the default kernel path at
    // thresholds spanning coarse and fine size-buckets
    for (t <- Seq(0.1, 0.3, 0.7)) {
      def run(cut: Int) =
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            blockCols = Seq("lang"), threshold = t, bigBucket = cut)
          .select("blk", "id_a", "id_b", "jaccard").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val kernel = run(Int.MaxValue)
      val shuffle = run(10)
      assert(kernel.length == kernel.distinct.length, "kernel path emitted dups")
      assert(shuffle.length == shuffle.distinct.length, "shuffle path emitted dups")
      assert(kernel.toSet == shuffle.toSet,
        s"t=$t: shuffle path lost ${kernel.toSet -- shuffle.toSet}, " +
          s"invented ${shuffle.toSet -- kernel.toSet}")
    }
  }

  test("size-bucketed pairs are emitted exactly once (no dup from the guest copies)") {
    val rows = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), threshold = 0.1)
      .select("blk", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == rows.distinct.length,
      s"duplicate pairs: ${rows.groupBy(identity).filter(_._2.length > 1).keys}")
    rows.foreach { case (_, a, b) => assert(a < b) }
  }

  test("lshNearDups corpusSizeHint path equals the counted path") {
    val e = embs.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val n = e.count()
    def run(hint: Long) =
      Similarity.lshNearDups(e, "vec_id", "embedding", threshold = 0.5,
          corpusSizeHint = hint)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(n) == run(0L), "hinted plane count must reproduce the counted run")
  }

  test("semanticNearDups equals exact all-pairs cosine on planted twins") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val twin = e.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x * (1.0D + 0.002D * ((i % 5) - 2)))")
        .as("embedding"))
    val u = e.unionAll(twin)
    val a = u.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = u.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.semanticNearDups(u, threshold = 0.8, nlist = 8,
        probeCells = 2, seed = 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"missed ${exact -- got}, extra ${got -- exact}")
  }

  test("two-level quantizer path (nlist > 64) finds the same planted twins") {
    // forces the hierarchical assignment: 1000 vectors, nlist 128 → coarse
    // √128≈12-cell literal probe + broadcast fine assignment. Output must
    // still equal the exact all-pairs ground truth (recall through BOTH
    // levels, precision from the exact-cosine verify).
    val e = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val twin = e.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x * (1.0D + 0.002D * ((i % 5) - 2)))")
        .as("embedding"))
    val u = e.unionAll(twin)
    val a = u.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = u.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.semanticNearDups(u, threshold = 0.8, nlist = 128,
        probeCells = 2, seed = 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"missed ${exact -- got}, extra ${got -- exact}")
  }

  test("hot-cell sub-quantizer path stays exact (nlist=1 forces a 640-member cell)") {
    // nlist=1 throws EVERY vector into one cell — 640 members, far above
    // the 8×32 split bound, so the cell_pairs kernel MUST run its recursive
    // in-task sub-quantizer (the 100×-rehearsal scale path: a skewed or
    // sample-starved top level handing the kernel a hot cell). Output must
    // still equal exact all-pairs: twins meet through level-2 multi-probe.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(320)(Seq.fill(16)(rnd.nextGaussian()))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      base.zipWithIndex.map { case (v, i) => (i.toLong + 1000L, v.map(_ * 1.0001)) }
    val df = rows.toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 320, "fixture must plant at least the twin pairs")
    val got = Similarity.semanticNearDups(df, threshold = 0.99, nlist = 1,
        probeCells = 2, seed = 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"missed ${exact -- got}, extra ${got -- exact}")
  }

  test("semanticNearDups multi-probe covers a pair split at probeCells=1") {
    // two clearly separated clusters plus a twin pair halfway between them:
    // with probeCells=2 the twins meet in a shared cell no matter which side
    // of the k=2 boundary each lands on
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def jitter(base: Seq[Double]) = base.map(_ + rnd.nextGaussian() * 0.01)
    val c1 = Seq.fill(20)(jitter(Seq(1.0, 0.0, 0.0, 0.0)))
    val c2 = Seq.fill(20)(jitter(Seq(0.0, 1.0, 0.0, 0.0)))
    val mid = Seq(0.7071, 0.7071, 0.0, 0.0)
    val rows = (c1 ++ c2 ++ Seq(mid, mid.map(_ * 1.0001))).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.semanticNearDups(df, threshold = 0.999, nlist = 2,
        probeCells = 2, seed = 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((40L, 41L)), s"midpoint twin pair lost: $got")
  }

  test("simhash hamming pairs are symmetric-free and verified") {
    val pairs = Dedup.simhashNearDups(docs).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("incremental near-dups: cross pairs only, all above threshold, matches exact") {
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val kept = docs.filter(col("doc_id") % 2 === 0)
    val got = Dedup.incrementalNearDups(newDocs, kept, threshold = 0.5).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("new_id") % 2 == 1 && r.getAs[Long]("kept_id") % 2 == 0)
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
    // exact cross-pairs ground truth (small corpus → all-pairs is fine)
    val sh = docs.select(col("doc_id"), Dedup.shingles("text", 3).as("g"))
    val exact = sh.select(col("doc_id").as("new_id"), col("g").as("ga"))
      .crossJoin(sh.select(col("doc_id").as("kept_id"), col("g").as("gb")))
      .filter(col("new_id") % 2 === 1 && col("kept_id") % 2 === 0)
      .withColumn("j", Dedup.jaccardCol("ga", "gb")).filter(col("j") >= 0.5)
      .select("new_id", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == lsh, s"missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("token-budget sample: per-stratum prefix fills the budget, shortfall < 1 doc") {
    val budgets = Map("en" -> 900L, "de" -> 500L)
    val got = Pipeline.tokenBudgetSample(docs, budgets).collect()
    val byLang = got.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet.subsetOf(budgets.keySet), "unbudgeted strata must drop")
    // stratum token totals in the source, to distinguish "budget filled"
    // from "stratum exhausted"
    val available = docs
      .groupBy("lang").agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, rows) <- byLang) {
      val total = rows.map(_.getAs[Long]("n_tokens")).sum
      val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
      val b = budgets(lang)
      if (available(lang) >= b)
        assert(total >= b && total < b + maxDoc,
          s"$lang: total $total outside [budget, budget + max doc) for budget $b")
      else
        assert(total == available(lang),
          s"$lang: stratum exhausted but total $total != available ${available(lang)}")
      // every kept row was admitted while the budget had room
      rows.foreach(r => assert(
        r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < b))
    }
  }

  test("segment dedup: every distinct segment survives exactly once, at its first (id,pos)") {
    val got = TextOps.dedupSegments(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val segs = docs.select(col("doc_id"),
        posexplode(TextOps.tokenWindowSegments("text", 20)).as(Seq("pos", "seg")))
      .filter(length(col("seg")) > 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val expect = segs.groupBy(_._3).values
      .map(occ => occ.map(o => (o._1, o._2)).min._1)
      .groupBy(identity).map { case (id, v) => id -> v.size.toLong }
    assert(got == expect, s"per-doc kept-segment counts diverge")
  }

  test("duplicate frames: planted re-uploads group exactly, through real codec bytes") {
    import spark.implicits._
    // ids 1, 257, 513 share content_id 1 (mod 256): three independently
    // encoded GIFs with pixel-identical frames. ids 2 and 260 are singleton
    // contents (2 and 4); no cross-content collision is possible here
    // (different c mod 15 ⇒ different geometry)
    val df = Seq(1L, 2L, 257L, 260L, 513L).toDF("doc_id")
    val got = Multimodal.videoDuplicateFrames(spark, df)
      .orderBy("first_frame").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // content 1: w = 2+(1%5)*2 = 4, h = 2+(1%3)*3 = 5, nf = 2+1%4 = 3,
    // each frame duplicated across the three docs, canonical = doc 1
    val expect = (0 until 3).map(f => (4, 5, 3L, 1L, f)).toArray
    assert(got.toSeq == expect.toSeq, s"got ${got.toSeq}")
    // determinism across re-encode: the digest is over DECODED pixels, so a
    // second run over a differently-partitioned input groups identically
    val got2 = Multimodal.videoDuplicateFrames(spark, df.repartition(5))
      .orderBy("first_frame").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got2.toSeq == expect.toSeq)
  }

  test("split leakage: exactly the cross-split subset of the near-dup pairs") {
    val splits = TextOps.splitAssign(docs).select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs.filter(p => splits(p._1) != splits(p._2))
    assert(expect.nonEmpty && expect != pairs,
      "fixture must have both leaking and clean pairs")
    val sdf = TextOps.splitAssign(docs).select(col("doc_id"), col("split"))
    val got = Dedup.minhashNearDups(docs, threshold = 0.5)
      .join(sdf.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(sdf.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
  }

  test("duplicate audio: re-uploads collide on the DECODED lossy signal") {
    import spark.implicits._
    // ids 1, 129, 257 share content 1 (mod 128): three independent μ-law
    // encodes whose DECODED signals are identical; 2 and 130 share
    // content 2. n_samples = 64 + c is injective here.
    val df = Seq(1L, 2L, 129L, 130L, 257L).toDF("doc_id")
    val got = Multimodal.audioDuplicateClips(spark, df)
      .orderBy("n_samples").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((65, 3L, 1L), (66, 2L, 2L)), s"got ${got.toSeq}")
    // the digest is over decoded samples: partitioning can't change groups
    val got2 = Multimodal.audioDuplicateClips(spark, df.repartition(5))
      .orderBy("n_samples").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == got.toSeq)
    // corrupt payload bytes fail loudly in the hashing decode too
    val ex = intercept[org.apache.spark.SparkException] {
      Seq(Multimodal.ImgRow(9L, Array[Byte](1, 2, 3))).toDS()
        .mapPartitions(Multimodal.ulawDecodeHashFn).collect()
    }
    assert(ex.getCause.getMessage.contains("RIFF"))
  }

  test("boilerplate removal: drops exactly the df>=threshold segments, keeps order") {
    val n = 3; val minDf = 5
    val got = TextOps.removeBoilerplate(docs, n = n, minDocFreq = minDf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // local model: same segmentation, exact doc-frequency, same threshold
    val segs = docs.select(col("doc_id"),
        posexplode(TextOps.tokenWindowSegments("text", n)).as(Seq("pos", "seg")))
      .filter(length(col("seg")) > 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val dfDocs = segs.groupBy(_._3).map { case (s, occ) =>
      s -> occ.map(_._1).distinct.size }
    val boiler = dfDocs.filter(_._2 >= minDf).keySet
    assert(boiler.nonEmpty, "fixture should contain boilerplate at n=3, df>=5")
    val expect = segs.groupBy(_._1).map { case (id, occ) =>
      val sorted = occ.sortBy(_._2)
      val kept = sorted.filterNot(o => boiler(o._3))
      id -> ((kept.map(_._3).mkString(" "), kept.size.toLong,
        (sorted.size - kept.size).toLong))
    }
    assert(got == expect, "engine output diverges from the local model")
    // every document that had segments keeps its row, even if fully stripped
    assert(got.keySet == segs.map(_._1).toSet)
  }

  test("editDistanceNearDups == brute-force model, incl. bucket straddles") {
    import spark.implicits._
    // classic DP levenshtein as the local ground truth
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // lengths 2..6 deliberately straddle the w=3 bucket boundary (len 2 →
    // bucket 0, len 4 → bucket 1, len 5/6 → bucket 1): "ab"/"abcd" (dist 2,
    // adjacent buckets) and "abcde"/"abc" (dist 2, same bucket) both must
    // surface; "ab"/"abcdef" (len gap 4) must not even be a candidate
    val rows = Seq(
      (1L, "blk1", "ab"), (2L, "blk1", "abcd"), (3L, "blk1", "abc"),
      (4L, "blk1", "abcde"), (5L, "blk1", "abcdef"), (6L, "blk1", "xyz"),
      (7L, "blk2", "abcd"), // different block: never pairs with blk1
      (8L, "blk1", "abce"), (9L, "blk1", "ab"))
    val df = rows.toDF("id", "b", "s")
    for (k <- Seq(0, 1, 2)) {
      val got = Dedup.editDistanceNearDups(df, "id", "s", Seq("b"), maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val want = (for {
        (ia, ba, sa) <- rows; (ib, bb, sb) <- rows
        if ia < ib && ba == bb && lev(sa, sb) <= k
      } yield (ia, ib, lev(sa, sb))).sorted
      assert(got.sorted == want, s"maxDist=$k")
      assert(got.size == got.distinct.size, s"duplicate emission at maxDist=$k")
    }
  }

  test("splitAssign: exact md5-rule replay, determinism, content sensitivity") {
    import spark.implicits._
    val rows = (1L to 400L).map(i => (i, s"document body $i ${"x" * (i % 7).toInt}"))
    val df = rows.toDF("doc_id", "text")
    val got = TextOps.splitAssign(df).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    // JVM-side exact replay of the rule: md5(id ':' text) → 2 hex chars
    val md = java.security.MessageDigest.getInstance("MD5")
    def rule(id: Long, text: String): String = {
      val h = md.digest(s"$id:$text".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if (h < "cd") "train" else if (h < "e7") "val" else "test"
    }
    rows.foreach { case (id, text) =>
      assert(got(id) == rule(id, text), s"doc $id")
    }
    // deterministic: a second run assigns identically
    val again = TextOps.splitAssign(df).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(again == got)
    // content-addressed: same id with different text may move splits (the
    // assignment hashes content, not position) — at least one of 400 does
    val moved = TextOps.splitAssign(
        rows.map { case (i, t) => (i, t + "!") }.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(rows.exists { case (id, _) => moved(id) != got(id) })
  }

  test("exact dedup keeps one id per digest") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == d.select("digest").distinct().count())
  }

  test("brute-force knn returns k ranked neighbors per query") {
    val r = Similarity.bruteForceKnn(embs, embs.filter(col("vec_id") < 4), k = 3)
      .collect()
    assert(r.length == 4 * 3)
    val byQ = r.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        "sims must be non-increasing in rank")
    }
  }

  test("lsh knn candidates are a subset ranked identically") {
    val r = Similarity.lshKnn(embs, embs.filter(col("vec_id") < 4), k = 3).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(0) != row.getLong(1)))
  }

  test("langid predicts a language for every document") {
    val r = TextOps.langId(docs).select("lang_pred").collect()
    assert(r.length == docs.count())
    assert(r.forall(x => Set("en", "fr", "es", "de").contains(x.getString(0))))
  }

  test("repetition stats: hand-computed ground truth") {
    import spark.implicits._
    val d = Seq(
      // 6 words, 3 distinct {a,b,c}; "a" ×3 (top word, longest raw run 2);
      // bigrams "a b","b a","a a","a c","c b" all distinct → top_bigram_n 1
      (1L, "a b a a c b"),
      // degenerate repetition: one word, one bigram
      (2L, "x x x x x"),
      (3L, "unique words only here today with many extra different fresh tokens"),
      (4L, "")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(d).orderBy("doc_id").collect()
    val r1 = r(0)
    assert(r1.getAs[Int]("n_words") == 6)
    assert(math.abs(r1.getAs[Double]("dup_word_frac") - (1.0 - 3.0 / 6)) < 1e-6)
    assert(math.abs(r1.getAs[Double]("top_word_frac") - 0.5) < 1e-6)
    assert(math.abs(r1.getAs[Double]("top_bigram_frac") - 0.2) < 1e-6)
    assert(r1.getAs[Int]("max_token_run") == 2)
    assert(r1.getAs[Boolean]("repetitive")) // top_word_frac 0.5 > 0.2
    val r2 = r(1)
    assert(r2.getAs[Int]("n_words") == 5)
    assert(math.abs(r2.getAs[Double]("top_word_frac") - 1.0) < 1e-6)
    assert(math.abs(r2.getAs[Double]("top_bigram_frac") - 1.0) < 1e-6)
    assert(r2.getAs[Int]("max_token_run") == 5)
    assert(r2.getAs[Boolean]("repetitive"))
    val r3 = r(2)
    assert(r3.getAs[Double]("dup_word_frac") == 0.0)
    assert(r3.getAs[Int]("max_token_run") == 1)
    assert(!r3.getAs[Boolean]("repetitive"))
    val r4 = r(3)
    assert(r4.getAs[Int]("n_words") == 0 && r4.getAs[Int]("max_token_run") == 0)
    assert(!r4.getAs[Boolean]("repetitive"))
  }

  test("prefixFilterJaccardPairs == unblocked brute-force, across thresholds") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val withSh = docs.select(col("doc_id"),
      Dedup.sortedHashedShingles("text", 3).as("g"))
      .filter(size(col("g")) > 0)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val a = withSh.select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = withSh.select(col("doc_id").as("id_b"), col("g").as("gb"))
      val naive = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("j", size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))))
        .filter(col("j") >= t)
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
      val fast = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        threshold = t)
      assertSameRows(naive, fast)
      assert(fast.count() > 0 || t > 0.5, s"fixture should have pairs at $t")
    }
  }

  test("hashedLinearScore: JVM-replayed exact reference + edge cases") {
    import spark.implicits._
    val d = Seq(
      (1L, "The cat sat on the mat!"),
      (2L, "a"),                 // 1 token, no bigrams
      (3L, "12345 ... !!!"),     // no alpha tokens at all
      (4L, "Cat cat CAT")        // case-folds to the same feature
    ).toDF("doc_id", "text")
    val got = TextOps.hashedLinearScore(d).orderBy("doc_id").collect()

    // independent JVM replay of the contract: lowercase, split [^a-z]+,
    // unigrams + '_'-joined bigrams, md5-prefix bucket, LCG weights
    val w = TextOps.defaultBucketWeights
    def score(text: String): (Long, Long) = {
      val toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
      val feats = toks ++ toks.zip(toks.drop(1)).map { case (a, b) => s"${a}_$b" }
      val md = java.security.MessageDigest.getInstance("MD5")
      val s = feats.map { f =>
        val hex = md.digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
        w(hex.take(2))
      }.sum
      (feats.size.toLong, s)
    }
    for ((r, text) <- got.zip(Seq("The cat sat on the mat!", "a", "12345 ... !!!",
        "Cat cat CAT"))) {
      val (n, s) = score(text)
      assert(r.getAs[Long]("n_features") == n, s"n_features for '$text'")
      assert(r.getAs[Long]("score_num") == s, s"score_num for '$text'")
    }
    // zero-feature doc scores 0 with a defined (not NaN/null) score
    val r3 = got(2)
    assert(r3.getAs[Long]("n_features") == 0L && r3.getAs[Long]("score_num") == 0L)
    assert(r3.getAs[Double]("score") == 0.0)
    // identical-after-casefold doc: 3 unigrams + 2 bigrams, all "cat"-derived
    assert(got(3).getAs[Long]("n_features") == 5L)
  }

  test("bm25TopK: term-rich docs rank first; rare terms dominate common ones") {
    import spark.implicits._
    val d = Seq(
      (1L, "hash join hash join hash join"),          // dense in both terms
      (2L, "hash table lookup structure and stuff"),  // one common term
      (3L, "totally unrelated words here now"),
      (4L, "join join"),                              // short, dense in one
      (5L, "rareword appears once among other words"),
      (6L, "filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(d, Seq("q" -> Seq("hash", "join")), k = 3)
      .orderBy("rank").collect()
    assert(out.head.getAs[Long]("doc_id") == 1L, "densest doc must rank 1")
    assert(out.map(_.getAs[Long]("doc_id")).toSet.subsetOf(Set(1L, 2L, 4L)))
    // rare term beats a common one at equal tf: 'rareword' (df 1) vs
    // 'filler' (df 1 but tf 5 in one doc)... compare idf weighting directly
    val rq = TextOps.bm25TopK(d, Seq("r" -> Seq("rareword"), "h" -> Seq("hash")), k = 1)
      .collect().map(r => r.getAs[String]("query_id") -> r.getAs[Double]("score")).toMap
    assert(rq("r") > 0 && rq("h") > 0)
    // docs with zero matching terms never appear
    assert(!TextOps.bm25TopK(d, Seq("q" -> Seq("hash", "join")), k = 10)
      .collect().map(_.getAs[Long]("doc_id")).contains(3L))
  }

  test("retrievalMetrics: hand-computed recall@k and MRR") {
    import spark.implicits._
    val truth = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)).toDF("q_id", "n_id", "rank")
    // q1: relevant at predicted ranks 2 and 3 → hits 2/3, rr 1/2
    // q2: nothing relevant → hits 0, first_rel_rank null, rr 0
    val pred = Seq((1L, 99L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 98L, 1), (2L, 97L, 2), (2L, 96L, 3)).toDF("q_id", "n_id", "rank")
    val m = Similarity.retrievalMetrics(pred, truth).orderBy("q_id").collect()
    assert(m(0).getAs[Long]("hits") == 2L)
    assert(math.abs(m(0).getAs[Double]("recall_k") - 2.0 / 3) < 1e-6)
    assert(m(0).getAs[Int]("first_rel_rank") == 2)
    assert(m(0).getAs[Double]("rr") == 0.5)
    assert(m(1).getAs[Long]("hits") == 0L)
    assert(m(1).isNullAt(m(1).fieldIndex("first_rel_rank")))
    assert(m(1).getAs[Double]("rr") == 0.0)
  }

  test("winsorizedStats: hand-computed truth with one huge outlier") {
    import spark.implicits._
    // values 1..9 plus outlier 1000; p05 (R-7) = 1.45, p95 = 545.5 →
    // trimmed keeps 2..9... no: band [1.45, 545.5] keeps 2..9 (8 values),
    // winsorized clamps 1→1.45 and 1000→545.5
    val d = ((1 to 9).map(_.toLong) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("doc_id", "lang", "n_chars")
    val r = TextOps.winsorizedStats(d).head()
    assert(r.getAs[Long]("n_docs") == 10L)
    assert(r.getAs[Long]("n_kept") == 8L)
    val trimmed = (2 to 9).sum / 8.0
    assert(math.abs(r.getAs[Double]("trimmed_mean") - trimmed) < 1e-9)
    val winsor = ((2 to 9).sum + r.getAs[Double]("q_lo") + r.getAs[Double]("q_hi")) / 10.0
    assert(math.abs(r.getAs[Double]("winsor_mean") -
      BigDecimal(winsor).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // the plain mean (105.5) is nowhere near the robust means
    assert(r.getAs[Double]("trimmed_mean") < 10 && r.getAs[Double]("winsor_mean") < 60)
  }

  test("featureDrift: zero on identical corpora, positive and symmetric JS on disjoint ones") {
    import spark.implicits._
    val a = (1L to 15L).map(i => (i, s"alpha beta gamma delta $i")).toDF("doc_id", "text")
    val b = (1L to 15L).map(i => (i, s"omega sigma lambda kappa $i")).toDF("doc_id", "text")
    val self = TextOps.featureDrift(a, a)
      .agg(sum("t_pq"), sum("t_qp"), sum("t_js")).head()
    assert((0 until 3).forall(i => self.getLong(i) == 0L),
      s"identical corpora must have zero divergence: $self")
    val cross = TextOps.featureDrift(a, b)
      .agg(sum("t_pq"), sum("t_qp"), sum("t_js")).head()
    assert(cross.getLong(0) > 0 && cross.getLong(1) > 0 && cross.getLong(2) > 0,
      s"disjoint vocabularies must diverge: $cross")
    // JS is symmetric: swapping the versions must give the same t_js total
    val swapped = TextOps.featureDrift(b, a).agg(sum("t_js")).head().getLong(0)
    assert(swapped == cross.getLong(2), "JS must be symmetric")
    // JS ≤ ln 2 (scaled): a hard upper bound of the divergence
    assert(cross.getLong(2) <= math.round(math.log(2) * 1e12))
    assert(TextOps.featureDrift(a, b).count() == 256)
  }

  test("dsirScore: target-like docs outscore off-distribution docs") {
    import spark.implicits._
    // target vocabulary (science-ish) vs off-distribution vocabulary —
    // disjoint token sets, so the log-ratio weights must separate them
    val target = (1L to 20L).map(i =>
      (i, s"quantum physics theory experiment measurement result $i", true))
    val other = (21L to 40L).map(i =>
      (i, s"pizza recipe cheese tomato basil oven bake $i", false))
    val d = (target ++ other).toDF("doc_id", "text", "is_target")
    val w = TextOps.dsirWeights(d, col("is_target"))
    val scored = TextOps.dsirScore(d, w).select("doc_id", "is_target", "score")
      .collect().map(r => (r.getBoolean(1), r.getDouble(2)))
    val tMin = scored.filter(_._1).map(_._2).min
    val oMax = scored.filterNot(_._1).map(_._2).max
    assert(tMin > oMax,
      s"every target doc must outscore every off-distribution doc ($tMin vs $oMax)")
    // weights cover all 256 buckets (smoothing), exact-integer map
    assert(w.size == 256 && w.keys.forall(_.length == 2))
  }

  test("charLmScore: character noise scores below all natural corpus text") {
    import spark.implicits._
    val noisy = docs.select(col("doc_id"), col("text")).unionByName(
      Seq((99999L, "zq xv qj vk jz wx kq zj vq xk")).toDF("doc_id", "text"))
    val scored = TextOps.charLmScore(noisy).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logp")).toMap
    assert(scored.size == noisy.count())
    val worst = scored.minBy(_._2)._1
    assert(worst == 99999L, s"noise doc must score lowest, got doc $worst")
  }

  test("tfidf: rare terms outrank common ones; exactly k rows per doc") {
    import spark.implicits._
    val d = Seq(
      (1L, "common rare1 rare1 common"),
      (2L, "common other words common"),
      (3L, "common filler text here")).toDF("doc_id", "text")
    val r = TextOps.tfidfTopTerms(d, k = 2)
    val byDoc = r.collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length == 2), "k rows per doc")
    // doc 1: tf("common") = tf("rare1") = 2, but df 3 vs 1 — idf decides:
    // rare1 scores 2·(ln(4/2)+1) ≈ 3.39 over common's 2·(ln(4/4)+1) = 2
    val top1 = byDoc(1L).minBy(_.getAs[Int]("rk")).getAs[String]("term")
    assert(top1 == "rare1", s"rare term must rank first, got $top1")
  }

  test("quality metrics are bounded") {
    val r = TextOps.qualityScore(docs)
      .select("quality_score", "punct_ratio", "stopword_ratio").collect()
    r.foreach { row =>
      assert(row.getDouble(0) >= 0.0 && row.getDouble(0) <= 1.0)
      assert(row.getDouble(1) >= 0.0 && row.getDouble(1) <= 1.0)
    }
  }

  test("media features: stub decode plumbing end-to-end") {
    val f = Multimodal.extractFeatures(spark, Multimodal.asMediaTable(docs)).collect()
    assert(f.length == docs.count())
    f.foreach { m =>
      assert(m.feature.length == 16)
      assert(math.abs(m.feature.sum - 1.0f) < 1e-3, "histogram must normalize")
      assert(m.n_bytes > 0)
    }
  }

  test("real codecs: decoded features match the generation rule; corrupt bytes loud") {
    import spark.implicits._
    // PNG: decode one known image and check its closed-form geometry/luma
    val img = Multimodal.imageFeatures(spark, Seq(10L).toDF("doc_id")).head()
    assert(img.getInt(1) == 1 + (10 % 7) * 2 && img.getInt(2) == 1 + (10 % 5) * 3)
    assert(img.getInt(3) == 3)
    val w = 1 + (10 % 7) * 2; val h = 1 + (10 % 5) * 3
    val exp = (0 until w * h).map(k => (10L * 31 + k) % 256).sum.toDouble / (w * h)
    assert(math.abs(img.getDouble(4) - exp) < 1e-6)
    // WAV: same for the audio rule
    val wav = Multimodal.audioFeatures(spark, Seq(10L).toDF("doc_id")).head()
    assert(wav.getInt(1) == 8000 && wav.getInt(2) == 1)
    assert(wav.getInt(3) == (64 + 10 % 129))
    // corrupt payloads fail LOUDLY, never decode to garbage
    val badWav = Seq((1L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "payload")
    val e1 = intercept[Exception] {
      badWav.as[Multimodal.ImgRow].mapPartitions(Multimodal.audioDecodeFn).count()
    }
    assert(e1.getMessage.contains("RIFF") ||
      e1.getCause != null && e1.getCause.getMessage.contains("RIFF"),
      e1.getMessage)
    val truncated = {
      val good = Seq(7L).toDF("doc_id").as[Multimodal.IdRow]
        .mapPartitions(Multimodal.wavEncodeFn).head().payload
      good.take(30) // cuts inside the fmt chunk
    }
    val e2 = intercept[Exception] {
      Seq((7L, truncated)).toDF("doc_id", "payload")
        .as[Multimodal.ImgRow].mapPartitions(Multimodal.audioDecodeFn).count()
    }
    assert(e2.getMessage.contains("truncated") ||
      e2.getCause != null && e2.getCause.getMessage.contains("truncated"),
      e2.getMessage)
    val badPng = Seq((1L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
    val e3 = intercept[Exception] {
      badPng.as[Multimodal.ImgRow].mapPartitions(Multimodal.imageDecodeFn).count()
    }
    assert(e3.getMessage.contains("undecodable") ||
      e3.getCause != null && e3.getCause.getMessage.contains("undecodable"),
      e3.getMessage)
  }

  test("a PCM WAV whose fmt chunk declares 0 channels fails typed") {
    val pcm = Array.fill[Byte](8)(1)
    val b = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)    // PCM
      .putShort(0.toShort)    // channels = 0
      .putInt(8000).putInt(0) // sample rate, byte rate
      .putShort(0.toShort)    // block align
      .putShort(16.toShort)   // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
    val e = intercept[IllegalArgumentException] {
      Multimodal.audioDecodeFn(Iterator(Multimodal.ImgRow(1L, b.array()))).toList
    }
    assert(e.getMessage.contains("0 channels"), e.getMessage)
  }

  test("real image resize: stride-2 resample through the codec matches the rule") {
    import spark.implicits._
    // doc 10: w = 1 + (10%7)*2 = 7, h = 1 + (10%5)*3 = 1 → resized 4×1
    val r = Multimodal.resizedImageFeatures(spark, Seq(10L).toDF("doc_id")).head()
    assert(r.getInt(1) == 4 && r.getInt(2) == 1 && r.getInt(3) == 3)
    // resized pixels sample orig (2x, 2y): k0 ∈ {0, 2, 4, 6} of the 7×1 image
    val exp = Seq(0, 2, 4, 6).map(k0 => (10L * 31 + k0) % 256).sum / 4.0
    assert(math.abs(r.getDouble(4) - exp) < 1e-6)
    // corrupt payloads fail LOUDLY in the resize stage too
    val e = intercept[Exception] {
      Seq((1L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
        .as[Multimodal.ImgRow].mapPartitions(Multimodal.imageResizeFn).count()
    }
    assert(e.getMessage.contains("undecodable") ||
      e.getCause != null && e.getCause.getMessage.contains("undecodable"),
      e.getMessage)
  }

  test("real GIF video: multi-frame decode matches the clip rule; corrupt bytes loud") {
    import spark.implicits._
    // doc 10: 2 + 10%4 = 4 frames, w = 2 + (10%5)*2 = 2, h = 2 + (10%3)*3 = 5
    val frames = Multimodal.videoFrameFeatures(spark, Seq(10L).toDF("doc_id"))
      .orderBy("frame_idx").collect()
    assert(frames.length == 4)
    frames.zipWithIndex.foreach { case (r, f) =>
      assert(r.getInt(1) == f && r.getInt(2) == 2 && r.getInt(3) == 5)
      val exp = (0 until 10).map(k => (10L * 17 + f * 101 + k * 3) % 256).sum / 10.0
      assert(math.abs(r.getDouble(4) - exp) < 1e-6, s"frame $f luma")
    }
    // clip pooling = mean over ALL pixels of all frames
    val clip = Multimodal.videoClipFeatures(spark, Seq(10L).toDF("doc_id")).head()
    assert(clip.getInt(1) == 4 && clip.getInt(2) == 2 && clip.getInt(3) == 5)
    val expClip = (for (f <- 0 until 4; k <- 0 until 10)
      yield (10L * 17 + f * 101 + k * 3) % 256).sum / 40.0
    assert(math.abs(clip.getDouble(4) - expClip) < 1e-6)
    // payload really is an animated GIF container: header + >1 image separator
    val payload = Multimodal.asVideoTable(spark, Seq(10L).toDF("doc_id")).head().payload
    assert(new String(payload.take(6), "US-ASCII") == "GIF89a")
    // corrupt payloads fail LOUDLY
    val e = intercept[Exception] {
      Seq((1L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
        .as[Multimodal.ImgRow].mapPartitions(Multimodal.gifFramesFn).count()
    }
    assert(e.getMessage.contains("undecodable") ||
      e.getCause != null && e.getCause.getMessage.contains("undecodable") ||
      e.getMessage.contains("GIF") ||
      e.getCause != null && e.getCause.getMessage != null &&
        e.getCause.getMessage.contains("GIF"),
      e.getMessage)
  }

  test("real JPEG (lossy): decode error inside the quantization budget") {
    import spark.implicits._
    val ids = (0L until 24L).toDF("doc_id")
    // payload really is a JFIF/JPEG container
    val payload = ids.limit(1).select(col("doc_id")).as[Multimodal.IdRow]
      .mapPartitions(Multimodal.jpegEncodeFn).head().payload
    assert((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8,
      "JPEG SOI marker")
    val rows = Multimodal.jpegImageFeatures(spark, ids).orderBy("doc_id").collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 16 + (id % 3) * 8 && r.getInt(2) == 8 + (id % 4) * 8)
      assert(r.getInt(3) == 3)
      assert(r.getBoolean(4), s"doc $id mean luma outside ±${Multimodal.JpegLumaTol}")
    }
    // the REAL measured error is well inside the certified budget: re-decode
    // and compare against the closed-form mean directly (margin ≥ 2×)
    val feats = ids.select(col("doc_id")).as[Multimodal.IdRow]
      .mapPartitions(Multimodal.jpegEncodeFn)
      .mapPartitions(Multimodal.imageDecodeFn).collect()
    feats.foreach { f =>
      val base = 32 + (f.doc_id % 8) * 16
      val exp = base + (f.width - 1) / 2.0 + (f.height - 1) / 2.0
      assert(math.abs(f.mean_luma - exp) < 1.0,
        s"doc ${f.doc_id}: |${f.mean_luma} - $exp| >= 1.0")
    }
    // corrupt payloads fail LOUDLY through the shared decode stage
    val e = intercept[Exception] {
      Seq((1L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
        .as[Multimodal.ImgRow].mapPartitions(Multimodal.imageDecodeFn).count()
    }
    assert(e.getMessage.contains("undecodable") ||
      e.getCause != null && e.getCause.getMessage.contains("undecodable"),
      e.getMessage)
  }

  test("real μ-law (G.711): closed form == JDK codec in-range; overflow quirk pinned") {
    import spark.implicits._
    // decode: bit-identical to the JDK on ALL 256 codes
    val uFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val pFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val allCodes = Array.tabulate[Byte](256)(_.toByte)
    val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pFmt,
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(allCodes), uFmt, 256L)).readAllBytes()
    (0 until 256).foreach { u =>
      val jdk = ((dec(2 * u) & 0xff) | (dec(2 * u + 1) << 8)).toShort.toInt
      assert(Multimodal.ulaw2linear(u) == jdk, s"decode code $u")
    }
    // encode: bit-identical to the JDK for the whole SAFE domain; the JDK
    // OVERFLOWS for |pcm| >= 32636 (probe: +32636 -> 0xFF = silence,
    // +32700 -> 247 non-monotone) — the closed form clips per G.711 there,
    // and the pipeline loud-rejects that region instead of shipping either
    val n = 65536
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s = (i - 32768).toShort
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val enc = javax.sound.sampled.AudioSystem.getAudioInputStream(uFmt,
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), pFmt, n.toLong)).readAllBytes()
    (0 until n).foreach { i =>
      val s = i - 32768
      if (s > -32636 && s < 32636)
        assert(Multimodal.linear2ulaw(s) == (enc(i) & 0xff), s"encode pcm $s")
    }
    assert((enc(32636 + 32768) & 0xff) == 255, "JDK quirk: +32636 -> silence code")
    // pipeline end-to-end: features match a direct per-sample replay
    val rows = Multimodal.ulawAudioFeatures(spark, (0L until 16L).toDF("doc_id"))
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val ns = (64 + id % 129).toInt
      assert(r.getInt(1) == ns, s"doc $id n_samples")
      val exp = (0 until ns).map { k =>
        val s = ((id * 7 + k * 13) % 2048 - 1024).toInt
        math.abs(Multimodal.ulaw2linear(Multimodal.linear2ulaw(s)))
      }.map(_.toLong).sum.toDouble / ns
      assert(math.abs(r.getDouble(2) - exp) < 1e-6, s"doc $id mean_abs_q")
    }
    // corrupt payloads fail LOUDLY
    val e = intercept[Exception] {
      Seq((1L, Array[Byte](9, 9, 9))).toDF("doc_id", "payload")
        .as[Multimodal.ImgRow].mapPartitions(Multimodal.ulawDecodeFn).count()
    }
    assert(e.getMessage.contains("RIFF") ||
      e.getCause != null && e.getCause.getMessage.contains("RIFF"), e.getMessage)
  }

  test("scene cuts: frame 0 opens, deltas match the clip-rule walk") {
    import spark.implicits._
    // doc 10: 4 frames of 2×5; per-frame mean luma from the pixel rule
    val means = (0 until 4).map(f =>
      (0 until 10).map(k => (10L * 17 + f * 101 + k * 3) % 256).sum / 10.0)
    val got = Multimodal.videoSceneCuts(spark, Seq(10L).toDF("doc_id"))
      .orderBy("frame_idx").collect()
    assert(got.length == 4)
    assert(got(0).isNullAt(3) && got(0).getBoolean(4), "frame 0 opens a scene")
    (1 until 4).foreach { f =>
      val d = math.abs(means(f) - means(f - 1))
      assert(math.abs(got(f).getDouble(3) - d) < 1e-6, s"delta frame $f")
      assert(got(f).getBoolean(4) == (d >= 90.0), s"cut flag frame $f")
    }
    val e = intercept[IllegalArgumentException] {
      Multimodal.videoSceneCuts(spark, Seq(1L).toDF("doc_id"), threshold = 0)
    }
    assert(e.getMessage.contains("threshold"))
  }

  test("frame sampling: byte-exact slices at the stride") {
    import spark.implicits._
    val payload = (0 until 100).map(_.toByte).toArray
    val media = Seq((1L, "video", payload)).toDF("doc_id", "media_type", "payload")
    val frames = Multimodal.frameSample(media, frameLen = 40, stride = 30)
      .orderBy("frame_idx")
      .collect().map(r => (r.getAs[Int]("frame_idx"), r.getAs[Array[Byte]]("frame")))
    // ceil(100/30) = 4 frames at offsets 0, 30, 60, 90
    assert(frames.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(frames.map(_._2.length).toSeq == Seq(40, 40, 40, 10))
    assert(frames(1)._2.toSeq == payload.slice(30, 70).toSeq, "content must match")
    assert(frames(3)._2.toSeq == payload.slice(90, 100).toSeq)
  }

  test("resize: bounded output, strided content, short payloads untouched") {
    import spark.implicits._
    val payload = (0 until 100).map(_.toByte).toArray
    val media = Seq((1L, "image", payload), (2L, "image", Array[Byte](1, 2, 3)))
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.resized(media, targetBytes = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload_resized"))).toMap
    // stride ceil(100/10)=10 → bytes 0,10,20,...,90
    assert(out(1L).toSeq == (0 until 100 by 10).map(_.toByte).toSeq)
    assert(out(2L).toSeq == Seq[Byte](1, 2, 3), "short payloads pass through")
  }

  test("encodingQuality: planted mojibake counts are exact, clean text is enc_ok") {
    import spark.implicits._
    val docs = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "caf\u00c3\u00a9 menu"), // one Latin-1 mojibake lead
      (3L, "it\u00e2\u20ac\u2122s \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d"), // three win1252 pairs
      (4L, "bad \ufffd\ufffd decode"), // two replacement chars
      (5L, "ctrl\u0001 and \u0008 bytes"), // two C0 controls
      (6L, "")) // empty text: all zeros, ok
      .toDF("doc_id", "text")
    val got = TextOps.encodingQuality(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L) == ((0L, 0L, 0L, 0L, true)))
    assert(got(2L) == ((0L, 0L, 1L, 0L, false)))
    assert(got(3L) == ((0L, 0L, 0L, 3L, false)))
    assert(got(4L) == ((2L, 0L, 0L, 0L, false)))
    assert(got(5L) == ((0L, 2L, 0L, 0L, false)))
    assert(got(6L) == ((0L, 0L, 0L, 0L, true)))
  }

  test("phash: same content at two REAL resolutions shares the dhash; contents differ; corrupt is loud") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.PHashRow(10L, 3L, 1), Multimodal.PHashRow(11L, 3L, 2),
      Multimodal.PHashRow(12L, 5L, 1)).toDS()
    val feats = rows.mapPartitions(Multimodal.phashEncodeFn)
      .mapPartitions(Multimodal.phashDecodeFn).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(10L).dhash == feats(11L).dhash,
      "half-resolution re-encode must share the perceptual hash")
    assert(feats(10L).width == 2 * feats(11L).width &&
      feats(10L).height == 2 * feats(11L).height,
      "the two members really have different geometry")
    assert(feats(10L).dhash != feats(12L).dhash,
      "different content must not collide on this fixture")
    val boom = intercept[org.apache.spark.SparkException] {
      Seq(Multimodal.ImgRow(1L, Array[Byte](1, 2, 3)))
        .toDS().mapPartitions(Multimodal.phashDecodeFn).collect()
    }
    assert(boom.getMessage.contains("undecodable") ||
      Option(boom.getCause).exists(_.getMessage.contains("undecodable")))
  }

  test("imageNearDupsPHash groups are repartition-invariant and cross-resolution") {
    import spark.implicits._
    val docs = spark.range(64).select(col("id").as("doc_id"))
    val a = Multimodal.imageNearDupsPHash(spark, docs)
      .collect().map(_.toString).sorted.toSeq
    val b = Multimodal.imageNearDupsPHash(spark, docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "grouping must not depend on partitioning")
    val groups = Multimodal.imageNearDupsPHash(spark, docs).collect()
    assert(groups.length == 8, "64 docs mod 8 contents = 8 groups")
    assert(groups.forall(_.getLong(1) == 8L), "8 members per content")
    assert(groups.forall(_.getLong(2) == 2L),
      "every group must span BOTH resolutions (the cross-resolution catch)")
  }

  test("canonicalUrl normalizes case, ports, params, slashes, fragments") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://WWW.Ex.COM:80/p/1/?b=2&utm_source=x&a=1#f", "http://www.ex.com/p/1?a=1&b=2"),
      ("https://ex.com:443/p/1", "https://ex.com/p/1"),
      ("https://ex.com:8443/p/1", "https://ex.com:8443/p/1"), // non-default port kept
      ("http://ex.com:443/x", "http://ex.com:443/x"), // 443 is NOT http's default
      ("http://ex.com/", "http://ex.com/"), // bare root stays /
      ("http://ex.com", "http://ex.com/"),
      ("http://ex.com/a//", "http://ex.com/a"),
      ("http://ex.com/a?utm_a=1&utm_b=2", "http://ex.com/a"), // all params dropped
      ("http://ex.com/a?z=1&y=2&x=3", "http://ex.com/a?x=3&y=2&z=1"),
      // a '?' INSIDE the fragment is not a query start (regression: the
      // old code extracted "step=2" as the query)
      ("http://ex.com/docs#install?step=2", "http://ex.com/docs"),
      ("http://ex.com/a?k=1#frag?x=9", "http://ex.com/a?k=1"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalUrl(col("url")).as("c")).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"expected $want got $g")
    }
  }

  test("gopherQuality folds are exact on a closed-form fixture") {
    import spark.implicits._
    val docs = Seq(
      // 4 words, mean len (3+2+3+4)/4 = 3.0, 1 alpha-less word, 2 stops
      // (newline + tab are separators too — the Gopher rules tokenize on
      // whitespace, and the old single-space split glued lines together)
      (1L, "the of\n123\tword"),
      // symbol-heavy: 3 words, '#' x2 + '...' x1 => ratio 1.0 > 0.1
      (2L, "a# b# c..."),
      (3L, ""), // empty: 0 words
      // capitalization must not break the rules: "NASA" and "I" are
      // alphabetic, sentence-initial "The" IS a stop word (Rae et al.
      // A1.1 is case-insensitive; the old [a-z]/exact-match folds missed
      // all three)
      (4L, "The NASA I of"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherQuality(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 4L)
    assert(got(1L).getDouble(2) == 3.0)
    assert(got(1L).getLong(3) == 0L)
    assert(got(1L).getDouble(4) == 0.75) // "123" has no alpha
    assert(got(1L).getLong(5) == 2L)
    assert(!got(1L).getBoolean(6)) // word count 4 < 50
    assert(got(2L).getLong(3) == 3L, "two # plus one ...")
    assert(got(3L).getLong(1) == 0L && !got(3L).getBoolean(6))
    assert(got(4L).getDouble(4) == 1.0, "NASA/I/The are alphabetic")
    assert(got(4L).getLong(5) == 2L, "'The' and 'of' are stop words")
  }
}
