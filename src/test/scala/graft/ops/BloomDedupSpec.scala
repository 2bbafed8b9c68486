package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.functions.BloomFunctions

/** Bloom-prefiltered incremental dedup: the rewrite must be EXACT (Bloom
  * has no false negatives, so dropping filter-rejected rows before the
  * anti-join can never change the result), and the prefilter must actually
  * absorb work (novel rows rejected without joining).
  */
class BloomDedupSpec extends SparkTestBase {

  private lazy val docs = {
    Tables.register(spark, sfDir)
    spark.table("documents")
  }

  test("bloom path == plain incremental dedup, row for row") {
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val kept = docs.filter(col("doc_id") % 2 === 0)
    assertSameRows(
      Dedup.incrementalDedup(newB, kept),
      Dedup.bloomIncrementalDedup(newB, kept))
  }

  test("filter rejects most novel digests (prefilter absorbs the join)") {
    val kept = docs.filter(col("doc_id") % 2 === 0)
    val keptD = kept.select(TextOps.fingerprint(col("text")).as("digest")).distinct()
    val n = keptD.count()
    val bloom = keptD.agg(BloomFunctions.bloomFilterAgg(
      xxhash64(col("digest")), n, BloomFunctions.bitsFor(n, 0.01)).as("bf"))
    // probe with digests that are definitely NOT in the corpus
    val novel = spark.range(10000)
      .select(md5(concat(lit("novel-"), col("id"))).as("digest"))
    val fp = novel
      .filter(BloomFunctions.mightContain(bloom.scalar(), xxhash64(col("digest"))))
      .count()
    // 1% target fpp with 3x slack — rows the filter rejects never join
    assert(fp <= 300, s"false-positive rate too high: $fp of 10000")
  }

  test("the corpus digest set is not left cached in the session") {
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val kept = docs.filter(col("doc_id") % 2 === 0)
    Dedup.bloomIncrementalDedup(newB, kept).collect()
    // the frame d07/e04-style queries build: a leftover cache entry for it
    // would make their plans depend on whether this ran first
    val digests = kept.select(TextOps.fingerprint(col("text")).as("digest")).distinct()
    assert(spark.sharedState.cacheManager.lookupCachedData(
      digests.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }

  test("bloom dedup rides the wire") {
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val kept = docs.filter(col("doc_id") % 2 === 0)
    assertRoundtrip(
      Dedup.bloomIncrementalDedup(newB, kept).orderBy("digest"), ordered = true)
  }

  // the retired d03 driver query's contract, preserved at spec level: the
  // radius-15/8-bit simhash FIXTURE config recovers the exact all-pairs
  // jaccard ≥ 0.9 ground truth on this corpus (coverage is a per-fixture
  // measurement — 256 buckets don't scale, which is why the driver suite
  // carries only the production 16-bit/radius-3 knob, d03b)
  test("radius-15 simhash == exact AllPairs ground truth at jaccard 0.9") {
    assertSameRows(
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
        .withColumnRenamed("jaccard", "j")
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard")),
      Dedup.simhashVerifiedNearDups(docs,
          threshold = 0.9, numChunks = 8, maxHamming = 15)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
  }
}
