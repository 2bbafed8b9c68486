package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Pre-commit exactness check for the round-10 kernel rewrites, run on the
  * REAL gated fixtures (not synthetic spec corpora): s07's cluster-blocked
  * pairs vs exact broadcast all-pairs cosine, and d04's bucket-kernel pairs
  * vs exact per-block brute force. Usage: runMain graft.tools.GateCheck <sfDir>
  */
object GateCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    var failed = false

    // ---- s07 vs exact all-pairs cosine over the planted-twin corpus ----
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val twin = e.select((col("vec_id") + 100000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x * (1.0D + 0.002D * ((i % 5) - 2)))")
        .as("embedding"))
    val u = e.unionAll(twin)
    val a = u.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = u.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exactS = a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .withColumn("sim", graft.ops.Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotS = graft.SparkEntry.queries("s07_semantic_dedup")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (gotS == exactS)
      println(s"[gatecheck] s07 OK: ${gotS.size} pairs == exact")
    else {
      failed = true
      println(s"[gatecheck] s07 FAIL: missed ${(exactS -- gotS).take(5)} " +
        s"(${(exactS -- gotS).size}), extra ${(gotS -- exactS).take(5)} " +
        s"(${(gotS -- exactS).size})")
    }

    // ---- d04 vs exact per-block brute force (hashed shingles) ----
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val blk = concat_ws("|", col("lang"), col("source"))
    val sh = docs.select(blk.as("blk"), col("doc_id"),
      array_sort(transform(graft.ops.Dedup.shingles("text", 3),
        x => xxhash64(x))).as("g"))
    val exactD = sh.select(col("blk"), col("doc_id").as("id_a"), col("g").as("ga"))
      .join(sh.select(col("blk"), col("doc_id").as("id_b"), col("g").as("gb")), "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", graft.functions.JaccardFunctions
        .sortedJaccardGe(col("ga"), col("gb"), 0.3))
      .filter(col("j").isNotNull)
      .select("blk", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val gotD = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.3)
      .select("blk", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    if (gotD == exactD)
      println(s"[gatecheck] d04 OK: ${gotD.size} pairs == exact")
    else {
      failed = true
      println(s"[gatecheck] d04 FAIL: missed ${(exactD -- gotD).take(5)} " +
        s"(${(exactD -- gotD).size}), extra ${(gotD -- exactD).take(5)} " +
        s"(${(gotD -- exactD).size})")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
