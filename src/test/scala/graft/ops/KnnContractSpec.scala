package graft.ops

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The kNN ranking contract — rank by `sim` desc, ties on `n_id` asc, keep
  * rank <= k, emit round(sim, 6) — and the approximate shortlist rank are
  * written once, in [[Similarity]]'s ranking helpers, which SparkEntry's
  * ExactKnnOracle replays. A second ranking site is a copy that can drift
  * from the oracle; the tie-order case checks that every entry point
  * still agrees with [[Similarity.bruteForceKnn]] where `sim` ties. */
class KnnContractSpec extends SparkTestBase {

  test("graft.ops ranks per query in Similarity's two ranking helpers only") {
    val site = Pattern.quote("Window.partitionBy(\"q_id\")").r
    val files = {
      val s = Files.walk(Paths.get("src/main/scala/graft/ops"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.size >= 10, s"scan found only $files")
    val sites = files.map { p =>
      p.getFileName.toString ->
        site.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size
    }.filter(_._2 > 0).toMap
    assert(sites == Map("Similarity.scala" -> 2), sites)
  }

  test("every kNN entry point keeps bruteForceKnn's tie order on duplicate vectors") {
    import spark.implicits._
    // 13 distinct vectors, each repeated 4 times (id % 13): every query has
    // three exact twins (sim ties at the top) and the k = 6 cut falls
    // inside the next group of 4 tied copies
    val rnd = new scala.util.Random(7)
    val base = Array.fill(13)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 52L).map(i => (i, base((i % 13).toInt)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5 || col("vec_id") === 30)
    val (k, n, nlist) = (6, 52, 4)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val brute = Similarity.bruteForceKnn(corpus, queries, k)
    val want = rows(brute)
    assert(want.size == 6 * k)
    assert(brute.groupBy("q_id", "sim").count().filter(col("count") === 3)
      .count() == 12, "each query should rank 3 twins, then 3 of 4 tied copies")
    val ivf = Ivf.build(corpus, nlist)
    val scale = Sq.trainScale(corpus)
    val pq = Pq.train(corpus, m = 2, k = 4)
    val ivfSq = IvfSq.build(corpus, nlist)
    val ivfPq = IvfPq.build(corpus, nlist, m = 2, k = 4)
    val paths = Seq(
      "Ivf.search" -> Ivf.search(ivf, queries, k, nprobe = nlist),
      "Ivf.searchPruned" -> Ivf.searchPruned(ivf, queries, k, nprobe = nlist),
      "Similarity.bucketedKnn" ->
        Similarity.bucketedKnn(corpus, queries, k, nlist = nlist, nprobe = nlist),
      "Sq.search" -> Sq.search(Sq.encode(corpus, scale), corpus, queries,
        scale, k, shortlist = n),
      "Sq.searchSign" -> Sq.searchSign(Sq.signEncode(corpus), corpus,
        queries, k, shortlist = n),
      "Pq.search" -> Pq.search(Pq.encode(corpus, pq), corpus, pq, queries, k,
        shortlist = n),
      "IvfSq.search" -> IvfSq.search(ivfSq, corpus, queries, k,
        nprobe = nlist, shortlist = n),
      "IvfSq.searchPruned" -> IvfSq.searchPruned(ivfSq, corpus, queries, k,
        nprobe = nlist, shortlist = n),
      "IvfPq.search" -> IvfPq.search(ivfPq, corpus, queries, k,
        nprobe = nlist, shortlist = n),
      "IvfPq.searchPruned" -> IvfPq.searchPruned(ivfPq, corpus, queries, k,
        nprobe = nlist, shortlist = n))
    paths.foreach { case (name, got) =>
      assert(rows(got) == want, s"$name departs from bruteForceKnn's tie order")
    }
  }
}
