package graft

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.lit

import graft.functions.{Kernels, ShingleFunctions}

/** The session-extension surface: every graft kernel injects as a
  * permanent function and resolves from pure SQL. registerFunctions is
  * the exact hook SparkSession.applyExtensions drives at session build
  * (spark.sql.extensions=graft.GraftExtensions), exercised here against
  * the live session's registry — no fragile global-session juggling.
  */
class GraftExtensionsSpec extends SparkTestBase {

  /** registerFunctions is what SparkSession.applyExtensions calls at
    * session build; it is private[sql] in Scala but public in bytecode,
    * so the test drives the exact production path reflectively. */
  private def applyTo(ext: SparkSessionExtensions, s: SparkSession = spark): Unit =
    classOf[SparkSessionExtensions]
      .getMethod("registerFunctions",
        classOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry])
      .invoke(ext, s.sessionState.functionRegistry)

  test("every kernel injects and resolves; SQL computes through them") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    applyTo(ext)
    GraftExtensions.registrations.foreach { case (name, _) =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name did not register")
    }
    // scalar kernels from pure SQL
    assert(spark.sql(
      "SELECT vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0) == 1.0)
    assert(spark.sql(
      "SELECT pq_adc(array(0), array(array(2.5D)))").head().getDouble(0) == 2.5)
    assert(spark.sql(
      "SELECT sorted_jaccard_ge(array(1L, 2L), array(1L, 2L), 0.5D)")
      .head().getDouble(0) == 1.0)
    assert(spark.sql(
      """SELECT pq_encode(array(0.9D, 0.1D),
        |  array(array(array(0.0D), array(1.0D)), array(array(0.0D), array(1.0D))))"""
        .stripMargin).head().getSeq[Int](0) == Seq(1, 0))
    // aggregates resolve and compute
    assert(spark.sql(
      """SELECT CAST(theta_estimate(theta_sketch_agg_long(x)) AS BIGINT)
        |FROM VALUES (1L), (2L), (2L) AS t(x)""".stripMargin)
      .head().getLong(0) == 2L)
    assert(spark.sql(
      """SELECT might_contain(bloom_filter_agg(xxhash64(x), 3L, 64L), xxhash64(2L))
        |FROM VALUES (1L), (2L), (3L) AS t(x)""".stripMargin)
      .head().getBoolean(0))
  }

  test("minhash_sig rejects a non-literal hash count loudly") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    applyTo(ext)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), CAST(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal") ||
      e.getMessage.toLowerCase.contains("minhash"), e.getMessage)
  }

  test("a fresh session reaches every table kernel from pure SQL") {
    val fresh = spark.newSession()
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    applyTo(ext, fresh)
    assert(Kernels.all.size == 39)
    val missing = Kernels.all.keys.filterNot(n =>
      fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: ${missing.toSeq.sorted.mkString(", ")}")
    assert(fresh.sql("SELECT shingle_hashes('abcdefg', 3)").head().getSeq[Long](0) ==
      spark.range(1).select(ShingleFunctions.shingleHashes(lit("abcdefg"), 3))
        .head().getSeq[Long](0))
    val cells = fresh.sql(
      """SELECT vec_top_cells(array(0.9D, 0.1D),
        |  array(array(1.0D, 0.0D), array(0.0D, 1.0D), array(0.5D, 0.5D)),
        |  array(7L, 8L, 9L), 2)""".stripMargin)
      .head().getSeq[Row](0).map(_.getLong(1))
    assert(cells == Seq(7L, 9L))
    val top = fresh.sql(
      """SELECT topk_by_key(s, id, 2)
        |FROM VALUES (0.5D, 1L), (0.9D, 2L), (0.1D, 3L) AS t(s, id)""".stripMargin)
      .head().getSeq[Row](0).map(r => (r.getDouble(0), r.getLong(1)))
    assert(top == Seq((0.9, 2L), (0.5, 1L)))
  }
}
