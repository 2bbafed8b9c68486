package graft.substrait

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import model.SubstraitException

/** The producer's subquery contract: every scalar, LATERAL, IN and EXISTS
  * subquery becomes a join through one decorrelation, and a correlated
  * aggregate reaches the wire only when the grouped LEFT join can give its
  * empty-group value (count/count_if coalesce to 0, NULL-on-empty
  * aggregates pass, anything else rejects). */
class SubqueryContractSpec extends SparkTestBase {

  private lazy val fixture: Unit = {
    import spark.implicits._
    Seq((1L, 2.0, true), (3L, 4.5, false), (3L, 1.5, true))
      .toDF("a", "b", "d").createOrReplaceTempView("sq_data")
  }

  private def rejected(sql: String): Unit = {
    val e = intercept[SubstraitException](Serializer.roundtrip(spark, spark.sql(sql)))
    assert(e.getMessage.contains("NULL-on-empty"), e.getMessage)
  }

  test("collect_list in a filter subquery rejects loudly: [] on an empty group") {
    fixture
    // a join miss reads NULL, whose size is never 0, so every row would drop
    rejected(
      """SELECT a FROM sq_data c
        |WHERE size((SELECT collect_list(b) FROM sq_data i
        |            WHERE i.a = c.a AND i.b > 100)) = 0""".stripMargin)
  }

  test("count_min_sketch in a correlated subquery rejects loudly: not a count") {
    fixture
    // its empty value is an empty sketch, and coalescing a binary to 0
    // would fail only when the plan is consumed
    rejected(
      """SELECT a FROM sq_data c
        |WHERE (SELECT count_min_sketch(i.a, 0.1D, 0.9D, 1) FROM sq_data i
        |       WHERE i.a = c.a) IS NOT NULL""".stripMargin)
  }

  test("LATERAL outputs wider than a bare aggregate keep Spark's empty-group values") {
    fixture
    val counted = spark.sql(
      """SELECT c.a, l.n FROM sq_data c,
        |LATERAL (SELECT count(*) + 1 AS n FROM sq_data i
        |         WHERE i.a = c.a AND i.b > 2.0) l""".stripMargin)
    assert(counted.collect().map(_.getLong(1)).toSet == Set(1L, 2L))
    assertRoundtrip(counted)
    val defaulted = spark.sql(
      """SELECT c.a, l.p FROM sq_data c,
        |LATERAL (SELECT coalesce(max(b), -1.0) AS p FROM sq_data i
        |         WHERE i.a = c.a AND i.b > 2.0) l""".stripMargin)
    assert(defaulted.collect().map(_.getDouble(1)).toSet == Set(-1.0, 4.5))
    assertRoundtrip(defaulted)
  }

  test("a correlated scalar subquery in a SELECT list rides the wire") {
    fixture
    val df = spark.sql(
      """SELECT c.a, c.b,
        |  (SELECT count(*) FROM sq_data i WHERE i.a = c.a AND i.b > 4.0) AS n,
        |  (SELECT max(b) FROM sq_data i WHERE i.a = c.a AND NOT i.d) AS mb
        |FROM sq_data c""".stripMargin)
    assert(df.collect().exists(r => r.getLong(2) == 0L && r.isNullAt(3)),
      "the probe must meet an empty group")
    assertRoundtrip(df)
  }

  test("Producer decorrelates in its two subquery builders and builds the " +
    "grouped LEFT join once") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/substrait/Producer.scala")), UTF_8)
    val defs = "private def (\\w+)".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    def enclosing(at: Int): String = defs.takeWhile(_._1 < at).last._2
    val callers = "decorrelateRaw\\(".r.findAllMatchIn(src).map(_.start)
      .filterNot(i => src.startsWith("private def decorrelateRaw(", i - "private def ".length))
      .map(enclosing).toSeq
    assert(callers.sorted == Seq("groupedJoin", "semiJoin"), callers)
    assert("JoinType\\.Left\\)".r.findAllMatchIn(src).size == 1,
      "the grouped LEFT join must be built at one site")
  }
}
