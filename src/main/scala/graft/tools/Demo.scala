package graft.tools

import graft.{Session, Tables}
import graft.substrait.{Consumer, Serializer, Wire, Producer}

/** Library-surface demo: SQL → Substrait bytes on disk → decode → DataFrame →
  * execute. Mirrors the reference's serializer entry point
  * (src/serializer.rs:12-33). Run:
  *   sbt "runMain graft.tools.Demo /root/testdata/sf0.001"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4, "spark.app.name" -> "graft-demo")
    Tables.register(spark, dir)

    val sql =
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_discount > 0.02
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin

    val path = java.nio.file.Files.createTempFile("graft_plan", ".pb").toString
    println(s"== serialize SQL -> $path")
    Serializer.serialize(sql, spark, path)
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    println(s"== wrote $size bytes")

    val plan = Serializer.deserialize(path)
    println(s"== decoded plan: ${plan.extensions.size} fn extensions: " +
      plan.extensions.map(e => s"${e.name}@${e.functionAnchor}").mkString(", "))

    val df = Consumer.consume(spark, plan)
    println("== consumed DataFrame, executing:")
    df.show(20, truncate = false)

    println("== direct execution for comparison:")
    spark.sql(sql).show(20, truncate = false)

    println("== physical plan of the consumed frame:")
    df.explain("formatted")

    // error-contract probes (reference contract: loud typed failures, §2.11)
    def expectFail(label: String)(f: => Any): Unit =
      try { f; println(s"!! $label: NO ERROR (unexpected)") }
      catch { case e: Throwable => println(s"== $label -> ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}") }

    expectFail("scalar fn outside the named allowlist (parse_url)") {
      Producer.produce(spark.sql(
        "SELECT parse_url(o_orderpriority, 'HOST') FROM orders"))
    }
    println("== window fn now supported: " +
      Serializer.roundtrip(spark, spark.sql(
        "SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) rn FROM orders"))
        .count() + " rows")
    expectFail("corrupt bytes") {
      Wire.decode(Array[Byte](0x0a, 0x03, 0x01))
    }
    expectFail("unknown table on consume") {
      val p = Producer.produce(spark.sql("SELECT r_name FROM region"))
      spark.catalog.dropTempView("region")
      try Consumer.consume(spark, p).collect()
      finally Tables.register(spark, dir + "/") // re-register under new key
    }

    // round-2 surface: grouping sets, VirtualTable, ReadRel scan filter
    println("== rollup through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin))
        .count() + " rows (incl. subtotals + grand total)")
    locally {
      import spark.implicits._
      val dim = Seq((1, "low"), (2, "high")).toDF("prio_class", "label")
      println("== inline frame as VirtualTable through the wire: " +
        Serializer.roundtrip(spark, dim).count() + " literal rows")
    }
    locally {
      val produced = Producer.produce(
        spark.sql("SELECT o_orderkey FROM orders WHERE o_totalprice > 1000.0"))
      val shape = produced.relations.head match {
        case graft.substrait.model.PlanRel.Root(r, _) => r
        case graft.substrait.model.PlanRel.RelOnly(r) => r
      }
      def hasReadFilter(rel: graft.substrait.model.Rel): Boolean = rel match {
        case rd: graft.substrait.model.Rel.Read => rd.filter.isDefined
        case p: graft.substrait.model.Rel.Project => hasReadFilter(p.input)
        case f: graft.substrait.model.Rel.Filter => hasReadFilter(f.input)
        case _ => false
      }
      println(s"== filter folded into ReadRel.filter on the wire: ${hasReadFilter(shape)}")
    }

    // round-3 surface: explode + lambdas + maps through the wire
    println("== explode through the wire (ExtensionSingleRel): " +
      Serializer.roundtrip(spark, spark.sql(
        "SELECT o_orderkey, x FROM orders LATERAL VIEW explode(array(1, 2)) t AS x"))
        .count() + " rows")
    println("== lambda HOF through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        "SELECT aggregate(transform(array(1, 2, 3), x -> x * 2), 0, (a, x) -> a + x) AS s FROM region LIMIT 1"))
        .head().getInt(0) + " = sum of doubled [1,2,3]")
    println("== map literal + access through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        "SELECT map('a', 1, 'b', 2)['b'] AS v FROM region LIMIT 1"))
        .head().getInt(0) + " = m['b']")

    // round-4 surface: typed stage by name + curation ops through the wire
    println("== typed mapPartitions stage through the wire (ExtStage): " +
      Serializer.roundtrip(spark, graft.ops.Multimodal.mediaFeatureSummary(
        spark, spark.table("documents"))).count() + " media rows")
    expectFail("unknown stage name is rejected loudly") {
      val good = Producer.produce(graft.ops.Multimodal.mediaFeatureSummary(
        spark, spark.table("documents")))
      def rename(r: graft.substrait.model.Rel): graft.substrait.model.Rel =
        r match {
          case s: graft.substrait.model.Rel.ExtStage =>
            s.copy(stage = "graft.no_such_stage_v9")
          case p: graft.substrait.model.Rel.Project => p.copy(input = rename(p.input))
          case f: graft.substrait.model.Rel.Filter => f.copy(input = rename(f.input))
          case s: graft.substrait.model.Rel.Sort => s.copy(input = rename(s.input))
          case other => other
        }
      val bogus = good.copy(relations = good.relations.map {
        case graft.substrait.model.PlanRel.Root(r, n) =>
          graft.substrait.model.PlanRel.Root(rename(r), n)
        case other => other
      })
      Consumer.consume(spark, Wire.decode(Wire.encode(bogus))).count()
    }
    println("== repetition filters through the wire: " +
      Serializer.roundtrip(spark, graft.ops.TextOps.repetitionStats(
        spark.table("documents"))).filter("repetitive").count() +
      " repetitive docs flagged")
    println("== WITH CTE (multi-reference, inlined) through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        """WITH t AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey)
          |SELECT count(*) FROM t t1 JOIN t t2 ON t1.l_partkey = t2.l_partkey""".stripMargin))
        .head().getLong(0) + " joined rows")
    println("== PIVOT (pivotfirst -> per-value first measures) through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        """SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem)
          |PIVOT (count(l_quantity) FOR l_linestatus IN ('O' AS o, 'F' AS f))""".stripMargin))
        .count() + " pivoted rows")
    println("== LATERAL aggregate subquery (decorrelated) through the wire: " +
      Serializer.roundtrip(spark, spark.sql(
        """SELECT c.c_custkey, l.n FROM customer c,
          |LATERAL (SELECT count(*) AS n FROM orders o
          |         WHERE o.o_custkey = c.c_custkey) l""".stripMargin))
        .count() + " rows")
    spark.stop()
  }
}
