package graft.substrait

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** Port of the reference's test suite (tests/roundtrip.rs — 27 cases +
  * tests/serialize.rs — 1 case) over the same 2-row fixture
  * (tests/testdata/data.csv via FIXTURES.md §1): `data` with explicit schema
  * `a BIGINT, b DECIMAL(5,2), c DATE, d BOOLEAN`, `data2` same rows.
  *
  * The oracle is semantic (result multiset + column names after a full
  * produce→encode→decode→consume round-trip), not plan-string equality:
  * Spark's analyzer inserts aliases/casts that never string-match
  * (SURVEY.md §5 port strategy).
  */
class RoundtripSpec extends SparkTestBase {

  private lazy val fixture: Unit = {
    // two independently-built frames: registering one frame under two names
    // would share expression ids and trip Spark's ambiguous-self-join check
    // in the test harness itself
    def mk(): DataFrame = {
      val rows = Seq(
        (1L, new java.math.BigDecimal("2.00"), java.sql.Date.valueOf("2020-01-01"), false),
        (3L, new java.math.BigDecimal("4.50"), java.sql.Date.valueOf("2020-01-01"), true))
      import spark.implicits._
      rows.toDF("a", "b", "c", "d").withColumn("b", col("b").cast(DecimalType(5, 2)))
    }
    mk().createOrReplaceTempView("data")
    mk().createOrReplaceTempView("data2")
  }

  private def sqlRt(q: String): Unit = { fixture; assertRoundtrip(spark.sql(q)) }

  /** Desugar equivalence (test_alias pattern, roundtrip.rs:224-245): both SQL
    * forms round-trip to the same result set. */
  private def sqlEquiv(sugared: String, plain: String): Unit = {
    fixture
    val a = Serializer.roundtrip(spark, spark.sql(sugared))
    val b = Serializer.roundtrip(spark, spark.sql(plain))
    assertSameRows(a, b)
    assertRoundtrip(spark.sql(sugared))
  }

  // --- roundtrip.rs:13-26
  test("simple_select")       { sqlRt("SELECT a, b FROM data") }
  test("select_with_filter")  { sqlRt("SELECT * FROM data WHERE a > 1") }

  // --- roundtrip.rs:28-40: extension registry dedup, dense anchors from 0
  test("select_with_reused_functions") {
    fixture
    val plan = Producer.produce(
      spark.sql("SELECT * FROM data WHERE a > 1 AND b < 9 AND a < 5"))
    val exts = plan.extensions
    assert(exts.map(_.functionAnchor) == exts.indices.toSeq, "anchors dense from 0")
    assert(exts.map(_.name).distinct == exts.map(_.name), "names deduped")
    assert(exts.map(_.name).toSet == Set("and", "gt", "lt"))
    assertRoundtrip(spark.sql("SELECT * FROM data WHERE a > 1 AND b < 9 AND a < 5"))
  }

  // --- roundtrip.rs:43-50
  test("select_with_filter_date") { sqlRt("SELECT * FROM data WHERE c > DATE '2019-12-31'") }
  test("select_with_filter_bool_expr") { sqlRt("SELECT * FROM data WHERE d AND a > 1") }

  // --- roundtrip.rs:52-59
  test("select_with_limit")        { sqlRt("SELECT * FROM data LIMIT 100") }
  test("select_with_limit_offset") { sqlRt("SELECT * FROM data LIMIT 200 OFFSET 1") }

  // --- roundtrip.rs:62-75
  test("simple_aggregate") { sqlRt("SELECT a, sum(b) AS total FROM data GROUP BY a") }
  test("aggregate_distinct_with_having") {
    sqlRt("SELECT a, count(DISTINCT b) AS n FROM data GROUP BY a, c HAVING count(b) > 0")
  }
  test("aggregate_multiple_keys") {
    sqlRt("SELECT a, c, avg(b) AS avg_b FROM data GROUP BY a, c")
  }
  // --- roundtrip.rs:154-163
  test("aggregate_case") {
    sqlRt("SELECT sum(CASE WHEN a > 0 THEN 1 ELSE NULL END) AS n FROM data")
  }

  // --- roundtrip.rs:77-85
  test("decimal_literal")        { sqlRt("SELECT * FROM data WHERE b > 2.5") }
  test("null_decimal_literal")   {
    sqlRt("SELECT * FROM data WHERE b IS NOT NULL AND b > CAST(NULL AS DECIMAL(5,2))")
  }

  // --- roundtrip.rs:87-103: DISTINCT ≡ GROUP BY with no measures
  test("simple_distinct") {
    sqlEquiv("SELECT DISTINCT a FROM data", "SELECT a FROM data GROUP BY a")
  }
  test("select_distinct_two_fields") {
    sqlEquiv("SELECT DISTINCT a, b FROM data", "SELECT a, b FROM data GROUP BY a, b")
  }

  // --- roundtrip.rs:105-117: aliases vanish (names only in RelRoot)
  test("simple_alias") {
    sqlEquiv("SELECT d1.a, d1.b FROM data d1", "SELECT a, b FROM data")
  }
  test("two_table_alias") {
    sqlEquiv(
      "SELECT d1.a FROM data d1 JOIN data2 d2 ON d1.a = d2.a",
      "SELECT data.a FROM data JOIN data2 ON data.a = data2.a")
  }

  // --- roundtrip.rs:119-135: BETWEEN desugars before production
  test("between_integers") {
    sqlEquiv("SELECT * FROM data WHERE a BETWEEN 2 AND 6",
             "SELECT * FROM data WHERE a >= 2 AND a <= 6")
  }
  test("not_between_integers") {
    sqlEquiv("SELECT * FROM data WHERE a NOT BETWEEN 2 AND 6",
             "SELECT * FROM data WHERE a < 2 OR a > 6")
  }

  // --- roundtrip.rs:137-152: CASE both forms
  test("case_without_base_expression") {
    sqlRt("SELECT CASE WHEN a >= 2 THEN 'high' WHEN a >= 1 THEN 'mid' ELSE 'low' END AS bucket FROM data")
  }
  test("case_with_base_expression") {
    // Spark's parser desugars CASE a WHEN … to CASE WHEN a = …, so production
    // only ever sees the plain form; the base-expression wire shape is
    // consumer-only spec parity (consumer.rs:474-489), tested in WireSpec.
    sqlRt("SELECT CASE a WHEN 1 THEN 'one' WHEN 3 THEN 'three' ELSE 'other' END AS name FROM data")
  }

  // --- roundtrip.rs:165-195: the six join types over data × data2
  for (jt <- Seq("inner", "left", "right", "full", "left_semi", "left_anti")) {
    test(s"roundtrip_${jt}_join") {
      fixture
      val d1 = spark.table("data"); val d2 = spark.table("data2")
      val joined = d1.join(d2, d1("a") === d2("a"), jt)
      val projected = jt match {
        case "left_semi" | "left_anti" => joined.select(d1("a"), d1("b"))
        case _ => joined.select(d1("a"), d1("b"), d2("d"))
      }
      assertRoundtrip(projected)
    }
  }

  // self-join of the SAME view: positional refs must not collapse (§7.4).
  // SQL form — the DataFrame d1("a")/d2("a") form is ambiguous in plain Spark
  // too (DetectAmbiguousSelfJoin), which is exactly why the consumer renames.
  test("self_join_same_table") {
    sqlRt("SELECT d1.a, d1.b, d2.c FROM data d1 JOIN data d2 ON d1.a = d2.a")
  }

  // the same table on both sides with identical column lists: the two reads
  // bind positionally to distinct attributes, so neither side's refs can
  // resolve to the other's (inner keeps both sides, left_anti the left one)
  test("self-join of one table with identical columns, inner and left_anti") {
    sqlRt("SELECT * FROM data l JOIN data r ON l.a = r.a AND l.b <= r.b")
    sqlRt("SELECT * FROM data l JOIN data r ON l.a < r.a")
    sqlRt("SELECT * FROM data l LEFT ANTI JOIN data r ON l.a > r.a")
  }

  // --- tests/serialize.rs:13-36: wire-format file round-trip
  test("serialize_simple_select") {
    fixture
    val path = java.nio.file.Files.createTempFile("graft_ser", ".pb")
    try {
      Serializer.serialize("SELECT a, b FROM data2", spark, path.toString)
      val plan = Serializer.deserialize(path.toString)
      val got = Consumer.consume(spark, plan)
      assertSameRows(spark.sql("SELECT a, b FROM data2"), got)
      assert(got.columns.toSeq == Seq("a", "b"))
    } finally java.nio.file.Files.deleteIfExists(path)
  }

  // DataFrame-API entry (to_substrait_plan direct, producer.rs:37-63): both
  // SQL and DataFrame builders produce consumable plans
  test("dataframe_api_entry") {
    fixture
    assertRoundtrip(spark.table("data").filter(col("d")).select(col("a"), col("b")))
  }

  test("producer is deterministic: same query, same bytes") {
    fixture
    val q = "SELECT a, sum(b) AS s FROM data WHERE d GROUP BY a ORDER BY a"
    val b1 = Serializer.toBytes(spark.sql(q))
    val b2 = Serializer.toBytes(spark.sql(q))
    assert(b1.sameElements(b2))
  }

  test("double round-trip is stable: consume∘produce twice = same results") {
    fixture
    val df = spark.sql(
      "SELECT d1.a, d1.b, count(*) AS n FROM data d1 JOIN data2 d2 ON d1.a = d2.a GROUP BY d1.a, d1.b")
    val once = Serializer.roundtrip(spark, df)
    val twice = Serializer.roundtrip(spark, once)
    assertSameRows(df, twice)
    assert(twice.columns.toSeq == df.columns.toSeq)
  }

  // ---- grouping sets / rollup / cube: AggregateRel with multiple groupings
  // (beyond the reference — consumer.rs:230-235 allows exactly one)

  test("rollup round-trips as multi-grouping AggregateRel") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, d, sum(b) AS s, count(*) AS n FROM data GROUP BY ROLLUP (a, d)"))
  }

  test("cube round-trips") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, d, sum(b) AS s FROM data GROUP BY CUBE (a, d)"))
  }

  test("explicit grouping sets round-trip, including the empty set") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, d, count(*) AS n FROM data GROUP BY GROUPING SETS ((d), (a, d), ())"))
  }

  test("grouping sets double round-trip: produce from a consumed plan's shape") {
    fixture
    val df = spark.sql(
      "SELECT a, d, count(*) AS n FROM data GROUP BY ROLLUP (a, d)")
    val once = Serializer.roundtrip(spark, df)
    val twice = Serializer.roundtrip(spark, once)
    assertSameRows(df, twice)
    assert(twice.columns.toSeq == df.columns.toSeq)
  }

  test("rollup over a computed grouping expression round-trips") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a + 1 AS a1, sum(b) AS s FROM data GROUP BY ROLLUP (a + 1)"))
  }

  test("unpivot (melt) rides the wire as a standalone Expand → union of projects") {
    fixture
    // DataFrame.unpivot resolves to a standalone Catalyst Expand (no
    // spark_grouping_id), which must take the union-of-projections path —
    // NOT the grouping-sets encoding
    val df = spark.table("data")
      .select(col("a"), col("b").cast("double").as("bv"),
        (col("a") * 2).cast("double").as("a2"))
      .unpivot(Array(col("a")), Array(col("bv"), col("a2")),
        "measure", "value")
    assertRoundtrip(df)
    assertRoundtrip(
      df.groupBy("measure").agg(sum("value").as("total"), count(lit(1)).as("n")))
  }

  test("grouping sets wire shape: one AggregateRel, n groupings, no Expand leak") {
    fixture
    val plan = Producer.produce(spark.sql(
      "SELECT a, d, count(*) AS n FROM data GROUP BY GROUPING SETS ((d), (a, d))"))
    val root = plan.relations.head match {
      case model.PlanRel.Root(r, _) => r
      case model.PlanRel.RelOnly(r) => r
    }
    val aggs = collectRels(root) { case a: model.Rel.Aggregate => a }
    assert(aggs.size == 1)
    assert(aggs.head.groupings.size == 2)
    assert(aggs.head.groupings.map(_.size) == Seq(1, 2))
  }

  test("grouping() round-trips with exact Spark values") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, grouping(a) AS g, count(*) AS n FROM data GROUP BY ROLLUP (a)"))
  }

  test("grouping_id() bitmask round-trips over cube") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT a, d, grouping_id() AS gid, sum(b) AS s
        |FROM data GROUP BY CUBE (a, d)""".stripMargin))
  }

  // subset-key dropDuplicates rides the wire as groupBy(keys)+first(others)
  // (the same rewrite Spark's ReplaceDeduplicateWithAggregate executes);
  // a deterministic projection of the kept KEY set must round-trip exactly
  test("dropDuplicates on a key subset rides the wire") {
    fixture
    val df = spark.table("data").dropDuplicates("a").select(col("a"))
    assertRoundtrip(df)
    val full = spark.table("data").dropDuplicates("a", "b", "c", "d")
    assertRoundtrip(full)
  }

  // A FOREIGN plan can encode grouping() as an aggregate MEASURE named
  // "grouping" — the reference's AggregateFunction::from_str accepts it
  // (consumer.rs:383-415). Graft's own producer rides grouping() through the
  // Expand recovery instead, so this path only arises from foreign bytes:
  // hand-build the plan, encode→decode, consume, compare with Spark SQL.
  test("foreign plan with a `grouping` measure consumes") {
    fixture
    import model._
    val schema = NamedStruct(Seq("a", "b", "c", "d"),
      Seq((SType.SI64, true), (SType.SDecimal(5, 2), true),
        (SType.SDate, true), (SType.SBool, true)))
    val agg = Rel.Aggregate(
      Rel.Read(schema, Seq("data"), None),
      groupings = Seq(Seq(SExpr.FieldRef(0)), Seq()),
      measures = Seq(
        Measure(AggFunction(0, Seq(SExpr.FieldRef(0)), AggInvocation.All), None),
        Measure(AggFunction(1, Seq(SExpr.FieldRef(0)), AggInvocation.All), None)))
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "count"),
        ExtensionFunction(0xffffffffL, 1, "grouping")),
      Seq(PlanRel.Root(agg, Seq("a", "n", "g", "set_idx"))))
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
    assert(got.columns.toSeq == Seq("a", "n", "g", "set_idx"))
    val want = spark.sql(
      "SELECT a, count(a) AS n, grouping(a) AS g FROM data GROUP BY GROUPING SETS ((a), ())")
    assertSameRows(want, got.select(col("a"), col("n"), col("g")))
  }

  test("uncorrelated IN subquery rides the wire as a semi JoinRel") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, b FROM data WHERE a IN (SELECT a FROM data2 WHERE d)"))
  }

  test("uncorrelated EXISTS becomes a semi join; IN composes with plain conjuncts") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a FROM data WHERE EXISTS (SELECT 1 FROM data2 WHERE d)"))
    assertRoundtrip(spark.sql(
      "SELECT a, b FROM data WHERE a IN (SELECT a FROM data2) AND b > 1.0"))
  }

  test("uncorrelated scalar subquery in a filter (cross-joined single row)") {
    fixture
    assertRoundtrip(spark.sql(
      "SELECT a, b FROM data WHERE b > (SELECT avg(b) FROM data2)"))
    assertRoundtrip(spark.sql(
      """SELECT a FROM data
        |WHERE b > (SELECT min(b) FROM data2) AND a IN (SELECT a FROM data2)""".stripMargin))
  }

  test("correlated EXISTS decorrelates into a semi-join condition") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT d1.a, d1.b FROM data d1
        |WHERE EXISTS (SELECT 1 FROM data2 d2
        |              WHERE d2.a = d1.a AND d2.d)""".stripMargin))
  }

  test("correlated NOT EXISTS becomes an anti join") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE NOT EXISTS (SELECT 1 FROM data2 d2
        |                  WHERE d2.a = d1.a AND d2.d)""".stripMargin))
  }

  test("correlated IN lifts the correlation into the semi-join condition") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT d1.a, d1.b FROM data d1
        |WHERE d1.b IN (SELECT d2.b FROM data2 d2 WHERE d2.a = d1.a)""".stripMargin))
  }

  test("correlated scalar aggregate (TPC-H Q17 shape) → grouped left join") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT d1.a, d1.b FROM data d1
        |WHERE d1.b < (SELECT sum(d2.b) FROM data2 d2 WHERE d2.a = d1.a)""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.b >= (SELECT avg(d2.b) * 0.5 FROM data2 d2
        |               WHERE d2.a = d1.a AND d2.d)""".stripMargin))
  }

  test("correlated COUNT scalar subquery: empty group compares as 0") {
    fixture
    // a=1 has one match in data2, a=3 has one; use <> to exercise both sides;
    // rows with NO matching group must see 0, not NULL
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.a > (SELECT count(*) FROM data2 d2
        |              WHERE d2.a = d1.a AND d2.d)""".stripMargin))
  }

  test("correlated COUNT inside a wider expression: coalesce at the agg level") {
    fixture
    // the count is fixed up to 0 BEFORE the enclosing ×2 / +1 expression
    // evaluates, so empty groups see 0*2=0 and 0+1=1, never NULL — the
    // r9-rejected shape, now decorrelated by decomposing the scalar head
    // into per-aggregate columns joined LEFT and rebuilt outside the join
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.a < (SELECT count(*) * 2 FROM data2 d2 WHERE d2.a = d1.a)""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.a >= (SELECT count(*) + 1 FROM data2 d2
        |               WHERE d2.a = d1.a AND d2.d)""".stripMargin))
    // mixed count + sum in one head: count coalesces to 0, sum stays NULL
    // on a miss (NULL propagates through the +, filtering the row — SQL's
    // empty-set value for sum)
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.a < (SELECT count(*) + sum(d2.b) FROM data2 d2
        |              WHERE d2.a = d1.a)""".stripMargin))
  }

  test("HAVING with a subquery: semi join sits above the aggregate") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT a, count(*) AS n FROM data GROUP BY a
        |HAVING count(*) >= (SELECT min(a) FROM data2)""".stripMargin))
  }

  test("NOT IN rides the wire as a null-aware anti JoinRel (eq OR is_null(eq))") {
    fixture
    import spark.implicits._
    // probe side with NULLs, list side without: NULL probes drop, others anti-join
    Seq(Some(1L), Some(3L), Some(9L), None).toDF("x")
      .createOrReplaceTempView("ni_probe")
    val kept = spark.sql(
      "SELECT x FROM ni_probe WHERE x NOT IN (SELECT a FROM data2)")
    assertRoundtrip(kept)
    assert(Serializer.roundtrip(spark, kept).collect().map(_.getLong(0)).toSeq == Seq(9L))
    // list side WITH a NULL: SQL three-valued logic → empty result
    Seq(Some(1L), Some(42L), None).toDF("y")
      .createOrReplaceTempView("ni_list")
    val empty = spark.sql(
      "SELECT x FROM ni_probe WHERE x NOT IN (SELECT y FROM ni_list)")
    assertRoundtrip(empty)
    assert(Serializer.roundtrip(spark, empty).count() == 0L)
    // correlated NOT IN: correlation gates which list rows participate
    assertRoundtrip(spark.sql(
      """SELECT d1.a FROM data d1
        |WHERE d1.a NOT IN (SELECT d2.a FROM data2 d2 WHERE d2.a > d1.a)""".stripMargin))
  }

  test("TIME type and literals ride the wire (substrait time, field 17)") {
    import spark.implicits._
    // Spark 4.1 gates the TIME type behind this flag
    spark.conf.set("spark.sql.timeType.enabled", "true")
    val t = java.time.LocalTime.of(13, 45, 30, 123456000)
    val df = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), lit(t).as("t"))
      .withColumn("later", col("t") > lit(java.time.LocalTime.of(1, 0)))
    assertRoundtrip(df)
    val got = Serializer.roundtrip(spark, df).collect()
    assert(got.forall(r => r.getAs[java.time.LocalTime]("t") == t
      && r.getBoolean(2)))
    // sub-microsecond times cannot cross losslessly -> loud reject
    val bad = Seq(1L).toDF("id")
      .select(lit(java.time.LocalTime.of(0, 0, 0, 1)).as("t"))
    val e = intercept[model.SubstraitException](Producer.produce(bad))
    assert(e.getMessage.contains("sub-microsecond"), e.getMessage)
  }

  test("array literals and the codegen'd vector kernels ride the wire") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.6, 0.8)))
      .toDF("id", "vec")
    val q = df.select(col("id"),
      round(graft.functions.VecFunctions.vecCosine(
        col("vec"), typedLit(Seq(1.0, 0.0))), 6).as("sim"))
    assertRoundtrip(q)
    val got = Serializer.roundtrip(spark, q).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 1.0, 2L -> 0.6))
  }

  test("empty array literal rides the wire as Literal.empty_list") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("id")
    val q = df.select(col("id"), typedLit(Seq.empty[Int]).as("arr"),
      size(typedLit(Seq.empty[Int])).as("n"))
    assertRoundtrip(q)
    val got = Serializer.roundtrip(spark, q).collect()
    assert(got.forall(_.getSeq[Int](1).isEmpty))
  }

  test("uncorrelated scalar subquery that may not be single-row is loudly rejected") {
    fixture
    // SELECT a FROM data2 WHERE ... can yield 0 or many rows — a cross-join
    // rewrite would silently change semantics, so the producer must refuse
    val df = spark.sql("SELECT a FROM data WHERE a = (SELECT a FROM data2 WHERE b > 100)")
    val e = intercept[model.SubstraitException](Producer.produce(df))
    assert(e.getMessage.contains("not a global aggregate"), e.getMessage)
  }

  test("explode/posexplode ride the wire as an ExtensionSingleRel") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq.empty[String]))
      .toDF("id", "xs")
    assertRoundtrip(df.select(col("id"), explode(col("xs")).as("x")))
    assertRoundtrip(df.select(col("id"),
      posexplode_outer(col("xs")).as(Seq("pos", "x"))))
    // explode_outer keeps the empty-array row as NULL
    val outer = Serializer.roundtrip(spark,
      df.select(col("id"), explode_outer(col("xs")).as("x")))
    assert(outer.count() == 4)
  }

  test("higher-order functions with lambdas ride the wire (incl. nesting)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2, 3)), (2L, Seq(10, 20))).toDF("id", "xs")
    assertRoundtrip(df.select(col("id"),
      transform(col("xs"), x => x * 2).as("doubled"),
      filter(col("xs"), x => x % 2 === 1).as("odds"),
      aggregate(col("xs"), lit(0), (acc, x) => acc + x).as("total")))
    // nested lambdas: the slot numbering must survive produce→consume
    val nested = df.select(col("id"),
      flatten(transform(col("xs"), x =>
        transform(col("xs"), y => x + y))).as("sums"))
    assertRoundtrip(nested)
    // zip_with + indexed transform
    assertRoundtrip(df.select(col("id"),
      zip_with(col("xs"), col("xs"), (a, b) => a * b).as("sq"),
      transform(col("xs"), (x, i) => x + i).as("xi")))
  }

  test("VirtualTable rows with array and map cells ride the wire") {
    import spark.implicits._
    val dim = Seq(
      (1L, Seq("a", "b"), Map("k" -> 1.5)),
      (2L, Seq.empty[String], Map.empty[String, Double]))
      .toDF("id", "tags", "weights")
    val q = dim.select(col("id"), size(col("tags")).as("n_tags"),
      element_at(col("weights"), "k").as("wk"))
    assertRoundtrip(q)
    val got = Serializer.roundtrip(spark, q).orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 2), (2L, 0)))
  }

  test("interval literals and timestamp arithmetic ride the wire") {
    graft.Tables.register(spark, sfDir)
    // ts ± INTERVAL analyzes to TimestampAddInterval + DayTimeInterval
    // literal; the wire carries interval_day_to_second and a plain add
    assertRoundtrip(spark.sql(
      """SELECT event_id, ts - INTERVAL '90' MINUTE AS t_back,
        |       ts + INTERVAL '1 12:00:30.5' DAY TO SECOND AS t_fwd
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin), ordered = true)
    // the shifted value is exactly -90 minutes (micros preserved)
    val got = Serializer.roundtrip(spark, spark.sql(
      "SELECT ts, ts - INTERVAL '90' MINUTE AS t2 FROM events LIMIT 5")).collect()
    got.foreach { r =>
      val d = java.time.Duration.between(
        r.getAs[java.sql.Timestamp]("t2").toInstant,
        r.getAs[java.sql.Timestamp]("ts").toInstant)
      assert(d == java.time.Duration.ofMinutes(90), d.toString)
    }
  }

  test("sample, repartition and coalesce ride the wire") {
    graft.Tables.register(spark, sfDir)
    val li = spark.table("lineitem").select("l_orderkey", "l_quantity")
    // seeded sample: same engine + same seed => identical rows after the hop
    assertRoundtrip(li.sample(withReplacement = false, 0.3, seed = 7L))
    // round-robin repartition and coalesce preserve rows and cross the wire
    assertRoundtrip(li.repartition(8))
    assertRoundtrip(li.coalesce(2))
    // range partitioning survives with its sort directions
    val rp = Serializer.roundtrip(spark,
      li.repartitionByRange(4, col("l_orderkey").desc))
    assert(rp.count() == li.count())
    assert(rp.queryExecution.executedPlan.toString.contains("rangepartitioning"),
      "range partitioning must survive the wire")
    val n = Serializer.roundtrip(spark, li.coalesce(2)).rdd.getNumPartitions
    assert(n <= 2, s"coalesce lost on the wire: $n partitions")
  }

  test("map higher-order functions ride the wire") {
    import spark.implicits._
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
    val m = map(lit("a"), col("v"), lit("b"), col("v") * 2)
    assertRoundtrip(df.select(col("id"),
      element_at(transform_values(m, (_, v) => v + 1), "b").as("tv"),
      size(map_filter(m, (_, v) => v > 2)).as("mf"),
      element_at(map_zip_with(m, m, (_, x, y) => x + y), "a").as("mz")))
  }

  test("the shingle/minhash pipeline expressions ride the wire") {
    graft.Tables.register(spark, sfDir)
    val docs = spark.table("documents").limit(50)
    assertRoundtrip(docs.select(col("doc_id"),
      graft.ops.Dedup.shingles("text", 3).as("sh")))
    assertRoundtrip(
      graft.ops.Dedup.minhashSignature(docs.select("doc_id", "text"))
        .select("doc_id", "minhash_sig"))
  }

  test("brute-force kNN (hint + kernel) is wire-expressible end-to-end") {
    graft.Tables.register(spark, sfDir)
    val e = spark.table("embeddings")
    val knn = graft.ops.Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), k = 3)
    assertRoundtrip(knn)
  }

  test("structs ride the wire: named_struct, get_field, typed null struct") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT a, named_struct('x', a + 1, 'y', b).x AS x1,
        |       named_struct('x', a + 1, 'y', b).y AS y1
        |FROM data""".stripMargin))
    // null struct literal with named fields (the as-of join's union shape)
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val withNull = df.select(col("k"),
      when(col("k") === 1, struct(col("v").as("a"), (col("v") * 2).as("b")))
        .otherwise(lit(null)).as("s"))
      .select(col("k"), col("s").getField("b").as("sb"))
    assertRoundtrip(withNull)
  }

  test("as-of join is wire-expressible (union + struct + running max window)") {
    graft.Tables.register(spark, sfDir)
    val ev = spark.table("events").withColumn("ts", col("ts").cast("timestamp_ntz"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts").limit(200)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    assertRoundtrip(graft.ops.AsOfJoin.asofJoin(
      clicks, purchases, Seq("user_id"), "ts", "ts",
      payload = Seq("event_id", "value"), prefix = "p_"))
  }

  test("inline literal frame rides the wire as a VirtualTable") {
    import spark.implicits._
    val dim = Seq((1L, "one", true), (3L, "three", false)).toDF("k", "label", "flag")
    assertRoundtrip(dim)
    assertRoundtrip(dim.filter(col("flag")).select("k", "label"))
  }

  test("VirtualTable join against a named table (inline dimension pattern)") {
    fixture
    import spark.implicits._
    val dim = Seq((1L, "one"), (3L, "three")).toDF("a", "label")
    val joined = spark.table("data").join(dim, "a")
      .select(col("a"), col("label"), col("b"))
    assertRoundtrip(joined)
  }

  test("VirtualTable preserves typed nulls and timestamps") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x"), Some(java.time.LocalDateTime.of(2020, 1, 2, 3, 4, 5))),
      (2L, None, None)).toDF("k", "s", "ts")
    assertRoundtrip(df)
  }

  test("filter above a scan folds into ReadRel.filter (refs on the base schema)") {
    fixture
    val df = spark.sql("SELECT b FROM data WHERE a > 1 AND d")
    val plan = Producer.produce(df)
    val root = plan.relations.head match {
      case model.PlanRel.Root(r, _) => r
      case model.PlanRel.RelOnly(r) => r
    }
    val reads = collectRels(root) { case r: model.Rel.Read => r }
    assert(reads.size == 1)
    assert(reads.head.filter.isDefined, "scan filter must be folded into the ReadRel")
    assert(collectRels(root) { case f: model.Rel.Filter => f }.isEmpty,
      "no standalone FilterRel should remain above the scan")
    // and the folded plan still executes correctly end-to-end
    assertRoundtrip(df)
  }

  test("typed stage crosses the wire by name; unknown stages fail loudly") {
    graft.Tables.register(spark, sfDir)
    val df = graft.ops.Multimodal.mediaFeatureSummary(
      spark, spark.table("documents"))
    // the produced plan must contain exactly one ExtStage with the v1 name
    val plan = Producer.produce(df)
    def findStage(r: model.Rel): Seq[model.Rel.ExtStage] = r match {
      case s: model.Rel.ExtStage => Seq(s)
      case p: model.Rel.Project => findStage(p.input)
      case f: model.Rel.Filter => findStage(f.input)
      case s: model.Rel.Sort => findStage(s.input)
      case _ => Nil
    }
    val root = plan.relations.head match {
      case model.PlanRel.Root(r, _) => r
      case model.PlanRel.RelOnly(r) => r
    }
    val stages = findStage(root)
    assert(stages.map(_.stage) == Seq("graft.media_features_v1"), stages)
    // full wire round-trip executes and matches
    assertRoundtrip(df)
    // a plan naming an unregistered stage must be rejected loudly
    val bogus = model.Plan(plan.extensions, Seq(model.PlanRel.Root(
      model.Rel.ExtStage(stages.head.input, "graft.nope_v9"),
      Seq("a", "b", "c", "d"))))
    val decoded = Wire.decode(Wire.encode(bogus))
    val err = intercept[Exception](Consumer.consume(spark, decoded))
    assert(err.getMessage.contains("unknown typed stage"), err.getMessage)
    // and the validator flags it without executing anything
    val issues = Validator.validate(decoded)
    assert(issues.exists(_.msg.contains("unknown typed stage")), issues)
  }

  test("broadcast join-strategy hint survives the wire (ExtHint)") {
    fixture
    val left = spark.table("data")
    val right = spark.table("data2").groupBy("a").agg(max("b").as("mb"))
    val hinted = left.join(broadcast(right), "a")
    // the producer must emit the hint as an extension rel
    val plan = Producer.produce(hinted)
    val hints = plan.relations.flatMap(r =>
      collectRels(r.asInstanceOf[model.PlanRel.Root].input) {
        case h: model.Rel.ExtHint => h })
    assert(hints.map(_.hint) == Seq("broadcast"), hints)
    // with auto-broadcast off, ONLY the hint can make the join a
    // BroadcastHashJoin — so the roundtripped plan keeping BHJ proves the
    // hint re-applied, not that Catalyst re-derived it from stats
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rt = Serializer.roundtrip(spark, hinted)
      assertSameRows(hinted, rt)
      val phys = rt.queryExecution.executedPlan.toString
      assert(phys.contains("BroadcastHashJoin"), phys)
      // control: the unhinted join must NOT broadcast under the same conf,
      // proving the assertion above is sharp
      val bare = Serializer.roundtrip(spark, left.join(right, "a"))
      assert(!bare.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // non-broadcast strategy names ride the same rail
    val merged = Serializer.roundtrip(spark, left.join(right.hint("merge"), "a"))
    assertSameRows(hinted, merged)
    // validator: unknown hint names are flagged without executing
    val bogus = model.Plan(plan.extensions, Seq(model.PlanRel.Root(
      model.Rel.ExtHint(
        model.Rel.Read(model.NamedStruct(Seq("a"), Seq((model.SType.SI64, true))),
          Seq("data"), None),
        "zigzag"),
      Seq("a"))))
    val issues = Validator.validate(Wire.decode(Wire.encode(bogus)))
    assert(issues.exists(_.msg.contains("unknown join-strategy hint")), issues)
  }

  private def collectRels[T](rel: model.Rel)(pf: PartialFunction[model.Rel, T]): Seq[T] = {
    val children = rel match {
      case r: model.Rel.Project => Seq(r.input)
      case r: model.Rel.Filter => Seq(r.input)
      case r: model.Rel.Fetch => Seq(r.input)
      case r: model.Rel.Sort => Seq(r.input)
      case r: model.Rel.Aggregate => Seq(r.input)
      case r: model.Rel.Join => Seq(r.left, r.right)
      case r: model.Rel.Cross => Seq(r.left, r.right)
      case r: model.Rel.Set => r.inputs
      case r: model.Rel.ExtGenerate => Seq(r.input)
      case r: model.Rel.ExtExchange => Seq(r.input)
      case r: model.Rel.ExtSample => Seq(r.input)
      case r: model.Rel.ExtStage => Seq(r.input)
      case r: model.Rel.ExtHint => Seq(r.input)
      case _: model.Rel.Read => Nil
    }
    pf.lift(rel).toSeq ++ children.flatMap(collectRels(_)(pf))
  }
}
