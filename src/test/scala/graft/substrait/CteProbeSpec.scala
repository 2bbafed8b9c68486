package graft.substrait

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Probes for analyzer-surviving plan nodes beyond the core set: WITH CTEs
  * (single- and multi-reference — Spark keeps `WithCTE`/`CTERelationRef` in
  * the ANALYZED plan, which is what the producer consumes) and UNPIVOT.
  */
class CteProbeSpec extends SparkTestBase {

  private lazy val fixture: Unit = {
    import spark.implicits._
    Seq((1L, 2.0, true), (3L, 4.5, false), (3L, 1.5, true))
      .toDF("a", "b", "d").createOrReplaceTempView("cte_data")
  }

  test("single-reference CTE rides the wire") {
    fixture
    assertRoundtrip(spark.sql(
      "WITH t AS (SELECT a, b FROM cte_data WHERE d) SELECT a, b FROM t WHERE a > 1"))
  }

  test("tumbling window() aggregate rides the wire") {
    import spark.implicits._
    // the analyzer rewrites window() into KnownNullable-wrapped
    // PreciseTimestampConversion bucket arithmetic — produced through as
    // unix_micros/timestamp_micros (e13's sketch-per-window shape)
    val df = Seq(("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:50:00", 2.5),
        ("2024-01-01 01:05:00", 4.0), ("2024-01-01 03:59:59", 8.0))
      .toDF("s", "v")
      .select(to_timestamp(col("s")).as("ts"), col("v"))
    assertRoundtrip(df.groupBy(window(col("ts"), "1 hour"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("total"), col("n")))
  }

  test("SLIDING window() aggregate rides the wire (Expand → union-of-projects)") {
    import spark.implicits._
    // the sliding rewrite is Aggregate(Filter(Expand(...))) — the Expand
    // produces as SetRel UnionAll (standalone-Expand path) and the bucket
    // arithmetic as unix_micros/timestamp_micros; each event lands in
    // overlap = len/slide windows
    val df = Seq(("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:50:00", 2.5),
        ("2024-01-01 01:05:00", 4.0), ("2024-01-01 02:59:00", 8.0))
      .toDF("s", "v")
      .select(to_timestamp(col("s")).as("ts"), col("v"))
    assertRoundtrip(df.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("total"), col("n")))
  }

  test("integer division (DIV) rides the wire as its own operator") {
    fixture
    // DIV must stay integral on the wire — folding it into float "divide"
    // would corrupt exact integer arithmetic (graphRank's contract)
    assertRoundtrip(spark.sql(
      "SELECT a, (a * 7) DIV 2 AS q, a DIV a AS one FROM cte_data"))
  }

  test("multi-reference CTE (self-join through the CTE) rides the wire") {
    fixture
    assertRoundtrip(spark.sql(
      """WITH t AS (SELECT a, sum(b) AS s FROM cte_data GROUP BY a)
        |SELECT t1.a, t1.s, t2.s AS s2 FROM t t1 JOIN t t2 ON t1.a = t2.a""".stripMargin))
  }

  test("UNPIVOT rides the wire (incl. 3-branch n-ary union and single-column)") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT * FROM (SELECT a, b, b * 2 AS c FROM cte_data)
        |UNPIVOT (val FOR metric IN (b, c))""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT * FROM (SELECT a, b, b * 2 AS c, b + 1 AS e FROM cte_data)
        |UNPIVOT (val FOR metric IN (b, c, e))""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT * FROM (SELECT a, b FROM cte_data)
        |UNPIVOT (val FOR metric IN (b))""".stripMargin))
  }

  test("PIVOT rides the wire (pivotfirst rewritten to per-value first measures)") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT * FROM (SELECT a, d, b FROM cte_data)
        |PIVOT (sum(b) FOR d IN (true AS t, false AS f))""".stripMargin))
    // string pivot values and a two-aggregate pivot
    import spark.implicits._
    Seq((1L, "x", 2.0), (1L, "y", 3.0), (2L, "x", 5.0))
      .toDF("k", "s", "v").createOrReplaceTempView("pv_data")
    assertRoundtrip(spark.sql(
      """SELECT * FROM pv_data
        |PIVOT (sum(v) AS sv, max(v) AS mv FOR s IN ('x' AS cx, 'y' AS cy))""".stripMargin))
  }

  test("LATERAL subquery rides the wire") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT c.a, l.mb FROM cte_data c,
        |LATERAL (SELECT max(b) AS mb FROM cte_data i WHERE i.a = c.a) l""".stripMargin))
  }

  test("JOIN USING and NATURAL JOIN ride the wire") {
    fixture
    import spark.implicits._
    Seq((1L, "x"), (3L, "y")).toDF("a", "tag").createOrReplaceTempView("cte_dim")
    assertRoundtrip(spark.sql(
      "SELECT a, b, tag FROM cte_data JOIN cte_dim USING (a)"))
    assertRoundtrip(spark.sql(
      "SELECT * FROM cte_data NATURAL JOIN cte_dim"))
  }

  test("percent_rank and cume_dist ride the wire") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT a, percent_rank() OVER (ORDER BY b) AS pr,
        |       cume_dist() OVER (ORDER BY b) AS cd
        |FROM cte_data""".stripMargin))
  }

  test("first/last IGNORE NULLS keep their semantics across the wire") {
    import spark.implicits._
    // one non-null value per group → IGNORE NULLS result is deterministic;
    // a producer that silently dropped the flag would surface the null
    Seq((1L, Option.empty[Double]), (1L, Some(5.0)),
        (2L, Some(7.0)), (2L, Option.empty[Double]))
      .toDF("g", "v").coalesce(1).createOrReplaceTempView("fl_data")
    val df = spark.sql(
      "SELECT g, first(v, true) AS fv, last(v, true) AS lv FROM fl_data GROUP BY g")
    val got = Serializer.roundtrip(spark, df)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 5.0, 5.0), (2L, 7.0, 7.0)), got)
  }

  test("RANGE-value window frame rides the wire") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT a, sum(b) OVER (ORDER BY a RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM cte_data""".stripMargin))
  }

  test("time-INTERVAL RANGE window frame rides the wire (unix_micros rewrite)") {
    // the bound has no i64 substrait form; the producer re-keys the spec on
    // unix_micros(ts) (monotone bijection — identical partitions/order/range
    // sets) and carries microsecond offsets. Works for LTZ and NTZ order
    // columns (NTZ casts under the pinned-UTC session first).
    graft.Tables.register(spark, sfDir)
    assertRoundtrip(spark.sql(
      """SELECT event_id, user_id, sum(cast(round(value * 100) AS BIGINT)) OVER (
        |  PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS c1h
        |FROM events WHERE user_id < 5""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT event_id, user_id, count(*) OVER (
        |  PARTITION BY user_id ORDER BY cast(ts AS timestamp_ntz)
        |  RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
        |            AND INTERVAL 30 MINUTE FOLLOWING) AS n1h
        |FROM events WHERE user_id < 5""".stripMargin))
  }

  test("collect_set and percentile_disc aggregates ride the wire") {
    graft.Tables.register(spark, sfDir)
    assertRoundtrip(spark.sql(
      """SELECT l_returnflag, sort_array(collect_set(l_linestatus)) AS s
        |FROM lineitem GROUP BY 1""".stripMargin))
    assertRoundtrip(spark.sql(
      """SELECT lang, percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS m
        |FROM documents GROUP BY 1""".stripMargin))
    // the DESC-within-group flag rides in the name since round 8
    // (percentile_disc_desc) — silently flipping to ASC would corrupt
    // results; the ordering-flag probe test covers the value check
    assertRoundtrip(spark.sql(
      """SELECT lang, percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars DESC) AS m
        |FROM documents GROUP BY 1""".stripMargin))
  }

  test("argmin/argmax, boolean/bit folds, moments, regression aggregates ride the wire") {
    graft.Tables.register(spark, sfDir)
    assertRoundtrip(spark.sql(
      """SELECT lang, max_by(doc_id, n_chars * 10000000 + doc_id) AS longest,
        |  min_by(doc_id, n_chars * 10000000 + doc_id) AS shortest,
        |  bool_and(n_chars > 10) AS a, bool_or(n_chars > 900) AS o,
        |  count_if(n_chars > 300) AS n,
        |  bit_and(doc_id) AS ba, bit_or(doc_id) AS bo, bit_xor(doc_id) AS bx,
        |  round(skewness(n_chars), 6) AS sk, round(kurtosis(n_chars), 6) AS ku,
        |  round(regr_slope(n_chars, doc_id), 6) AS rs,
        |  round(regr_r2(n_chars, doc_id), 6) AS r2,
        |  any_value(source) AS av
        |FROM documents GROUP BY lang""".stripMargin))
    assertRoundtrip(spark.sql(
      "SELECT lang, sort_array(collect_list(DISTINCT source)) AS s " +
        "FROM documents GROUP BY lang"))
    assertRoundtrip(spark.sql(
      "SELECT lang, mode(source) AS m FROM documents GROUP BY lang"))
  }

  test("aggregate directly over UNPIVOT rides the wire (not the grouping-sets path)") {
    fixture
    assertRoundtrip(spark.sql(
      """SELECT metric, sum(val) AS s FROM (
        |  SELECT * FROM (SELECT a, b, b * 2 AS c FROM cte_data)
        |  UNPIVOT INCLUDE NULLS (val FOR metric IN (b, c)))
        |GROUP BY metric""".stripMargin))
  }

  test("lateral outputs that are not NULL-on-empty aggregates reject loudly") {
    fixture
    // coalesce(max(b), -1) is -1.0 on an empty group: the grouped join
    // passes max's NULL through and rebuilds the coalesce outside the join,
    // so the miss reads -1.0 exactly as in Spark
    val defaulted = spark.sql(
      """SELECT c.a, l.p FROM cte_data c,
        |LATERAL (SELECT coalesce(max(b), -1.0) AS p FROM cte_data i
        |         WHERE i.a = c.a AND i.b > 100) l""".stripMargin)
    assert(defaulted.collect().forall(_.getDouble(1) == -1.0))
    assertRoundtrip(defaulted)
    // collect_list gives [] on empty — also not representable by a join miss
    val e2 = intercept[Exception](Serializer.roundtrip(spark, spark.sql(
      """SELECT c.a, l.vs FROM cte_data c,
        |LATERAL (SELECT collect_list(b) AS vs FROM cte_data i
        |         WHERE i.a = c.a) l""".stripMargin)))
    assert(e2.getMessage.contains("NULL-on-empty"), e2.getMessage)
  }

  test("within-group ordering flags ride in the name: percentile_disc DESC, mode ties") {
    fixture
    // DESC percentile and mode tie-ordering are constructor flags, not
    // children — round 8 carries them as distinct wire names
    // (percentile_disc_desc / mode_asc / mode_desc); plain-children
    // encoding would silently flip them to ASC
    assertRoundtrip(spark.sql(
      """SELECT a,
        |  percentile_disc(0.3) WITHIN GROUP (ORDER BY b DESC) AS p30_desc,
        |  percentile_disc(0.3) WITHIN GROUP (ORDER BY b) AS p30_asc,
        |  mode() WITHIN GROUP (ORDER BY b DESC) AS mode_hi,
        |  mode() WITHIN GROUP (ORDER BY b) AS mode_lo
        |FROM cte_data GROUP BY a""".stripMargin))
    // the two orderings must actually DIFFER on the a=3 group (b ∈ {4.5, 1.5})
    val got = Serializer.roundtrip(spark, spark.sql(
      """SELECT percentile_disc(0.3) WITHIN GROUP (ORDER BY b DESC) AS d,
        |       percentile_disc(0.3) WITHIN GROUP (ORDER BY b) AS a2
        |FROM cte_data WHERE a = 3""".stripMargin)).collect()(0)
    assert(got.getDouble(0) == 4.5 && got.getDouble(1) == 1.5, got.toString)
  }

  test("approx_count_distinct keeps a non-default rsd across the wire") {
    // rsd is a constructor param of HyperLogLogPlusPlus, not a child
    def estimate(rsd: String) = spark.sql(
      s"""SELECT approx_count_distinct(id % 5000$rsd) AS n
         |FROM (SELECT explode(sequence(0, 19999)) AS id)""".stripMargin)
    val coarse = estimate(", 0.3")
    assert(coarse.head().getLong(0) != estimate("").head().getLong(0),
      "the probe must tell rsd 0.3 from the default")
    assertRoundtrip(coarse)
  }

  test("session_window aggregate rides the wire with merge semantics intact") {
    import spark.implicits._
    val ev = Seq((1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:30:00", 2.0),
        (1L, "2024-01-01 05:00:00", 4.0), (2L, "2024-01-01 00:10:00", 8.0))
      .toDF("user_id", "s", "v")
      .select(col("user_id"), col("s").cast("timestamp_ntz").as("ts"), col("v"))
    ev.createOrReplaceTempView("sess_ev")
    val df = spark.sql(
      """SELECT user_id, session_window(ts, '120 minutes').start AS session_start,
        |  session_window(ts, '120 minutes').end AS session_end,
        |  count(*) AS n, sum(v) AS sv
        |FROM sess_ev
        |GROUP BY user_id, session_window(ts, '120 minutes')""".stripMargin)
    val got = Serializer.roundtrip(spark, df)
    assertSameRows(df, got)
    // the merge itself: 00:00 and 00:30 must be ONE session (gap 2h) — a
    // consumer that lost the session metadata would return 4 unmerged rows
    assert(got.count() == 3L, "sessions did not merge after consumption")
    assert(got.queryExecution.executedPlan.toString.contains("MergingSessions"),
      "consumed plan lost the session-merging aggregate")
    // DataFrame-API form with struct projection (the e08 shape)
    val api = ev.groupBy(col("user_id"),
        session_window(col("ts"), "120 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n"), col("sv"))
    assertRoundtrip(api)
    // double round-trip: the consumed plan re-produces
    val twice = Serializer.roundtrip(spark, Serializer.roundtrip(spark, api))
    assertSameRows(api, twice)
  }

  test("dynamic-gap session_window (per-row gap column) rides the wire") {
    import spark.implicits._
    // clicks sessionize at 30 min, errors at 240 min: user 1's 01:00 event
    // is a new session for a click-gap but the same session for an
    // error-gap — a consumer that flattened the gap to any literal gets a
    // different session count
    val ev = Seq(
        (1L, "2024-01-01 00:00:00", "click", 1.0),
        (1L, "2024-01-01 01:00:00", "click", 2.0),
        (1L, "2024-01-01 00:05:00", "error", 4.0),
        (1L, "2024-01-01 02:00:00", "error", 8.0),
        (2L, "2024-01-01 00:00:00", "click", 16.0))
      .toDF("user_id", "s", "event_type", "v")
      .select(col("user_id"), col("s").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("v"))
    ev.createOrReplaceTempView("dyn_sess_ev")
    val df = spark.sql(
      """SELECT user_id, event_type,
        |  session_window(ts, CASE WHEN event_type = 'click'
        |    THEN '30 minutes' ELSE '240 minutes' END).start AS session_start,
        |  count(*) AS n, sum(v) AS sv
        |FROM dyn_sess_ev
        |GROUP BY user_id, event_type, session_window(ts,
        |  CASE WHEN event_type = 'click' THEN '30 minutes'
        |       ELSE '240 minutes' END)""".stripMargin)
    val got = Serializer.roundtrip(spark, df)
    assertSameRows(df, got)
    // per-type gaps actually applied: 2 click sessions + 1 merged error
    // session for user 1, 1 click session for user 2
    assert(got.count() == 4L, "dynamic gaps were not applied per row")
    assert(got.queryExecution.executedPlan.toString.contains("MergingSessions"),
      "consumed plan lost the session-merging aggregate")
    // double round-trip: the consumed plan re-produces
    val twice = Serializer.roundtrip(spark, Serializer.roundtrip(spark, df))
    assertSameRows(df, twice)
  }

  test("correlated COUNT forms: bare >0, =0, and wider-expression all ride") {
    fixture
    import spark.implicits._
    Seq((1L, 1.0, true), (1L, 2.0, false), (3L, 9.0, true))
      .toDF("a", "b", "d").createOrReplaceTempView("cte_data2")
    // bare count compared > 0 — the EXISTS-equivalent a real user writes
    assertRoundtrip(spark.sql(
      """SELECT a FROM cte_data c1
        |WHERE (SELECT count(*) FROM cte_data2 c2 WHERE c2.a = c1.a AND c2.d) > 0""".stripMargin))
    // = 0 form: ONLY rows whose group is empty survive — a NULL-for-0 bug
    // would return zero rows here
    assertRoundtrip(spark.sql(
      """SELECT a FROM cte_data c1
        |WHERE (SELECT count(*) FROM cte_data2 c2 WHERE c2.a = c1.a AND c2.d) = 0""".stripMargin))
    // count inside a wider scalar expression (r9-rejected shape)
    assertRoundtrip(spark.sql(
      """SELECT a, b FROM cte_data c1
        |WHERE c1.b <= (SELECT count(*) * 2 + 1 FROM cte_data2 c2
        |               WHERE c2.a = c1.a)""".stripMargin))
  }

  test("iteration rides the wire: fixed rounds and multiset fixpoint") {
    import spark.implicits._
    Seq(0L, 10L).toDF("x").createOrReplaceTempView("iter_in")
    // fixed 3 rounds: x + 3
    val fixedPlan = Producer.produceIteration(
      spark.table("iter_in"), st => st.select((col("x") + 1).as("x")),
      maxIters = 3, checkFixpoint = false)
    val fixed = Consumer.consume(spark,
      Wire.decode(Wire.encode(fixedPlan)))
    assert(fixed.columns.toSeq == Seq("x"))
    assert(fixed.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 13L))
    // fixpoint: least(x+1, 5) converges to 5 well before the round bound
    val fpPlan = Producer.produceIteration(
      spark.table("iter_in"),
      st => st.select(least(col("x") + 1, lit(5L)).as("x")),
      maxIters = 100, checkFixpoint = true)
    val fp = Consumer.consume(spark, Wire.decode(Wire.encode(fpPlan)))
    assert(fp.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    // the artifact is self-contained: double wire round-trip is identity
    val once = Wire.decode(Wire.encode(fpPlan))
    assert(Wire.decode(Wire.encode(once)) == once)
    // a body that breaks the schema-preservation contract fails loudly
    val bad = Producer.produceIteration(
      spark.table("iter_in"), st => st.select(col("x"), (col("x") * 2).as("y")),
      maxIters = 2, checkFixpoint = false)
    val e = intercept[model.SubstraitException](
      Consumer.consume(spark, Wire.decode(Wire.encode(bad))))
    assert(e.getMessage.contains("schema-preserving"), e.getMessage)
  }

  test("iteration hardening: view safety, sibling iterations, divergence guard") {
    import spark.implicits._
    import model._
    Seq(0L, 10L).toDF("x").createOrReplaceTempView("iter_in")

    // (1) a pre-existing USER view named graft_iteration_state survives
    // produceIteration intact (r11: the builder used to replace-then-drop it)
    Seq(42L).toDF("x").createOrReplaceTempView(Consumer.IterationStateTable)
    val p1 = Producer.produceIteration(
      spark.table("iter_in"), st => st.select((col("x") + 1).as("x")),
      maxIters = 2, checkFixpoint = false)
    assert(spark.table(Consumer.IterationStateTable)
      .collect().map(_.getLong(0)).toSeq == Seq(42L),
      "user view clobbered by produceIteration")
    // ... and the produced body still reads the RESERVED name (renamed from
    // the per-call scratch view), so the consumer binds the loop state
    assert(Consumer.consume(spark, Wire.decode(Wire.encode(p1)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 12L))
    spark.catalog.dropTempView(Consumer.IterationStateTable)

    // (2) TWO independent sibling ExtIterations composed in ONE plan:
    // each consumes with its OWN state binding (fresh Ctx per body round)
    val p2 = Producer.produceIteration(
      spark.table("iter_in"),
      st => st.select(least(col("x") + 1, lit(5L)).as("x")),
      maxIters = 50, checkFixpoint = true)
    def rootRel(p: Plan): Rel = p.relations.head match {
      case PlanRel.Root(r, _) => r
      case PlanRel.RelOnly(r) => r
    }
    val combined = Plan(p1.extensions ++ p2.extensions.map(e =>
        e.copy(functionAnchor = e.functionAnchor + p1.extensions.size)),
      Seq(PlanRel.Root(
        Rel.Set(Seq(rootRel(p1), reanchor(rootRel(p2), p1.extensions.size)),
          SetOp.UnionAll), Seq("x"))))
    val sib = Consumer.consume(spark, Wire.decode(Wire.encode(combined)))
    assert(sib.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L, 5L, 12L))

    // (3) iteration nested inside a BODY plan rejects loudly (single
    // reserved state name = ambiguous inner/outer binding)
    val stateSchema = NamedStruct(Seq("x"), Seq((SType.SI64, false)))
    val stateRead = Rel.Read(stateSchema, Seq(Consumer.IterationStateTable), None)
    val innerBody = Plan(Nil, Seq(PlanRel.RelOnly(stateRead)))
    val nestedBody = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.ExtIteration(stateRead, innerBody, 2, checkFixpoint = false))))
    val nested = Plan(Nil, Seq(PlanRel.Root(
      Rel.ExtIteration(Rel.Read(stateSchema, Seq("iter_in"), None),
        nestedBody, 2, checkFixpoint = false), Seq("x"))))
    val issues = Validator.validate(nested)
    assert(issues.exists(_.msg.contains("nested inside an iteration body")),
      issues.mkString("; "))
    val eNested = intercept[SubstraitException](Consumer.consume(spark, nested))
    assert(eNested.getMessage.contains("nested"), eNested.getMessage)

    // (4) require_fixpoint: exhausting maxIters without convergence is LOUD
    val diverge = Producer.produceIteration(
      spark.table("iter_in"), st => st.select((col("x") + 1).as("x")),
      maxIters = 3, checkFixpoint = true, requireFixpoint = true)
    val eDiv = intercept[SubstraitException](
      Consumer.consume(spark, Wire.decode(Wire.encode(diverge))))
    assert(eDiv.getMessage.contains("require_fixpoint"), eDiv.getMessage)
    // converging body with the same flag: no error, fixpoint returned
    val conv = Producer.produceIteration(
      spark.table("iter_in"),
      st => st.select(least(col("x") + 1, lit(5L)).as("x")),
      maxIters = 50, checkFixpoint = true, requireFixpoint = true)
    assert(Consumer.consume(spark, Wire.decode(Wire.encode(conv)))
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 5L))
    // require without check is rejected at build and by the validator
    intercept[IllegalArgumentException](Producer.produceIteration(
      spark.table("iter_in"), st => st, 3,
      checkFixpoint = false, requireFixpoint = true))
    val badFlags = Plan(Nil, Seq(PlanRel.Root(
      Rel.ExtIteration(Rel.Read(stateSchema, Seq("iter_in"), None),
        innerBody, 2, checkFixpoint = false, requireFixpoint = true),
      Seq("x"))))
    assert(Validator.validate(badFlags)
      .exists(_.msg.contains("require_fixpoint without check_fixpoint")))

    // (5) per-consume reliability scoping (r12 advice): Some(true) without
    // a configured checkpoint dir is a LOUD error, never a silent
    // localCheckpoint downgrade; Some(false) always consumes. (The shared
    // context's checkpoint dir is sticky — another suite may have set one,
    // in which case the error leg can't be exercised here and is skipped.)
    assert(Consumer.consume(spark, Wire.decode(Wire.encode(p1)),
        reliableIteration = Some(false))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 12L))
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val eRel = intercept[SubstraitException](Consumer.consume(spark,
        Wire.decode(Wire.encode(p1)), reliableIteration = Some(true)))
      assert(eRel.getMessage.contains("checkpoint dir"), eRel.getMessage)
    }
  }

  /** shift every function anchor in a rel tree by `k` — test-only helper for
    * hand-composing two independently-produced plans into one registry */
  private def reanchor(rel: model.Rel, k: Int): model.Rel = {
    import model._
    def goE(e: SExpr): SExpr = e match {
      case SExpr.ScalarFn(r, args) => SExpr.ScalarFn(r + k, args.map(goE))
      case SExpr.IfThen(cs, els) => SExpr.IfThen(
        cs.map(c => IfClause(goE(c.cond), c.thenExpr.map(goE))), els.map(goE))
      case SExpr.Cast(t, n, in) => SExpr.Cast(t, n, goE(in))
      case w: SExpr.WindowFn => w.copy(functionReference = w.functionReference + k,
        args = w.args.map(goE), partitions = w.partitions.map(goE),
        sorts = w.sorts.map(s => s.copy(expr = goE(s.expr))))
      case other => other
    }
    def go(r: Rel): Rel = r match {
      case x: Rel.Read => x.copy(filter = x.filter.map(goE))
      case x: Rel.Project => x.copy(input = go(x.input),
        expressions = x.expressions.map(goE))
      case x: Rel.Filter => x.copy(input = go(x.input), condition = goE(x.condition))
      case x: Rel.Fetch => x.copy(input = go(x.input))
      case x: Rel.Sort => x.copy(input = go(x.input),
        sorts = x.sorts.map(s => s.copy(expr = goE(s.expr))))
      case x: Rel.Aggregate => x.copy(input = go(x.input),
        groupings = x.groupings.map(_.map(goE)),
        measures = x.measures.map(m => m.copy(
          function = m.function.copy(
            functionReference = m.function.functionReference + k,
            args = m.function.args.map(goE)),
          filter = m.filter.map(goE))))
      case x: Rel.Join => x.copy(left = go(x.left), right = go(x.right),
        expression = goE(x.expression))
      case x: Rel.Cross => x.copy(left = go(x.left), right = go(x.right))
      case x: Rel.Set => x.copy(inputs = x.inputs.map(go))
      case x: Rel.ExtGenerate => x.copy(input = go(x.input), arg = goE(x.arg))
      case x: Rel.ExtExchange => x.copy(input = go(x.input),
        exprs = x.exprs.map(goE))
      case x: Rel.ExtSample => x.copy(input = go(x.input))
      case x: Rel.ExtStage => x.copy(input = go(x.input))
      case x: Rel.ExtSessionWindow => x.copy(input = go(x.input),
        gapExpr = x.gapExpr.map(goE))
      // nested body plans carry their OWN registry — anchors stay scoped
      case x: Rel.ExtIteration => x.copy(input = go(x.input))
      case x: Rel.ExtHint => x.copy(input = go(x.input))
    }
    go(rel)
  }

  test("new shapes double round-trip: consumed plans re-produce") {
    fixture
    for (q <- Seq(
      """WITH t AS (SELECT a, sum(b) AS s FROM cte_data GROUP BY a)
        |SELECT t1.a, t1.s FROM t t1 JOIN t t2 ON t1.a = t2.a""".stripMargin,
      """SELECT * FROM (SELECT a, d, b FROM cte_data)
        |PIVOT (sum(b) FOR d IN (true AS t, false AS f))""".stripMargin,
      """SELECT c.a, l.mb FROM cte_data c,
        |LATERAL (SELECT max(b) AS mb FROM cte_data i WHERE i.a = c.a) l""".stripMargin,
      """SELECT * FROM (SELECT a, b, b * 2 AS c FROM cte_data)
        |UNPIVOT (val FOR metric IN (b, c))""".stripMargin)) {
      val df = spark.sql(q)
      val once = Serializer.roundtrip(spark, df)
      val twice = Serializer.roundtrip(spark, once)
      assertSameRows(df, twice)
      assert(twice.columns.toSeq == df.columns.toSeq)
    }
  }
}
