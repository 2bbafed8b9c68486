package graft.substrait

import org.apache.spark.sql.functions._
import graft.SparkTestBase

import model._

/** Consumer-only compatibility paths: wire shapes the reference's producer
  * (or a foreign producer) can emit but Spark's analyzer never generates —
  * hand-built plans, consumed and EXECUTED.
  */
class ConsumerOnlySpec extends SparkTestBase {

  private lazy val fixture: Unit = {
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "Beta"), (3L, "gamma"))
      .toDF("id", "name").createOrReplaceTempView("compat_data")
  }

  private def scan: Rel = Rel.Read(
    NamedStruct(Seq("id", "name"), Seq((SType.SI64, true), (SType.SStr, true))),
    Seq("compat_data"), None)

  private def consume(plan: Plan) = Consumer.consume(spark, plan)

  test("base-expression CASE (first clause with then=None, consumer.rs:474-489)") {
    fixture
    // CASE id WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'many' END
    val caseExpr = SExpr.IfThen(
      Seq(
        IfClause(SExpr.FieldRef(0), None), // base expression
        IfClause(SExpr.Lit(LitVal.LI64(1)), Some(SExpr.Lit(LitVal.LStr("one")))),
        IfClause(SExpr.Lit(LitVal.LI64(2)), Some(SExpr.Lit(LitVal.LStr("two"))))),
      Some(SExpr.Lit(LitVal.LStr("many"))))
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Project(scan, Seq(SExpr.FieldRef(0), caseExpr)), Seq("id", "label"))))
    val got = consume(plan).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "one", 2L -> "two", 3L -> "many"))
  }

  test("the reference's 'substract' spelling is accepted (producer.rs:297 bug)") {
    fixture
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "substract")),
      Seq(PlanRel.Root(
        Rel.Project(scan, Seq(
          SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(1)))))),
        Seq("minus_one"))))
    val got = consume(plan).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(0L, 1L, 2L))
  }

  test("regex_imatch / regex_not_imatch (case-insensitive via (?i) prefix)") {
    fixture
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "regex_imatch"),
        ExtensionFunction(0xffffffffL, 1, "regex_not_imatch")),
      Seq(PlanRel.Root(
        Rel.Project(scan, Seq(
          SExpr.FieldRef(1),
          SExpr.ScalarFn(0, Seq(SExpr.FieldRef(1), SExpr.Lit(LitVal.LStr("^beta")))),
          SExpr.ScalarFn(1, Seq(SExpr.FieldRef(1), SExpr.Lit(LitVal.LStr("^beta")))))),
        Seq("name", "m", "nm"))))
    val got = consume(plan).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(got == Set(("alpha", false, true), ("Beta", true, false),
      ("gamma", false, true)))
  }

  test("offset-only fetch (count=0 'no fetch' quirk, producer.rs:147-150)") {
    fixture
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Fetch(
        Rel.Sort(scan, Seq(SortField(SExpr.FieldRef(0), SortDirection.AscNullsFirst))),
        offset = 1, count = 0),
      Seq("id", "name"))))
    assert(consume(plan).collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("typed-null literals of every §1.2 kind evaluate to null") {
    fixture
    val kinds: Seq[(String, SType)] = Seq(
      "i8" -> SType.SI8, "i16" -> SType.SI16, "i32" -> SType.SI32,
      "i64" -> SType.SI64, "dec" -> SType.SDecimal(5, 2), "str" -> SType.SStr,
      "date" -> SType.SDate, "ts" -> SType.STimestamp)
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Fetch(Rel.Project(scan,
        kinds.map { case (_, t) => SExpr.Lit(LitVal.LNull(t)) }), 0, 1),
      kinds.map(_._1))))
    val row = consume(plan).collect().head
    kinds.indices.foreach(i => assert(row.isNullAt(i), s"column $i must be null"))
  }

  test("decimal literal round-trips negative values (16-byte LE sign extension)") {
    fixture
    // -123.45 as decimal(5,2): unscaled -12345, little-endian two's complement
    val unscaled = java.math.BigInteger.valueOf(-12345L)
    val be = unscaled.toByteArray
    val le = new Array[Byte](16)
    java.util.Arrays.fill(le, -1.toByte) // sign extension
    be.reverse.zipWithIndex.foreach { case (b, i) => le(i) = b }
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Fetch(Rel.Project(scan,
        Seq(SExpr.Lit(LitVal.LDecimal(le, 5, 2)))), 0, 1),
      Seq("d"))))
    val v = consume(plan).collect().head.getDecimal(0)
    assert(v.toString == "-123.45")
  }

  test("foreign ReadRel with a scan filter over the base schema + mask") {
    fixture
    // SELECT name FROM compat_data WHERE id > 1 — filter refs index the BASE
    // schema even though the mask projects only column 1
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "gt")),
      Seq(PlanRel.Root(
        Rel.Read(
          NamedStruct(Seq("id", "name"), Seq((SType.SI64, true), (SType.SStr, true))),
          Seq("compat_data"), Some(Seq(1)),
          Some(SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(1)))))),
        Seq("name"))))
    val got = consume(plan).collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("Beta", "gamma"))
  }

  test("foreign multi-grouping AggregateRel executes as one grouping-sets pass") {
    fixture
    // GROUP BY GROUPING SETS ((name), ()) with count(*): wire output =
    // union group exprs ++ measures ++ trailing set index
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "count")),
      Seq(PlanRel.Root(
        Rel.Aggregate(scan,
          Seq(Seq(SExpr.FieldRef(1)), Seq()),
          Seq(Measure(AggFunction(0, Nil, AggInvocation.All), None))),
        Seq("name", "n", "set_idx"))))
    val got = consume(plan).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      (Some("alpha"), 1L, 0), (Some("Beta"), 1L, 0), (Some("gamma"), 1L, 0),
      (None, 3L, 1)))
  }

  test("foreign LocalFiles read executes without any catalog: parquet + mask + filter") {
    // region.parquet: (r_regionkey i64, r_name str, r_comment str);
    // mask to r_name with a filter r_regionkey > 1 over the BASE schema
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "gt")),
      Seq(PlanRel.Root(
        Rel.Read(
          NamedStruct(Seq("r_regionkey", "r_name", "r_comment"),
            Seq((SType.SI64, true), (SType.SStr, true), (SType.SStr, true))),
          Nil, Some(Seq(1)),
          Some(SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(1))))),
          None,
          Some(Seq(FileItem(s"$sfDir/region.parquet", 3, "parquet")))),
        Seq("r_name"))))
    val got = consume(plan).collect().map(_.getString(0)).sorted.toSeq
    val want = spark.read.parquet(s"$sfDir/region.parquet")
      .filter(col("r_regionkey") > 1).select("r_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bare spark.read.parquet produces ReadRel/LocalFiles and round-trips") {
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
      .filter(col("n_regionkey") > 0)
      .select(col("n_name"), col("n_regionkey"))
    val plan = Producer.produce(df)
    def findRead(r: Rel): Option[Rel.Read] = r match {
      case rd: Rel.Read => Some(rd)
      case Rel.Filter(in, _) => findRead(in)
      case Rel.Project(in, _) => findRead(in)
      case _ => None
    }
    val read = findRead(plan.relations.head match {
      case PlanRel.Root(rel, _) => rel
      case PlanRel.RelOnly(rel) => rel
    }).getOrElse(fail("no ReadRel in produced plan"))
    assert(read.localFiles.exists(_.forall(_.format == "parquet")),
      s"expected LocalFiles scan, got $read")
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq)
    assert(got.columns.toSeq == df.columns.toSeq)
  }

  test("foreign nested struct references execute: ordinal chains resolve by name") {
    import org.apache.spark.sql.functions.struct
    spark.range(1, 4).toDF("a")
      .select(struct(col("a"), struct((col("a") * 10).as("b10"),
        (col("a") + 0.5).as("c")).as("inner")).as("s"))
      .createOrReplaceTempView("nested_compat")
    // SELECT s.a, s.inner.c FROM nested_compat — pure child-chain refs
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Project(
        Rel.Read(
          NamedStruct(Seq("s"), Seq((SType.SStruct(Seq("a", "inner"), Seq(
            (SType.SI64, false),
            (SType.SStruct(Seq("b10", "c"),
              Seq((SType.SI64, false), (SType.SFp64, false))), false))), false))),
          Seq("nested_compat"), None),
        Seq(SExpr.NestedRef(0, Seq(0)), SExpr.NestedRef(0, Seq(1, 1)))),
      Seq("a", "c"))))
    val got = consume(plan).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.5), (2L, 2.5), (3L, 3.5)))
  }

  test("struct field access over a scan produces NestedRef (no get_field ext) and round-trips") {
    import org.apache.spark.sql.functions.struct
    import spark.implicits._
    Seq((1L, "x", 2.5), (2L, "y", 3.5)).toDF("a", "b", "c")
      .select(struct(col("a"), struct(col("b"), col("c")).as("inner")).as("s"))
      .createOrReplaceTempView("structed")
    val df = spark.table("structed")
      .select(col("s").getField("a").as("sa"),
        col("s").getField("inner").getField("c").as("sc"))
      .filter(col("s").getField("a") > 0L)
    val plan = Producer.produce(df)
    assert(!plan.extensions.exists(_.name == "get_field"),
      s"expected NestedRef, got get_field in ${plan.extensions}")
    val back = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
    assert(back.collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq)
    assert(back.columns.toSeq == df.columns.toSeq)
  }

  test("foreign multi-grouping aggregate with a nested-IfThen measure executes") {
    fixture
    // GROUPING SETS ((id), ()) over
    //   sum(CASE WHEN id > 1 THEN 10 ELSE 1 END)
    // — a hand-built layout no Spark analyzer run produced
    val measure = Measure(
      AggFunction(1, Seq(SExpr.IfThen(
        Seq(IfClause(
          SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(1)))),
          Some(SExpr.Lit(LitVal.LI64(10))))),
        Some(SExpr.Lit(LitVal.LI64(1))))), 1),
      None)
    val agg = Rel.Aggregate(scan,
      Seq(Seq(SExpr.FieldRef(0)), Seq()), Seq(measure))
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "gt"),
        ExtensionFunction(0xffffffffL, 1, "sum")),
      Seq(PlanRel.Root(Rel.Project(agg,
        Seq(SExpr.FieldRef(0), SExpr.FieldRef(1))), Seq("id", "s"))))
    // through BYTES, not just the model — the full foreign path
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
      .collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet
    // per-id sums: 1→1, 2→10, 3→10; grand total 21 (null id row)
    assert(got == Set((1L, 1L), (2L, 10L), (3L, 10L), (-1L, 21L)))
  }

  test("foreign plan naming bpe_count resolves through the consume hook and executes") {
    fixture
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "bpe_count")),
      Seq(PlanRel.Root(
        Rel.Project(scan, Seq(SExpr.FieldRef(1),
          SExpr.ScalarFn(0, Seq(SExpr.FieldRef(1))))),
        Seq("name", "n_bpe"))))
    // through BYTES — exercises FreqFunctions-style lazy registration on a
    // session that never called the Column API first
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // v1 table walks: alpha → (al)(p)(ha); Beta → (B)(e)(ta); gamma → 5 chars
    assert(got == Set(("alpha", 3), ("Beta", 3), ("gamma", 5)))
  }

  test("foreign freq-items sketch aggregate + probes execute through bytes") {
    fixture
    val measure = Measure(
      AggFunction(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI32(64))), 1),
      None)
    val agg = Rel.Aggregate(scan, Seq(Seq()), Seq(measure))
    val plan = Plan(
      Seq(ExtensionFunction(0xffffffffL, 0, "freq_sketch_agg_long"),
        ExtensionFunction(0xffffffffL, 1, "freq_estimate_long"),
        ExtensionFunction(0xffffffffL, 2, "freq_max_error")),
      Seq(PlanRel.Root(Rel.Project(agg, Seq(
        SExpr.ScalarFn(1, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(2)))),
        SExpr.ScalarFn(2, Seq(SExpr.FieldRef(0))))),
        Seq("est_2", "max_err"))))
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 3 distinct ids in a 64-counter map: exact (maxError 0), id 2 once
    assert(got.toSeq == Seq((1L, 0L)))
  }

  test("foreign VirtualTable read executes without any catalog") {
    val plan = Plan(Nil, Seq(PlanRel.Root(
      Rel.Read(
        NamedStruct(Seq("k", "v"), Seq((SType.SI64, false), (SType.SStr, true))),
        Nil, None, None,
        Some(Seq(
          Seq(LitVal.LI64(10), LitVal.LStr("x")),
          Seq(LitVal.LI64(20), LitVal.LNull(SType.SStr))))),
      Seq("k", "v"))))
    val got = consume(plan).collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((10L, Some("x")), (20L, None)))
  }

  test("percentile_disc + mode_desc consume through a non-active session without registering functions") {
    val other = spark.newSession()
    assert(org.apache.spark.sql.SparkSession.active ne other)
    val want = other.sql("SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY k) AS p50, " +
      "mode() WITHIN GROUP (ORDER BY k) AS m_asc, " +
      "mode() WITHIN GROUP (ORDER BY k DESC) AS m_desc " +
      "FROM VALUES (1L), (2L), (2L), (3L), (3L), (5L) AS t(k)")
    val plan = Producer.produce(want)
    assert(Set("percentile_disc", "mode_asc", "mode_desc")
      .subsetOf(plan.extensions.map(_.name).toSet), plan.extensions)
    val got = Consumer.consume(other, Wire.decode(Wire.encode(plan)))
    assert(got.sparkSession eq other)
    assertSameRows(want, got)
    for (s <- Seq(spark, other); f <- Seq("graft_percentile_disc", "graft_mode_asc", "graft_mode_desc"))
      assert(!s.catalog.functionExists(f), s"$f registered as a side effect of consume")
  }

  test("an iteration body binding the state twice (pointer doubling) matches the DataFrame loop") {
    import spark.implicits._
    // parent pointers of two trees: 1→2→3→4→4 and 6→5→5
    val init = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 4L), (5L, 5L), (6L, 5L)).toDF("k", "v")
    def hop(s: org.apache.spark.sql.DataFrame) =
      s.as("a").join(s.as("b"), col("a.v") === col("b.k"))
        .select(col("a.k").as("k"), col("b.v").as("v"))
    val plan = Producer.produceIteration(init, hop, maxIters = 10, checkFixpoint = true)
    val got = Consumer.consume(spark, Wire.decode(Wire.encode(plan)))
    var want = init
    for (_ <- 1 to 3) want = hop(want)
    assertSameRows(want, got)
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  private def ext(anchor: Int, name: String) = ExtensionFunction(0xffffffffL, anchor, name)

  test("kernel plans consume through a fresh session without registering functions") {
    val other = spark.newSession()
    val rows = Rel.Read(
      NamedStruct(Seq("id", "name"), Seq((SType.SI64, false), (SType.SStr, false))),
      Nil, None, None,
      Some(Seq((1L, "alpha"), (2L, "Beta"), (3L, "gamma"), (2L, "gamma"))
        .map { case (i, n) => Seq(LitVal.LI64(i), LitVal.LStr(n)) }))
    // (id, bpe_count(name)) → one group: freq sketch of id, top-2 ids by bpe count
    val withBpe = Rel.Project(rows, Seq(SExpr.FieldRef(0), SExpr.ScalarFn(0, Seq(SExpr.FieldRef(1)))))
    val agg = Rel.Aggregate(withBpe, Seq(Seq()), Seq(
      Measure(AggFunction(1, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI32(64))),
        AggInvocation.All), None),
      Measure(AggFunction(3, Seq(SExpr.FieldRef(1), SExpr.FieldRef(0), SExpr.Lit(LitVal.LI32(2))),
        AggInvocation.All), None)))
    val names = Seq("bpe_count", "freq_sketch_agg_long", "freq_estimate_long", "topk_by_key")
    val plan = Plan(names.zipWithIndex.map { case (n, i) => ext(i, n) },
      Seq(PlanRel.Root(Rel.Project(agg, Seq(
        SExpr.ScalarFn(2, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(2)))),
        SExpr.FieldRef(1))), Seq("est_2", "top2"))))
    val got = Consumer.consume(other, Wire.decode(Wire.encode(plan)))
    assert(got.sparkSession eq other)
    val r = got.collect().map(r => (r.getLong(0),
      r.getSeq[org.apache.spark.sql.Row](1).map(t => (t.getInt(0), t.getLong(1)))))
    // id 2 twice; bpe counts alpha 3, Beta 3, gamma 5 → (5, 2), (5, 3) by (key DESC, id ASC)
    assert(r.toSeq == Seq((2L, Seq((5, 2L), (5, 3L)))))
    for (f <- names)
      assert(!other.catalog.functionExists(f), s"$f registered as a side effect of consume")
  }

  test("kernel constructor arguments accept integer literals of any width") {
    import spark.implicits._
    val data = Seq(
      (1L, Seq(0.9, 0.1, -0.3, 0.4), Seq("ab", "bc", "cd")),
      (2L, Seq(-0.2, 0.7, 0.5, -0.1), Seq("xy", "yz")))
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0))
    val cellIds = Seq(7L, 8L, 9L)
    def fp64s(vs: Seq[Double]) = LitVal.LList(SType.SFp64, vs.map(LitVal.LFp64(_)))
    val read = Rel.Read(
      NamedStruct(Seq("id", "v", "sh"), Seq((SType.SI64, false),
        (SType.SList(SType.SFp64, false), false), (SType.SList(SType.SStr, false), false))),
      Nil, None, None,
      Some(data.map { case (i, v, sh) =>
        Seq(LitVal.LI64(i), fp64s(v), LitVal.LList(SType.SStr, sh.map(LitVal.LStr(_))))
      }))
    val plan = Plan(
      Seq(ext(0, "minhash_sig"), ext(1, "lsh_buckets"), ext(2, "vec_top_cells")),
      Seq(PlanRel.Root(Rel.Project(read, Seq(
        SExpr.FieldRef(0),
        SExpr.ScalarFn(0, Seq(SExpr.FieldRef(2), SExpr.Lit(LitVal.LI64(8)))),
        SExpr.ScalarFn(1, Seq(SExpr.FieldRef(1), SExpr.Lit(LitVal.LI16(2)),
          SExpr.Lit(LitVal.LI16(3)), SExpr.Lit(LitVal.LI16(4)))),
        SExpr.ScalarFn(2, Seq(SExpr.FieldRef(1),
          SExpr.Lit(LitVal.LList(SType.SList(SType.SFp64, false), cents.map(fp64s))),
          SExpr.Lit(LitVal.LList(SType.SI64, cellIds.map(LitVal.LI64(_)))),
          SExpr.Lit(LitVal.LI64(2)))))),
        Seq("id", "sig", "buckets", "cells"))))
    val want = data.toDF("id", "v", "sh").select(col("id"),
      graft.functions.MinHashFunctions.minhashSig(col("sh"), 8).as("sig"),
      graft.functions.VecFunctions.lshBuckets(col("v"), 2, 3, 4).as("buckets"),
      graft.functions.VecFunctions.vecTopCells(col("v"), typedlit(cents), typedlit(cellIds), 2)
        .as("cells"))
    assertSameRows(want, consume(plan))
  }

  // ------------------------------------------------ one expression builder

  private lazy val coerceScan: Rel = {
    import spark.implicits._
    Seq((1, 0.5, "a"), (2, 1.5, "bb"), (3, 2.5, "ccc"))
      .toDF("i", "d", "s").createOrReplaceTempView("coerce_data")
    Rel.Read(NamedStruct(Seq("i", "d", "s"),
      Seq((SType.SI32, false), (SType.SFp64, false), (SType.SStr, true))),
      Seq("coerce_data"), None)
  }

  test("a foreign plan that needs type coercion consumes like its DataFrame") {
    // equal(i32, i64 literal) in a filter, add(i32, fp64) and sqrt(i32)
    // in a project: the analyzer inserts the casts Spark's producer would
    val plan = Plan(Seq(ext(0, "equal"), ext(1, "add"), ext(2, "sqrt")),
      Seq(PlanRel.Root(Rel.Project(
        Rel.Filter(coerceScan,
          SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI64(2L))))),
        Seq(SExpr.ScalarFn(1, Seq(SExpr.FieldRef(0), SExpr.FieldRef(1))),
          SExpr.ScalarFn(2, Seq(SExpr.FieldRef(0))))),
        Seq("sum", "root"))))
    val want = spark.table("coerce_data").filter(col("i") === 2L)
      .select((col("i") + col("d")).as("sum"), sqrt(col("i")).as("root"))
    assertSameRows(want, consume(plan))
  }

  test("unknown scalar, aggregate and window function names fail naming the function") {
    def rejects(plan: Plan, fname: String): Unit = {
      val err = intercept[SubstraitException](consume(plan))
      assert(err.getMessage.contains(fname), err.getMessage)
    }
    def project(e: SExpr) = Plan(Seq(ext(0, "no_such_fn")),
      Seq(PlanRel.Root(Rel.Project(coerceScan, Seq(e)), Seq("x"))))
    rejects(project(SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0)))), "no_such_fn")
    rejects(project(SExpr.WindowFn(0, Seq(SExpr.FieldRef(0)), Seq(SExpr.FieldRef(2)),
      Seq(SortField(SExpr.FieldRef(0), SortDirection.AscNullsFirst)),
      WBound.Unbounded, WBound.CurrentRow, rowFrame = true)), "no_such_fn")
    rejects(Plan(Seq(ext(0, "no_such_fn")), Seq(PlanRel.Root(
      Rel.Aggregate(coerceScan, Seq(Seq(SExpr.FieldRef(2))),
        Seq(Measure(AggFunction(0, Seq(SExpr.FieldRef(0)), AggInvocation.All), None))),
      Seq("s", "x")))), "no_such_fn")
  }

  test("the consumer builds Catalyst expressions only: no Column ⇄ Expression bridge") {
    def code(path: String): String = {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }
    val bridge = code("src/main/scala/org/apache/spark/sql/graftbridge/ColumnBridge.scala")
    assert("\\bColumn\\b".r.findFirstIn(bridge).isEmpty, "ColumnBridge names Column")
    assert(!bridge.contains("converter"), "ColumnBridge converts Columns")
    // the one Column use left is the ExtIteration fixpoint check, which
    // runs on materialized DataFrames
    val consumer = code("src/main/scala/graft/substrait/Consumer.scala")
    assert("\\bColumn\\b".r.findFirstIn(consumer).isEmpty, "Consumer names Column")
    val fnImports = "import org\\.apache\\.spark\\.sql\\.functions\\S*".r
      .findAllMatchIn(consumer).toSeq
    assert(fnImports.map(_.matched) == Seq("import org.apache.spark.sql.functions.{col,"),
      fnImports.map(_.matched))
    assert(consumer.lastIndexOf("checkFixpoint", fnImports.head.start) >
      consumer.lastIndexOf("case Rel.", fnImports.head.start),
      "functions import outside the fixpoint check")
  }
}
