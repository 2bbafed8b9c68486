package graft.substrait

import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import graft.SparkTestBase

import model._

/** Seeded mutation fuzz of `Wire.decode` over encoded plans: Producer output
  * for the RoundtripSpec fixture and hand-built plans covering every
  * extension rel, literal and type kind. Every bit flip, length-prefix
  * inflation (past 2^31 and 2^32 too), truncation and nesting bomb either
  * decodes — and then `Validator.validate` throws nothing but
  * `SubstraitException` — or fails with `WireDecodeError`. Any other
  * throwable (NPE, MatchError, index out of bounds, stack overflow) fails.
  */
class WireFuzzSpec extends SparkTestBase {

  private lazy val produced: Seq[Array[Byte]] = {
    val rows = Seq(
      (1L, new java.math.BigDecimal("2.00"), java.sql.Date.valueOf("2020-01-01"), false),
      (3L, new java.math.BigDecimal("4.50"), java.sql.Date.valueOf("2020-01-01"), true))
    import spark.implicits._
    rows.toDF("a", "b", "c", "d").withColumn("b", col("b").cast(DecimalType(5, 2)))
      .createOrReplaceTempView("fuzz_data")
    Seq(
      "SELECT a, b FROM fuzz_data WHERE a > 1 AND c > DATE '2019-12-31'",
      "SELECT * FROM fuzz_data LIMIT 200 OFFSET 1",
      "SELECT a, count(DISTINCT b) AS n FROM fuzz_data GROUP BY a, c HAVING count(b) > 0",
      "SELECT CASE a WHEN 1 THEN 'one' WHEN 3 THEN 'three' ELSE 'other' END AS n FROM fuzz_data",
      "SELECT * FROM fuzz_data l JOIN fuzz_data r ON l.a = r.a AND l.b <= r.b",
      "SELECT * FROM fuzz_data l LEFT ANTI JOIN fuzz_data r ON l.a > r.a",
      "SELECT a, sum(b) OVER (PARTITION BY d ORDER BY a ROWS BETWEEN 1 PRECEDING " +
        "AND CURRENT ROW) AS s FROM fuzz_data",
      "SELECT a FROM fuzz_data UNION ALL SELECT a + 1 FROM fuzz_data ORDER BY a DESC NULLS LAST",
      "SELECT a, x FROM fuzz_data LATERAL VIEW explode(array(a, a * 2)) t AS x",
      "SELECT map(a, b), array(1.5D, 2.5D), named_struct('k', a, 'v', c), " +
        "CAST(a AS STRING), INTERVAL '1-2' YEAR TO MONTH FROM fuzz_data",
      "SELECT /*+ BROADCAST(r) */ l.a FROM fuzz_data l JOIN fuzz_data r ON l.a = r.a",
      "SELECT a FROM fuzz_data WHERE a IN (SELECT a FROM fuzz_data WHERE d)",
      "SELECT grouping_id() AS g, a, c, sum(b) AS s FROM fuzz_data GROUP BY CUBE(a, c)")
      .map(q => Serializer.toBytes(spark.sql(q)))
  }

  private val read = Rel.Read(NamedStruct(Seq("x", "s"), Seq((SType.SI64, true),
    (SType.SStruct(Seq("lat", "tags"), Seq((SType.SFp64, false),
      (SType.SList(SType.SStr, true), true))), true))), Seq("t"), Some(Seq(0, 1)))

  private val handBuilt: Seq[Plan] = {
    val ext = Seq(ExtensionFunction(0xffffffffL, 0, "eq"), ExtensionFunction(0xffffffffL, 1, "sum"))
    val lits = Seq(LitVal.LBool(false), LitVal.LI8(-3), LitVal.LI16(300), LitVal.LI32(-1),
      LitVal.LI64(1L << 40), LitVal.LFp32(1.5f), LitVal.LFp64(-2.25), LitVal.LStr("é"),
      LitVal.LBin(Array[Byte](0, 1)), LitVal.LDate(-719162), LitVal.LTime(1L),
      LitVal.LTimestamp(2L), LitVal.LTimestampTz(3L), LitVal.LIntervalYear(1, 2),
      LitVal.LIntervalDay(1, 2, 3), LitVal.LDecimal(Array.fill[Byte](16)(1), 10, 2),
      LitVal.LNull(SType.SMap(SType.SStr, SType.SDecimal(5, 2), valueNullable = true)),
      LitVal.LList(SType.SI32, Seq(LitVal.LI32(1))), LitVal.LList(SType.SFp64, Nil),
      LitVal.LMap(SType.SStr, SType.SI64, Seq(LitVal.LStr("k") -> LitVal.LI64(1))),
      LitVal.LMap(SType.SStr, SType.SI64, Nil))
    val cond = SExpr.ScalarFn(0, Seq(SExpr.NestedRef(1, Seq(0)), SExpr.Lit(LitVal.LFp64(0))))
    val body = Plan(ext, Seq(PlanRel.Root(Rel.Filter(
      Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI64, true))), Seq("graft_iteration_state"),
        None), SExpr.ScalarFn(0, Seq(SExpr.FieldRef(0), SExpr.FieldRef(0)))), Seq("x"))))
    val rels: Seq[Rel] = Seq(
      Rel.Project(Rel.Read(NamedStruct(Seq("v"), Seq((SType.SI32, true))), Nil, None,
        virtualRows = Some(Seq(Seq(LitVal.LI32(1)), Seq(LitVal.LNull(SType.SI32)))),
        filter = Some(cond)), lits.map(SExpr.Lit(_))),
      Rel.Sort(Rel.Fetch(Rel.Read(NamedStruct(Seq("p"), Seq((SType.SStr, true))), Nil, None,
        localFiles = Some(Seq(FileItem("/d/a", 4, "parquet"), FileItem("/d/b.csv", 1, "csv",
          Some("|"), 1L), FileItem("/d/c", 3, "orc")))), 1, 5),
        Seq(SortField(SExpr.FieldRef(0), SortDirection.DescNullsLast))),
      Rel.Aggregate(Rel.Join(read, read, cond, JoinType.Left),
        Seq(Seq(SExpr.FieldRef(0)), Nil),
        Seq(Measure(AggFunction(1, Seq(SExpr.FieldRef(0)), AggInvocation.Distinct),
          Some(SExpr.IfThen(Seq(IfClause(cond, Some(SExpr.Lit(LitVal.LBool(true))))),
            Some(SExpr.Cast(SType.SBool, nullable = false, SExpr.FieldRef(0)))))))),
      Rel.Set(Seq(Rel.Cross(read, read), Rel.Cross(read, read)), SetOp.UnionAll),
      Rel.Project(read, Seq(SExpr.WindowFn(1, Seq(SExpr.FieldRef(0)), Seq(SExpr.FieldRef(0)),
        Seq(SortField(SExpr.FieldRef(0), SortDirection.AscNullsFirst)),
        WBound.Preceding(2), WBound.Following(3), rowFrame = false))),
      Rel.ExtHint(Rel.ExtSample(Rel.ExtExchange(Rel.ExtGenerate(read, "posexplode",
        SExpr.NestedRef(1, Seq(1)), outer = true, 2), Seq(SExpr.FieldRef(0)), 4,
        rangeDirections = Seq(SortDirection.AscNullsLast)), 0.1, 0.9, false, 7L), "broadcast"),
      Rel.ExtStage(Rel.ExtSessionWindow(read, 0, 0L, Some(SExpr.Lit(LitVal.LStr("5 s")))),
        "graft.image_decode_v1"),
      Rel.ExtIteration(Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI64, true))), Seq("t"),
        None), body, 5, checkFixpoint = true, requireFixpoint = true))
    rels.map(r => Plan(ext, Seq(PlanRel.Root(r, Nil))))
  }

  private def corpus: Seq[Array[Byte]] = produced ++ handBuilt.map(Wire.encode)

  private def vint(v0: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]; var v = v0
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    (out += v.toByte).result()
  }

  /** (offset, byte count, value) of every length prefix in `b[start, end)`
    * read as a message, descending into each payload that parses as one;
    * None when the range does not parse. */
  private def prefixes(b: Array[Byte], start: Int, end: Int): Option[List[(Int, Int, Long)]] = {
    var pos = start
    def varint(): Option[Long] = {
      var shift = 0; var v = 0L
      while (pos < end && shift <= 63) {
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return Some(v)
        shift += 7
      }
      None
    }
    val out = List.newBuilder[(Int, Int, Long)]
    while (pos < end) {
      val tag = varint().getOrElse(return None)
      (tag & 7).toInt match {
        case 0 => if (varint().isEmpty) return None
        case 1 => pos += 8
        case 5 => pos += 4
        case 2 =>
          val at = pos
          val len = varint().getOrElse(return None)
          if (len < 0 || len > end - pos) return None
          out += ((at, pos - at, len))
          out ++= prefixes(b, pos, pos + len.toInt).getOrElse(Nil)
          pos += len.toInt
        case _ => return None
      }
      if (pos > end) return None
    }
    Some(out.result())
  }

  /** Decodes `bytes`; returns a description of a forbidden outcome, if any. */
  private def probe(bytes: Array[Byte]): Option[String] =
    try {
      val plan = Wire.decode(bytes)
      try { Validator.validate(plan); None }
      catch {
        case _: SubstraitException => None
        case t: Throwable => Some(s"Validator threw $t")
      }
    } catch {
      case e: WireDecodeError =>
        if (e.offset < 0 || e.offset > bytes.length || !e.fieldPath.startsWith("plan"))
          Some(s"unlocated $e")
        else None
      case t: Throwable => Some(s"decode threw $t")
    }

  test("every mutated plan decodes or fails with WireDecodeError") {
    val rnd = new Random(20261020L)
    val plans = corpus
    assert(plans.size == 21 && plans.forall(b => probe(b).isEmpty))
    val failures = Seq.newBuilder[String]
    var cases = 0
    def check(what: String, bytes: Array[Byte]): Unit = {
      cases += 1
      probe(bytes).foreach(f => failures += s"$what: $f")
    }
    for ((plan, i) <- plans.zipWithIndex) {
      for (cut <- 0 until plan.length)
        check(s"plan $i cut at $cut", java.util.Arrays.copyOfRange(plan, 0, cut))
      for (_ <- 1 to 150) {
        val m = plan.clone(); val at = rnd.nextInt(m.length); val bit = rnd.nextInt(8)
        m(at) = (m(at) ^ (1 << bit)).toByte
        check(s"plan $i bit $bit of byte $at flipped", m)
      }
      val lens = prefixes(plan, 0, plan.length).get
      assert(lens.nonEmpty)
      for ((at, n, len) <- rnd.shuffle(lens).take(40);
           delta <- Seq(1L, 1000L, 1L << 31, 1L << 32, (1L << 32) + 1, 1L << 62))
        check(s"plan $i length at $at inflated by $delta",
          plan.take(at) ++ vint(len + delta) ++ plan.drop(at + n))
    }
    val found = failures.result()
    assert(found.isEmpty, s"${found.size} of $cases cases:\n${found.take(20).mkString("\n")}")
    assert(cases > 5000, cases)
  }

  private def lenField(f: Int, body: Array[Byte]): Array[Byte] =
    vint((f << 3 | 2).toLong) ++ vint(body.length.toLong) ++ body

  /** `leaf` wrapped `levels` times by `wrap`. */
  private def bomb(levels: Int, leaf: Array[Byte])(wrap: Array[Byte] => Array[Byte]): Array[Byte] =
    Iterator.iterate(leaf)(wrap).drop(levels).next()

  test("nesting bombs fail at the depth cap on a 1 MiB stack") {
    // Rel{read=1} with the Plan{3: PlanRel{1: …}} headers stripped
    val readRel = Wire.encode(Plan(Nil, Seq(PlanRel.RelOnly(Rel.Read(
      NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None))))).drop(4)
    val trueExpr = lenField(1, Array[Byte](0x08, 0x01))
    val i64Type = lenField(7, Array[Byte](0x10, 0x01))
    def project(e: Array[Byte]) = lenField(7, lenField(2, readRel) ++ lenField(3, e))
    def planOf(rel: Array[Byte]) = lenField(3, lenField(1, rel))
    val bombs = Seq(
      "filter chain" -> planOf(bomb(2000, readRel)(r => lenField(2, lenField(2, r) ++
        lenField(3, trueExpr)))),
      "cast chain" -> planOf(project(bomb(2000, trueExpr)(e =>
        lenField(11, lenField(1, i64Type) ++ lenField(2, e))))),
      "list type chain" -> planOf(project(lenField(1, lenField(29,
        bomb(2000, i64Type)(t => lenField(27, lenField(1, t))))))),
      "struct field chain" -> planOf(project(lenField(2, lenField(1,
        bomb(2000, lenField(2, Array.emptyByteArray))(s => lenField(2, lenField(2, s))))))),
      "list literal chain" -> planOf(project(lenField(1,
        bomb(2000, Array[Byte](0x08, 0x01))(l => lenField(30, lenField(1, l)))))),
      "iteration body chain" -> bomb(300, planOf(readRel))(p => planOf(lenField(9,
        lenField(2, readRel) ++ lenField(3, lenField(1, Wire.iterationDetailUrl.getBytes("UTF-8")) ++
          lenField(2, lenField(1, p) ++ Array[Byte](0x10, 0x01)))))))
    var outcome = Seq.empty[String]
    val t = new Thread(null, () => outcome = bombs.map { case (what, b) =>
      try { Wire.decode(b); s"$what: decoded" }
      catch {
        case e: WireDecodeError if e.getMessage.contains(s"deeper than ${Wire.MaxNestingDepth}") =>
          s"$what: capped"
        case e: Throwable => s"$what: $e"
      }
    }, "wire-fuzz", 1L << 20)
    t.start(); t.join()
    assert(outcome == bombs.map(b => s"${b._1}: capped"), outcome.mkString("\n"))
  }
}
