package graft.substrait

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import model._

/** Property tests for the hand-rolled protobuf codec: random plan trees
  * survive encode→decode exactly. Random trees exercise the wire layer far
  * harder than the reference's 28 fixed cases (SURVEY.md §5).
  * (Plain ScalaCheck generators with deterministic seeds — the scalatestplus
  * bridge artifact is not in the offline dependency set.)
  */
class WireSpec extends AnyFunSuite {

  /** deterministic forAll replacement */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit = {
    var i = 0
    while (i < n) {
      val a = gen.pureApply(Gen.Parameters.default, Seed(i.toLong), retries = 100)
      try check(a)
      catch {
        case e: Throwable =>
          throw new AssertionError(s"failed for seed $i: $a", e)
      }
      i += 1
    }
  }

  // Array[Byte] fields break case-class equality; normalize to comparable form
  private def norm(p: Plan): String = {
    def nl(v: LitVal): String = v match {
      case LitVal.LBin(b) => s"LBin(${b.toSeq})"
      case LitVal.LDecimal(b, pr, s) => s"LDecimal(${b.toSeq},$pr,$s)"
      case LitVal.LList(t, vs) => s"LList($t,${vs.map(nl).mkString(",")})"
      case LitVal.LMap(kt, vt, es) =>
        s"LMap($kt,$vt,${es.map { case (k, v) => s"(${nl(k)},${nl(v)})" }.mkString(",")})"
      case other => other.toString
    }
    def ne(e: SExpr): String = e match {
      case SExpr.Lit(v) => s"Lit(${nl(v)})"
      case SExpr.FieldRef(i) => s"Ref($i)"
      case SExpr.ScalarFn(r, as) => s"Fn($r,${as.map(ne).mkString(",")})"
      case SExpr.NestedRef(i, p) => s"NRef($i,$p)"
      case SExpr.Cast(t, n, in) => s"Cast($t,$n,${ne(in)})"
      case SExpr.IfThen(cs, el) =>
        s"If(${cs.map(c => s"(${ne(c.cond)},${c.thenExpr.map(ne)})").mkString(",")},${el.map(ne)})"
      case SExpr.WindowFn(r, as, ps, ss, lo, hi, rf) =>
        s"Win($r,${as.map(ne)},${ps.map(ne)},${ss.map(s => s"(${ne(s.expr)},${s.direction})")},$lo,$hi,$rf)"
    }
    def nr(r: Rel): String = r match {
      case Rel.Read(sch, names, proj, filt, vrows, lfiles) =>
        s"Read($sch,$names,$proj,${filt.map(ne)},${vrows.map(_.map(_.map(nl)))},$lfiles)"
      case Rel.Project(i, es) => s"Project(${nr(i)},${es.map(ne).mkString(",")})"
      case Rel.Filter(i, c) => s"Filter(${nr(i)},${ne(c)})"
      case Rel.Fetch(i, o, c) => s"Fetch(${nr(i)},$o,$c)"
      case Rel.Sort(i, ss) => s"Sort(${nr(i)},${ss.map(s => s"(${ne(s.expr)},${s.direction})")})"
      case Rel.Aggregate(i, gs, ms) =>
        s"Agg(${nr(i)},${gs.map(_.map(ne))},${ms.map(m =>
          s"(${m.function.functionReference},${m.function.args.map(ne)},${m.function.invocation},${m.filter.map(ne)})")})"
      case Rel.Join(l, rr, e, t) => s"Join(${nr(l)},${nr(rr)},${ne(e)},$t)"
      case Rel.Cross(l, rr) => s"Cross(${nr(l)},${nr(rr)})"
      case Rel.Set(is, op) => s"Set(${is.map(nr)},$op)"
      case Rel.ExtGenerate(i, g, a, o, k) =>
        s"Gen(${nr(i)},$g,${ne(a)},$o,$k)"
      case Rel.ExtExchange(i, es, n, sh, rd) =>
        s"Exch(${nr(i)},${es.map(ne).mkString(",")},$n,$sh,$rd)"
      case Rel.ExtSample(i, lo, hi, wr, seed) =>
        s"Sample(${nr(i)},$lo,$hi,$wr,$seed)"
      case Rel.ExtStage(i, s) => s"Stage(${nr(i)},$s)"
    }
    p.extensions.toString + p.relations.map {
      case PlanRel.RelOnly(r) => s"RelOnly(${nr(r)})"
      case PlanRel.Root(r, ns) => s"Root(${nr(r)},$ns)"
    }.mkString(";")
  }

  private lazy val genStructType: Gen[SType] = for {
    n <- Gen.choose(1, 3)
    names <- Gen.listOfN(n, Gen.alphaNumStr)
    fields <- Gen.listOfN(n, for {
      t <- genSType; nul <- Arbitrary.arbitrary[Boolean]
    } yield (t, nul))
  } yield SType.SStruct(names, fields)

  private val genSType: Gen[SType] = Gen.oneOf(
    Gen.const(SType.SBool), Gen.const(SType.SI8), Gen.const(SType.SI16),
    Gen.const(SType.SI32), Gen.const(SType.SI64), Gen.const(SType.SFp32),
    Gen.const(SType.SFp64), Gen.const(SType.SStr), Gen.const(SType.SBin),
    Gen.const(SType.SDate), Gen.const(SType.STimestamp),
    Gen.const(SType.STimestampTz),
    Gen.const(SType.SIntervalYear), Gen.const(SType.SIntervalDay),
    for { p <- Gen.choose(1, 38); s <- Gen.choose(0, 20) } yield SType.SDecimal(p, s))

  private lazy val genNestedType: Gen[SType] = Gen.frequency(
    4 -> genSType,
    1 -> (for { e <- genSType; n <- Arbitrary.arbitrary[Boolean] }
      yield SType.SList(e, n)),
    1 -> (for { k <- genSType; v <- genSType; vn <- Arbitrary.arbitrary[Boolean] }
      yield SType.SMap(k, v, vn)))

  /** typed literal generator so container literals stay homogeneous — the
    * wire carries no element type for non-empty lists/maps (inferred from
    * the first element on decode), so heterogeneous values would break the
    * decode == original structural property */
  private def genLitOf(t: SType): Gen[LitVal] = t match {
    case SType.SI32 => Arbitrary.arbitrary[Int].map(LitVal.LI32)
    case SType.SI64 => Arbitrary.arbitrary[Long].map(LitVal.LI64)
    case SType.SStr => Gen.alphaNumStr.map(LitVal.LStr)
    case SType.SFp64 => Arbitrary.arbitrary[Double].map(LitVal.LFp64)
    case _ => Gen.alphaNumStr.map(LitVal.LStr)
  }
  private val genElemType: Gen[SType] =
    Gen.oneOf(SType.SI32, SType.SI64, SType.SStr, SType.SFp64)

  private val genContainerLit: Gen[LitVal] = Gen.oneOf(
    for { // non-empty list: element type inferred from values on decode
      et <- genElemType
      n <- Gen.choose(1, 4)
      vs <- Gen.listOfN(n, genLitOf(et))
    } yield LitVal.LList(et, vs),
    genNestedType.map(t => LitVal.LList(t, Nil)), // empty_list keeps any type
    for {
      kt <- genElemType; vt <- genElemType
      n <- Gen.choose(1, 3)
      ks <- Gen.listOfN(n, genLitOf(kt)); vls <- Gen.listOfN(n, genLitOf(vt))
    } yield LitVal.LMap(kt, vt, ks.zip(vls)),
    for { kt <- genElemType; vt <- genNestedType }
      yield LitVal.LMap(kt, vt, Nil))

  private val genLit: Gen[LitVal] = Gen.oneOf(
    Arbitrary.arbitrary[Boolean].map(LitVal.LBool),
    Gen.choose(-128, 127).map(LitVal.LI8),
    Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt).map(LitVal.LI16),
    Arbitrary.arbitrary[Int].map(LitVal.LI32),
    Arbitrary.arbitrary[Long].map(LitVal.LI64),
    Arbitrary.arbitrary[Float].map(LitVal.LFp32),
    Arbitrary.arbitrary[Double].map(LitVal.LFp64),
    Gen.alphaNumStr.map(LitVal.LStr),
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(bs => LitVal.LBin(bs.toArray)),
    Gen.choose(-100000, 100000).map(LitVal.LDate),
    Arbitrary.arbitrary[Long].map(LitVal.LTimestamp),
    Arbitrary.arbitrary[Long].map(LitVal.LTimestampTz),
    for {
      bytes <- Gen.containerOfN[Array, Byte](16, Arbitrary.arbitrary[Byte])
      p <- Gen.choose(1, 38); s <- Gen.choose(0, 10)
    } yield LitVal.LDecimal(bytes, p, s),
    for { y <- Gen.choose(-100, 100); m <- Gen.choose(-11, 11) }
      yield LitVal.LIntervalYear(y, m),
    for { d <- Gen.choose(-1000, 1000); s <- Gen.choose(-86399, 86399)
          us <- Gen.choose(-999999, 999999) }
      yield LitVal.LIntervalDay(d, s, us),
    genSType.map(LitVal.LNull),
    genContainerLit)

  private def genExpr(depth: Int): Gen[SExpr] =
    if (depth <= 0)
      Gen.oneOf(genLit.map(SExpr.Lit), Gen.choose(0, 20).map(SExpr.FieldRef))
    else Gen.frequency(
      2 -> genLit.map(SExpr.Lit),
      2 -> Gen.choose(0, 20).map(SExpr.FieldRef),
      2 -> (for {
        ref <- Gen.choose(0, 30)
        n <- Gen.choose(1, 3)
        args <- Gen.listOfN(n, genExpr(depth - 1))
      } yield SExpr.ScalarFn(ref, args)),
      1 -> (for {
        t <- genSType; n <- Arbitrary.arbitrary[Boolean]; in <- genExpr(depth - 1)
      } yield SExpr.Cast(t, n, in)),
      1 -> (for {
        nc <- Gen.choose(1, 3)
        cs <- Gen.listOfN(nc, for {
          c <- genExpr(depth - 1); t <- Gen.option(genExpr(depth - 1))
        } yield IfClause(c, t))
        el <- Gen.option(genExpr(depth - 1))
      } yield SExpr.IfThen(cs, el)),
      1 -> (for {
        ref <- Gen.choose(0, 30)
        na <- Gen.choose(0, 2); args <- Gen.listOfN(na, genExpr(depth - 1))
        np <- Gen.choose(0, 2); parts <- Gen.listOfN(np, genExpr(depth - 1))
        ns <- Gen.choose(0, 2)
        sorts <- Gen.listOfN(ns, for {
          e <- genExpr(depth - 1); d <- Gen.choose(1, 4) } yield SortField(e, d))
        lo <- genBound; hi <- genBound
        rf <- Arbitrary.arbitrary[Boolean]
      } yield SExpr.WindowFn(ref, args, parts, sorts, lo, hi, rf)))

  private val genBound: Gen[WBound] = Gen.oneOf(
    Gen.const(WBound.Unbounded), Gen.const(WBound.CurrentRow),
    Gen.choose(0L, 1000L).map(WBound.Preceding),
    Gen.choose(0L, 1000L).map(WBound.Following))

  private lazy val genColType: Gen[SType] =
    Gen.frequency(5 -> genSType, 1 -> genStructType)

  private val genRead: Gen[Rel] = for {
    nNames <- Gen.choose(1, 3)
    names <- Gen.listOfN(nNames, Gen.alphaStr.suchThat(_.nonEmpty))
    nCols <- Gen.choose(1, 6)
    colNames <- Gen.listOfN(nCols, Gen.alphaNumStr)
    types <- Gen.listOfN(nCols, for { t <- genColType; n <- Arbitrary.arbitrary[Boolean] } yield (t, n))
    proj <- Gen.option(Gen.someOf(0 until nCols).map(_.toSeq))
    filt <- Gen.option(genExpr(1))
  } yield Rel.Read(NamedStruct(colNames, types), names, proj, filt)

  private def genRel(depth: Int): Gen[Rel] =
    if (depth <= 0) genRead
    else Gen.frequency(
      2 -> genRead,
      2 -> (for { i <- genRel(depth - 1); n <- Gen.choose(1, 4)
                  es <- Gen.listOfN(n, genExpr(2)) } yield Rel.Project(i, es)),
      2 -> (for { i <- genRel(depth - 1); c <- genExpr(2) } yield Rel.Filter(i, c)),
      1 -> (for { i <- genRel(depth - 1); o <- Gen.choose(0L, 1000L)
                  c <- Gen.choose(0L, 1000L) } yield Rel.Fetch(i, o, c)),
      1 -> (for { i <- genRel(depth - 1); n <- Gen.choose(1, 3)
                  ss <- Gen.listOfN(n, for {
                    e <- genExpr(1); d <- Gen.choose(1, 4) } yield SortField(e, d))
                } yield Rel.Sort(i, ss)),
      1 -> (for {
        i <- genRel(depth - 1)
        ng <- Gen.choose(0, 3); gs <- Gen.listOfN(ng, genExpr(1))
        nm <- Gen.choose(0, 3)
        ms <- Gen.listOfN(nm, for {
          ref <- Gen.choose(0, 30); na <- Gen.choose(0, 2)
          args <- Gen.listOfN(na, genExpr(1)); inv <- Gen.choose(1, 2)
          f <- Gen.option(genExpr(1))
        } yield Measure(AggFunction(ref, args, inv), f))
      } yield Rel.Aggregate(i, Seq(gs), ms)),
      1 -> (for { l <- genRel(depth - 1); r <- genRel(depth - 1)
                  e <- genExpr(1); t <- Gen.choose(1, 6) } yield Rel.Join(l, r, e, t)),
      1 -> (for { l <- genRel(depth - 1); r <- genRel(depth - 1) } yield Rel.Cross(l, r)),
      1 -> (for { n <- Gen.choose(2, 3); is <- Gen.listOfN(n, genRel(depth - 1))
                  op <- Gen.choose(1, 6) } yield Rel.Set(is, op)),
      1 -> (for {
        i <- genRel(depth - 1)
        g <- Gen.oneOf("explode", "posexplode", "inline")
        arg <- genExpr(1)
        outer <- Arbitrary.arbitrary[Boolean]
        k <- Gen.choose(1, 3)
      } yield Rel.ExtGenerate(i, g, arg, outer, k)),
      1 -> (for {
        i <- genRel(depth - 1)
        ne <- Gen.choose(0, 2); es <- Gen.listOfN(ne, genExpr(1))
        num <- Gen.choose(0, 64)
        sh <- Arbitrary.arbitrary[Boolean]
      } yield Rel.ExtExchange(i, es, num, sh)),
      1 -> (for {
        i <- genRel(depth - 1)
        hi <- Gen.choose(0.0, 1.0)
        wr <- Arbitrary.arbitrary[Boolean]
        seed <- Arbitrary.arbitrary[Long]
      } yield Rel.ExtSample(i, 0.0, hi, wr, seed)),
      1 -> (for {
        i <- genRel(depth - 1)
        name <- Gen.oneOf("graft.media_features_v1", "graft.unknown_stage_v0")
      } yield Rel.ExtStage(i, name)))

  private val genPlan: Gen[Plan] = for {
    nExts <- Gen.choose(0, 5)
    exts <- Gen.listOfN(nExts, for {
      a <- Gen.choose(0, 100); n <- Gen.alphaStr.suchThat(_.nonEmpty)
    } yield ExtensionFunction(0xffffffffL, a, n))
    rel <- genRel(3)
    names <- Gen.listOf(Gen.alphaNumStr)
    root <- Arbitrary.arbitrary[Boolean]
  } yield Plan(exts,
    Seq(if (root) PlanRel.Root(rel, names) else PlanRel.RelOnly(rel)))

  test("random plans survive encode→decode byte-exactly") {
    forAllSeeded(genPlan, 300) { p =>
      val decoded = Wire.decode(Wire.encode(p))
      assert(norm(decoded) == norm(p))
    }
  }

  test("re-encode of decoded plan is byte-identical (canonical form)") {
    forAllSeeded(genPlan, 100) { p =>
      val bytes = Wire.encode(p)
      assert(Wire.encode(Wire.decode(bytes)).sameElements(bytes))
    }
  }

  test("negative int32 literals (10-byte sign-extended varints)") {
    val p = Plan(Nil, Seq(PlanRel.RelOnly(Rel.Project(
      Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
      Seq(SExpr.Lit(LitVal.LI32(-1)), SExpr.Lit(LitVal.LI8(-128)),
        SExpr.Lit(LitVal.LDate(-719162)))))))
    assert(norm(Wire.decode(Wire.encode(p))) == norm(p))
  }

  test("truncated frames are rejected loudly") {
    val bytes = Wire.encode(Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Read(NamedStruct(Seq("a"), Seq((SType.SI64, true))), Seq("t"), None)))))
    for (cut <- 1 until bytes.length) {
      val t = java.util.Arrays.copyOfRange(bytes, 0, cut)
      located(intercept[SubstraitException](Wire.decode(t)), t)
    }
  }

  // ---- malformed frames: every one must fail with the typed error

  /** `e` is the decode error of `bytes`: it names a byte offset inside them
    * and a field path from the plan root. */
  private def located(e: SubstraitException, bytes: Array[Byte]): WireDecodeError = e match {
    case d: WireDecodeError =>
      assert(d.offset >= 0 && d.offset <= bytes.length, d.getMessage)
      assert(d.fieldPath == "plan" || d.fieldPath.startsWith("plan."), d.getMessage)
      assert(d.getMessage.contains(s"at byte offset ${d.offset} in ${d.fieldPath}"))
      d
    case other => fail(s"not a WireDecodeError: $other")
  }

  private def vint(v0: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]; var v = v0
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    (out += v.toByte).result()
  }
  /** length-delimited field `f` whose length prefix declares `len` */
  private def lenField(f: Int, body: Array[Byte], len: Long): Array[Byte] =
    vint((f << 3 | 2).toLong) ++ vint(len) ++ body
  private def lenField(f: Int, body: Array[Byte]): Array[Byte] =
    lenField(f, body, body.length.toLong)
  private val readT = Rel.Read(
    NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None)
  private def relOnly(r: Rel): Array[Byte] =
    Wire.encode(Plan(Nil, Seq(PlanRel.RelOnly(r))))

  test("fixed32 never reads past its sub-message into the parent") {
    // fp32 literal 0x00780000: Literal{10: fixed32} = 55 00 00 78 00. The
    // Literal's length is cut from 5 to 3, so the last two value bytes
    // (78 00, a valid varint field) belong to the enclosing Expression.
    val lit = Array[Byte](0x0a, 0x05, 0x55, 0x00, 0x00, 0x78, 0x00)
    val bytes = relOnly(Rel.Project(readT,
      Seq(SExpr.Lit(LitVal.LFp32(java.lang.Float.intBitsToFloat(0x00780000))))))
    val at = bytes.indexOfSlice(lit)
    assert(at >= 0 && bytes.lastIndexOfSlice(lit) == at)
    val cut = bytes.clone(); cut(at + 1) = 0x03
    val e = intercept[SubstraitException](Wire.decode(cut))
    assert(e.getMessage.contains("truncated"))
    located(e, cut)
  }

  test("fixed64 at the end of the buffer fails typed, not out of bounds") {
    // Plan{3: PlanRel{1: Rel{7: Project{3: Expression{1: Literal{11: 4 of
    // 8 bytes}}}}}}: every length is honest, the buffer just ends
    val lit = Array[Byte](0x59, 1, 2, 3, 4)
    val bytes = lenField(3, lenField(1, lenField(7, lenField(3,
      lenField(1, lit)))))
    val e = intercept[SubstraitException](Wire.decode(bytes))
    assert(e.getMessage.contains("truncated"))
    assert(located(e, bytes).fieldPath ==
      "plan.relations[0].rel.project.expressions[0].literal.fp64")
  }

  private val wrap = 1L << 32

  test("a sub-message length above Int.MaxValue is rejected, not wrapped") {
    val planRel = relOnly(readT).drop(2) // strip Plan's 0x1a tag + 1-byte length
    assert(Wire.decode(lenField(3, planRel)).relations.size == 1)
    val e = intercept[SubstraitException](
      Wire.decode(lenField(3, planRel, wrap + planRel.length)))
    assert(e.getMessage.contains(s"length ${wrap + planRel.length} "))
    assert(located(e, lenField(3, planRel, wrap + planRel.length)).fieldPath ==
      "plan.relations[0]")
  }

  test("a string length above Int.MaxValue is rejected, not wrapped") {
    // extensions{3: ExtensionFunction{1: uri, 2: anchor, 3: name}}
    def ext(nameLen: Long) = lenField(2, lenField(3,
      vint(0x08) ++ vint(1) ++ vint(0x10) ++ vint(1) ++
        lenField(3, "abc".getBytes("UTF-8"), nameLen)))
    assert(Wire.decode(ext(3) ++ relOnly(readT)).extensions.head.name == "abc")
    val e = intercept[SubstraitException](
      Wire.decode(ext(wrap + 3) ++ relOnly(readT)))
    assert(e.getMessage.contains(s"length ${wrap + 3} "))
    assert(located(e, ext(wrap + 3)).fieldPath ==
      "plan.extensions[0].extension_function.name")
  }

  test("a skipped field's length above Int.MaxValue is rejected, not wrapped") {
    def unknown(len: Long) = lenField(15, Array[Byte](0x7f), len)
    assert(Wire.decode(unknown(1) ++ relOnly(readT)).relations.size == 1)
    val e = intercept[SubstraitException](
      Wire.decode(unknown(wrap + 1) ++ relOnly(readT)))
    assert(e.getMessage.contains(s"length ${wrap + 1} "))
    assert(located(e, unknown(wrap + 1)).fieldPath == "plan")
  }

  /** Plan bytes of a FilterRel chain `depth` deep over `readT`, built
    * outside-in without recursion: Rel{2: FilterRel{2: Rel, 3: cond}}. */
  private def filterChain(depth: Int): Array[Byte] = {
    val leaf = relOnly(readT).drop(4) // strip Plan{3: PlanRel{1: …}} headers
    val cond = lenField(3, lenField(1, Array[Byte](0x08, 0x01))) // literal true
    val relSize = new Array[Long](depth + 1)
    val filterSize = new Array[Long](depth + 1)
    relSize(0) = leaf.length
    for (k <- 1 to depth) {
      filterSize(k) = 1 + vint(relSize(k - 1)).length + relSize(k - 1) + cond.length
      relSize(k) = 1 + vint(filterSize(k)).length + filterSize(k)
    }
    val out = new java.io.ByteArrayOutputStream()
    val top = relSize(depth)
    out.write(vint(0x1a)); out.write(vint(1 + vint(top).length + top))
    out.write(vint(0x0a)); out.write(vint(top))
    for (k <- depth to 1 by -1) {
      out.write(vint(0x12)); out.write(vint(filterSize(k)))
      out.write(vint(0x12)); out.write(vint(relSize(k - 1)))
    }
    out.write(leaf)
    for (_ <- 1 to depth) out.write(cond)
    out.toByteArray
  }

  test("a nested-Rel bomb fails typed at the nesting cap, not with a stack overflow") {
    def depthOf(r: Rel): Int = r match {
      case Rel.Filter(in, _) => 1 + depthOf(in)
      case _ => 0
    }
    val ok = Wire.decode(filterChain(128))
    assert(depthOf(ok.relations.head.asInstanceOf[PlanRel.RelOnly].rel) == 128)
    val e = intercept[SubstraitException](Wire.decode(filterChain(50000)))
    assert(e.getMessage.contains(s"deeper than ${Wire.MaxNestingDepth}"))
    assert(located(e, filterChain(50000)).fieldPath.startsWith(
      "plan.relations[0].rel.filter.input.filter.input."))
  }

  test("encode counts nesting as decode does: a deep Filter chain fails typed, and near the cap every plan that encodes decodes") {
    def chain(depth: Int): Plan = {
      var r: Rel = readT
      for (_ <- 1 to depth) r = Rel.Filter(r, SExpr.Lit(LitVal.LBool(true)))
      Plan(Nil, Seq(PlanRel.RelOnly(r)))
    }
    val e = intercept[SubstraitException](Wire.encode(chain(50000)))
    assert(e.getMessage.contains(s"deeper than ${Wire.MaxNestingDepth}"))
    // a Rel costs two levels (Rel + FilterRel): the cap falls near depth/2
    val around = (Wire.MaxNestingDepth / 2 - 4) to (Wire.MaxNestingDepth / 2 + 4)
    val encodes = around.map { d =>
      val bytes = scala.util.Try(Wire.encode(chain(d))).toOption
      bytes.foreach(b => assert(Wire.decode(b) == chain(d), s"depth $d"))
      // the hand-framed chain of the same depth decodes exactly when the
      // encoder accepts the plan
      assert(scala.util.Try(Wire.decode(filterChain(d))).isSuccess == bytes.isDefined,
        s"depth $d")
      bytes.isDefined
    }
    assert(encodes.contains(true) && encodes.contains(false), around)
  }

  // ---- a payload decoded apart from its parent (an extension rel detail, an
  //      iteration body plan) reports offsets in the input, not in the payload

  private def extensionOf(url: String, value: Array[Byte]) =
    planOf(lenField(9, lenField(2, readRel) ++
      lenField(3, lenField(1, url.getBytes("UTF-8")) ++ lenField(2, value))))
  /** fixed64 tag of field 1 and 4 of its 8 bytes, recognizable in a plan */
  private val cutFixed64 = Array[Byte](0x09, 0x71, 0x72, 0x73, 0x74)
  private val detail = "plan.relations[0].rel.extension_single.detail.value"

  test("a malformed detail payload names its offset in the input") {
    val bytes = extensionOf(Wire.sampleDetailUrl, cutFixed64)
    val e = located(intercept[SubstraitException](Wire.decode(bytes)), bytes)
    assert(e.fieldPath == s"$detail.lower", e.getMessage)
    assert(e.offset == bytes.indexOfSlice(cutFixed64), e.getMessage)
  }

  test("a malformed iteration body plan names its offset in the input") {
    val lit = Array[Byte](0x59) ++ cutFixed64.drop(1) // Literal{fp64: 4 of 8 bytes}
    val body = planOf(projectOf(lenField(1, lit)))
    val bytes = extensionOf(Wire.iterationDetailUrl, lenField(1, body))
    val e = located(intercept[SubstraitException](Wire.decode(bytes)), bytes)
    assert(e.fieldPath ==
      s"$detail.body_plan.relations[0].rel.project.expressions[0].literal.fp64", e.getMessage)
    assert(e.offset == bytes.indexOfSlice(lit), e.getMessage)
  }

  // ---- a required sub-message that is missing fails the decode itself,
  //      naming the field, instead of leaving a null for the Validator

  private val readRel = relOnly(readT).drop(4) // Rel{read=1}, headers stripped
  private val trueExpr = lenField(1, Array[Byte](0x08, 0x01)) // Expression{literal true}
  private val i64Type = lenField(7, Array[Byte](0x10, 0x01)) // Type{i64{nullable}}
  private def planOf(rel: Array[Byte]) = lenField(3, lenField(1, rel))
  private def projectOf(e: Array[Byte]) = lenField(7, lenField(2, readRel) ++ lenField(3, e))
  private val exprs = "plan.relations[0].rel.project.expressions[0]"

  private val missingRequired = Seq(
    "Cast without a type" ->
      (planOf(projectOf(lenField(11, lenField(2, trueExpr)))), s"$exprs.cast.type"),
    "Cast without an input" ->
      (planOf(projectOf(lenField(11, lenField(1, i64Type)))), s"$exprs.cast.input"),
    "Filter without an input" ->
      (planOf(lenField(2, lenField(3, trueExpr))), "plan.relations[0].rel.filter.input"),
    "Filter without a condition" ->
      (planOf(lenField(2, lenField(2, readRel))), "plan.relations[0].rel.filter.condition"),
    "IfThen clause without a condition" ->
      (planOf(projectOf(lenField(6, lenField(1, lenField(2, trueExpr))))),
        s"$exprs.if_then.ifs[0].if"),
    "Join without a right side" ->
      (planOf(lenField(6, lenField(2, readRel) ++ lenField(4, trueExpr) ++ vint(0x30) ++ vint(1))),
        "plan.relations[0].rel.join.right"),
    "SortField without an expression" ->
      (planOf(lenField(5, lenField(2, readRel) ++ lenField(3, vint(0x10) ++ vint(1)))),
        "plan.relations[0].rel.sort.sorts[0].expr"),
    "RelRoot without an input" ->
      (lenField(3, lenField(2, lenField(2, "x".getBytes("UTF-8")))),
        "plan.relations[0].root.input"),
    "Measure without a function" ->
      (planOf(lenField(4, lenField(2, readRel) ++ lenField(4, lenField(2, trueExpr)))),
        "plan.relations[0].rel.aggregate.measures[0].measure"))

  for ((shape, (bytes, path)) <- missingRequired)
    test(s"$shape fails the decode with its field path") {
      val e = intercept[SubstraitException](Validator.validateOrThrow(Wire.decode(bytes)))
      assert(located(e, bytes).fieldPath == path)
      assert(e.getMessage.contains("missing required field"), e.getMessage)
    }
}
