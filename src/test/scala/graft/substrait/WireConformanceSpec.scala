package graft.substrait

import org.scalatest.funsuite.AnyFunSuite

import model._

/** Spec-conformance checks against the PUBLIC substrait .proto field layout —
  * not just self round-trip consistency. A foreign (spec-conformant) producer
  * or consumer must agree with graft on these bytes:
  *   - Literal.list      = field 30 (List{repeated Literal values=1});
  *     field 26 is Literal.map and must NOT be used for lists
  *   - Literal.empty_list = field 31 (Type.List carrying the element type)
  *   - nested struct field names flatten depth-first into the root
  *     NamedStruct.names (Type.Struct itself is anonymous)
  * Each "foreign bytes" fixture below is hand-assembled protobuf, standing in
  * for what prost/protobuf-java would emit for the same message.
  */
class WireConformanceSpec extends AnyFunSuite {

  // -- minimal protobuf writer, independent of Wire's (so a Wire bug cannot
  //    cancel itself out in the fixture)
  private class PW {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(f: Int, wt: Int): Unit = varint((f.toLong << 3) | wt)
    def int(f: Int, v: Long): Unit = { tag(f, 0); varint(v) }
    def str(f: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); tag(f, 2); varint(b.length.toLong); out.write(b)
    }
    def msg(f: Int, body: PW => Unit): Unit = {
      val w = new PW; body(w); val b = w.out.toByteArray
      tag(f, 2); varint(b.length.toLong); out.write(b)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** i32 Type message: Type{i32=5:{nullability=2}} (NULLABILITY_NULLABLE=1). */
  private def i32Type(w: PW, f: Int): Unit =
    w.msg(f, t => t.msg(5, k => k.int(2, 1)))

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("non-empty list literals encode at Literal.list field 30, not map field 26") {
    val plan = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Project(
        Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
        Seq(SExpr.Lit(LitVal.LList(SType.SI32,
          Seq(LitVal.LI32(7), LitVal.LI32(9)))))))))
    val enc = hex(Wire.encode(plan))
    // tag(30, len-delim) = varint(242) = f2 01; tag(26, len-delim) = d2 01
    assert(enc.contains("f201"), s"no field-30 tag in $enc")
    assert(!enc.contains("d201"), s"field-26 (map) tag present in $enc")
    assert(Wire.decode(Wire.encode(plan)) == plan)
  }

  test("foreign list literal (field 30, no element type) decodes with inferred type") {
    // Plan{relations=3:{rel=1:{project=7:{input=2:{read=1:{base_schema=2, named_table=7}},
    //   expressions=3:{literal=1:{list=30:{values=1,1}}}}}}}
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(7, proj => {
      proj.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      proj.msg(3, ex => ex.msg(1, lit => lit.msg(30, l => {
        l.msg(1, v => v.int(5, 7)) // Literal{i32=5}
        l.msg(1, v => v.int(5, 9))
      })))
    })))
    val plan = Wire.decode(w.bytes)
    val Rel.Project(_, exprs) = plan.relations.head
      .asInstanceOf[PlanRel.RelOnly].rel: @unchecked
    assert(exprs == Seq(SExpr.Lit(LitVal.LList(SType.SI32,
      Seq(LitVal.LI32(7), LitVal.LI32(9))))))
  }

  test("empty list literals ride as Literal.empty_list (field 31) and round-trip") {
    val plan = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Project(
        Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
        Seq(SExpr.Lit(LitVal.LList(SType.SFp64, Nil)))))))
    assert(Wire.decode(Wire.encode(plan)) == plan)
    // tag(31, len-delim) = varint(250) = fa 01
    assert(hex(Wire.encode(plan)).contains("fa01"))
  }

  test("decimal and binary literals compare structurally after a round-trip") {
    val dec = LitVal.LDecimal(Array.fill[Byte](16)(3), 10, 2)
    val bin = LitVal.LBin(Array[Byte](1, 2, 3))
    val plan = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Project(
        Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
        Seq(SExpr.Lit(dec), SExpr.Lit(bin))))))
    val back = Wire.decode(Wire.encode(plan))
    assert(back == plan) // Array[Byte] fields must not fall back to reference eq
    val exprs = back.relations.head.asInstanceOf[PlanRel.RelOnly]
      .rel.asInstanceOf[Rel.Project].expressions
    assert(exprs.head == SExpr.Lit(LitVal.LDecimal(Array.fill[Byte](16)(3), 10, 2)))
    assert(exprs.distinct.size == 2 && (exprs ++ exprs).distinct.size == 2)
  }

  test("foreign map literal (field 26 KeyValue list) decodes; empty_map round-trips") {
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(7, proj => {
      proj.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      proj.msg(3, ex => ex.msg(1, lit => lit.msg(26, m => {
        m.msg(1, kv => { kv.msg(1, k => k.int(5, 1)); kv.msg(2, v => v.int(7, 10)) })
        m.msg(1, kv => { kv.msg(1, k => k.int(5, 2)); kv.msg(2, v => v.int(7, 20)) })
      })))
    })))
    val plan = Wire.decode(w.bytes)
    val Rel.Project(_, exprs) = plan.relations.head
      .asInstanceOf[PlanRel.RelOnly].rel: @unchecked
    assert(exprs == Seq(SExpr.Lit(LitVal.LMap(SType.SI32, SType.SI64,
      Seq((LitVal.LI32(1), LitVal.LI64(10)), (LitVal.LI32(2), LitVal.LI64(20)))))))
    // empty map round-trips via field 32 with both types preserved
    val empty = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Project(
        Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
        Seq(SExpr.Lit(LitVal.LMap(SType.SStr, SType.SFp64, Nil)))))))
    assert(Wire.decode(Wire.encode(empty)) == empty)
  }

  test("foreign RelCommon.emit resolves: ProjectRel maps the input++expressions space") {
    // the standard modern-producer shape (DataFusion/DuckDB): a 2-column
    // scan, one computed expression, emit=[0, 2] → (col0, computed)
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(7, proj => {
      proj.msg(1, c => c.msg(2, e => { e.int(1, 0); e.int(1, 2) })) // common.emit
      proj.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => {
          ns.str(1, "a"); ns.str(1, "b")
          ns.msg(2, st => { i32Type(st, 1); i32Type(st, 1) })
        })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      proj.msg(3, ex => ex.msg(1, lit => lit.int(5, 42))) // expression: 42
    })))
    val plan = Wire.decode(w.bytes)
    val Rel.Project(_, exprs) = plan.relations.head
      .asInstanceOf[PlanRel.RelOnly].rel: @unchecked
    assert(exprs == Seq(SExpr.FieldRef(0), SExpr.Lit(LitVal.LI32(42))))
  }

  test("foreign RelCommon.emit on a non-project rel wraps its own output") {
    // FilterRel over a 3-column scan with emit=[2, 0] → reordered projection
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(2, flt => {
      flt.msg(1, c => c.msg(2, e => { e.int(1, 2); e.int(1, 0) }))
      flt.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => {
          Seq("a", "b", "c").foreach(ns.str(1, _))
          ns.msg(2, st => { i32Type(st, 1); i32Type(st, 1); i32Type(st, 1) })
        })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      flt.msg(3, ex => ex.msg(1, lit => lit.int(1, 1))) // condition: true
    })))
    val plan = Wire.decode(w.bytes)
    plan.relations.head.asInstanceOf[PlanRel.RelOnly].rel match {
      case Rel.Project(_: Rel.Filter, exprs) =>
        assert(exprs == Seq(SExpr.FieldRef(2), SExpr.FieldRef(0)))
      case other => fail(s"expected Project(Filter, ...), got $other")
    }
  }

  test("foreign RelCommon.emit on a JoinRel maps the left++right concat space") {
    // 2-col left ⋈ 1-col right, inner, condition true, emit=[2, 0] →
    // (right.c, left.a) — the mapping indexes the CONCATENATED join output
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(6, jn => {
      jn.msg(1, c => c.msg(2, e => { e.int(1, 2); e.int(1, 0) }))
      jn.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => {
          ns.str(1, "a"); ns.str(1, "b")
          ns.msg(2, st => { i32Type(st, 1); i32Type(st, 1) })
        })
        rd.msg(7, nt => nt.str(1, "l"))
      }))
      jn.msg(3, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "c"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "r"))
      }))
      jn.msg(4, ex => ex.msg(1, lit => lit.int(1, 1))) // condition: true
      jn.int(6, 1) // JOIN_TYPE_INNER
    })))
    val plan = Wire.decode(w.bytes)
    plan.relations.head.asInstanceOf[PlanRel.RelOnly].rel match {
      case Rel.Project(j: Rel.Join, exprs) =>
        assert(j.joinType == 1)
        assert(exprs == Seq(SExpr.FieldRef(2), SExpr.FieldRef(0)))
      case other => fail(s"expected Project(Join, ...), got $other")
    }
  }

  /** Shared 1-bool-column scan fixture for the aggregate tests below. */
  private def boolScan(rd: PW): Unit = {
    rd.msg(2, ns => { ns.str(1, "x")
      ns.msg(2, st => st.msg(1, t => t.msg(1, k => k.int(2, 1)))) }) // bool
    rd.msg(7, nt => nt.str(1, "t"))
  }

  test("foreign AggregateRel: nested IfThen inside a measure + measure FILTER decode") {
    // sum(CASE WHEN x THEN 1 ELSE 0 END) FILTER (WHERE x), global grouping —
    // the layout prost emits for a conditional measure
    val w = new PW
    w.msg(2, dw => dw.msg(3, fw => { fw.int(1, 1); fw.int(2, 0); fw.str(3, "sum") }))
    w.msg(3, pr => pr.msg(1, rel => rel.msg(4, ag => {
      ag.msg(2, in => in.msg(1, boolScan))
      ag.msg(3, _ => ()) // one empty grouping = global aggregate
      ag.msg(4, ms => {
        ms.msg(1, fn => {
          fn.int(1, 0) // function_reference → "sum"
          fn.msg(2, ex => ex.msg(6, it => {
            it.msg(1, cl => {
              cl.msg(1, c => c.msg(2, fr => fr.msg(1, seg =>
                seg.msg(2, sf => sf.int(1, 0))))) // cond: field 0
              cl.msg(2, t => t.msg(1, lit => lit.int(5, 1))) // then: i32 1
            })
            it.msg(2, e => e.msg(1, lit => lit.int(5, 0))) // else: i32 0
          }))
          fn.int(6, 1) // AGGREGATION_INVOCATION_ALL
        })
        ms.msg(2, flt => flt.msg(2, fr => fr.msg(1, seg =>
          seg.msg(2, sf => sf.int(1, 0))))) // FILTER (WHERE x)
      })
    })))
    val plan = Wire.decode(w.bytes)
    assert(plan.extensions == Seq(ExtensionFunction(1L, 0, "sum")))
    val agg = plan.relations.head.asInstanceOf[PlanRel.RelOnly].rel
      .asInstanceOf[Rel.Aggregate]
    assert(agg.groupings == Seq(Seq()))
    val expectedMeasure = Measure(
      AggFunction(0, Seq(SExpr.IfThen(
        Seq(IfClause(SExpr.FieldRef(0), Some(SExpr.Lit(LitVal.LI32(1))))),
        Some(SExpr.Lit(LitVal.LI32(0))))), 1),
      Some(SExpr.FieldRef(0)))
    assert(agg.measures == Seq(expectedMeasure))
  }

  test("foreign multi-grouping AggregateRel decodes as grouping sets in order") {
    // groupings = [[field 0], []] (ROLLUP layout) + one count measure
    val w = new PW
    w.msg(2, dw => dw.msg(3, fw => { fw.int(1, 1); fw.int(2, 0); fw.str(3, "count") }))
    w.msg(3, pr => pr.msg(1, rel => rel.msg(4, ag => {
      ag.msg(2, in => in.msg(1, boolScan))
      ag.msg(3, g => g.msg(1, ex => ex.msg(2, fr => fr.msg(1, seg =>
        seg.msg(2, sf => sf.int(1, 0))))))
      ag.msg(3, _ => ())
      ag.msg(4, ms => ms.msg(1, fn => { fn.int(1, 0); fn.int(6, 1) }))
    })))
    val agg = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel.asInstanceOf[Rel.Aggregate]
    assert(agg.groupings == Seq(Seq(SExpr.FieldRef(0)), Seq()))
    assert(agg.measures == Seq(Measure(AggFunction(0, Nil, 1), None)))
  }

  /** Truncation fuzz (the WireSpec property applied per fixture): every
    * strict prefix must either throw or decode to something OTHER than the
    * full-bytes plan — a prefix may legitimately be a self-consistent
    * smaller message (protobuf last-field drop), but silently decoding to
    * the SAME plan would mean trailing bytes were ignored, and mis-parses
    * are the bug class this spec exists for.
    */
  private def truncationFuzz(bytes: Array[Byte]): Unit = {
    val full = Wire.decode(bytes)
    var parsed = 0
    for (cut <- 1 until bytes.length) {
      val t = java.util.Arrays.copyOfRange(bytes, 0, cut)
      try {
        val p = Wire.decode(t)
        parsed += 1
        assert(p != full, s"cut=$cut decoded IDENTICAL to the full plan")
      } catch { case _: Exception => () }
    }
    assert(parsed < bytes.length - 1,
      "every truncation decoded cleanly — the fixture exercises nothing")
  }

  test("foreign SetRel: repeated inputs + op decode; truncations never mis-parse") {
    // three 1-col scans, UNION_ALL — the layout a foreign producer emits
    // for a flattened n-ary union (repeated field 2, op enum field 3)
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(8, st => {
      for (t <- Seq("t1", "t2", "t3"))
        st.msg(2, in => in.msg(1, rd => {
          rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, s => i32Type(s, 1)) })
          rd.msg(7, nt => nt.str(1, t))
        }))
      st.int(3, 6) // SET_OP_UNION_ALL
    })))
    val rel = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel
    rel match {
      case Rel.Set(inputs, op) =>
        assert(inputs.size == 3 && op == SetOp.UnionAll)
        assert(inputs.map(_.asInstanceOf[Rel.Read].tableNames) ==
          Seq(Seq("t1"), Seq("t2"), Seq("t3")))
      case other => fail(s"expected Set, got $other")
    }
    truncationFuzz(w.bytes)
  }

  test("foreign FetchRel with count ABSENT decodes as the count-0 'no fetch' quirk") {
    // proto3 zero-elision: a foreign fetch=None arrives with NO count field;
    // the reference's convention (producer.rs:147-150) makes that count=0 =
    // no limit, and offset-only still applies
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(3, f => {
      f.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, s => i32Type(s, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      f.int(3, 4) // offset=4, count absent
    })))
    val rel = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel
    rel match {
      case Rel.Fetch(_: Rel.Read, off, cnt) => assert(off == 4 && cnt == 0)
      case other => fail(s"expected Fetch, got $other")
    }
    truncationFuzz(w.bytes)
  }

  test("foreign measure with FILTER and DISTINCT combined decodes both flags") {
    // sum(DISTINCT x) FILTER (WHERE x) — invocation enum 2 (DISTINCT) at
    // AggregateFunction field 6 PLUS the measure-level filter at field 2
    val w = new PW
    w.msg(2, dw => dw.msg(3, fw => { fw.int(1, 1); fw.int(2, 0); fw.str(3, "sum") }))
    w.msg(3, pr => pr.msg(1, rel => rel.msg(4, ag => {
      ag.msg(2, in => in.msg(1, boolScan))
      ag.msg(3, _ => ()) // global grouping
      ag.msg(4, ms => {
        ms.msg(1, fn => {
          fn.int(1, 0)
          fn.msg(2, ex => ex.msg(2, fr => fr.msg(1, seg =>
            seg.msg(2, sf => sf.int(1, 0))))) // arg: field 0
          fn.int(6, 2) // AGGREGATION_INVOCATION_DISTINCT
        })
        ms.msg(2, flt => flt.msg(2, fr => fr.msg(1, seg =>
          seg.msg(2, sf => sf.int(1, 0))))) // FILTER (WHERE x)
      })
    })))
    val agg = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel.asInstanceOf[Rel.Aggregate]
    assert(agg.measures == Seq(Measure(
      AggFunction(0, Seq(SExpr.FieldRef(0)), AggInvocation.Distinct),
      Some(SExpr.FieldRef(0)))))
    truncationFuzz(w.bytes)
  }

  test("foreign RelCommon.emit on AggregateRel and FetchRel maps/wraps outputs") {
    // AggregateRel emit=[1, 0] over (group, count) → (count, group): the
    // emit space is groupings ++ measures
    val wa = new PW
    wa.msg(2, dw => dw.msg(3, fw => { fw.int(1, 1); fw.int(2, 0); fw.str(3, "count") }))
    wa.msg(3, pr => pr.msg(1, rel => rel.msg(4, ag => {
      ag.msg(1, c => c.msg(2, e => { e.int(1, 1); e.int(1, 0) }))
      ag.msg(2, in => in.msg(1, boolScan))
      ag.msg(3, g => g.msg(1, ex => ex.msg(2, fr => fr.msg(1, seg =>
        seg.msg(2, sf => sf.int(1, 0))))))
      ag.msg(4, ms => ms.msg(1, fn => { fn.int(1, 0); fn.int(6, 1) }))
    })))
    Wire.decode(wa.bytes).relations.head.asInstanceOf[PlanRel.RelOnly].rel match {
      case Rel.Project(_: Rel.Aggregate, exprs) =>
        assert(exprs == Seq(SExpr.FieldRef(1), SExpr.FieldRef(0)))
      case other => fail(s"expected Project(Aggregate, ...), got $other")
    }
    truncationFuzz(wa.bytes)

    // FetchRel emit=[1, 0] over a 2-col scan → reordered passthrough
    val wf = new PW
    wf.msg(3, pr => pr.msg(1, rel => rel.msg(3, f => {
      f.msg(1, c => c.msg(2, e => { e.int(1, 1); e.int(1, 0) }))
      f.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => {
          ns.str(1, "a"); ns.str(1, "b")
          ns.msg(2, st => { i32Type(st, 1); i32Type(st, 1) })
        })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      f.int(3, 1); f.int(4, 5) // OFFSET 1 LIMIT 5
    })))
    Wire.decode(wf.bytes).relations.head.asInstanceOf[PlanRel.RelOnly].rel match {
      case Rel.Project(ft: Rel.Fetch, exprs) =>
        assert(ft.offset == 1 && ft.count == 5)
        assert(exprs == Seq(SExpr.FieldRef(1), SExpr.FieldRef(0)))
      case other => fail(s"expected Project(Fetch, ...), got $other")
    }
    truncationFuzz(wf.bytes)
  }

  test("foreign ReadRel.best_effort_filter (field 11) is applied as the scan filter") {
    def readBytes(bothFilters: Boolean): Array[Byte] = {
      val w = new PW
      w.msg(3, pr => pr.msg(1, rel => rel.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
        // best_effort_filter: literal true
        rd.msg(11, ex => ex.msg(1, lit => lit.int(1, 1)))
        if (bothFilters) rd.msg(3, ex => ex.msg(1, lit => lit.int(1, 1)))
      })))
      w.bytes
    }
    val read = Wire.decode(readBytes(bothFilters = false))
      .relations.head.asInstanceOf[PlanRel.RelOnly].rel.asInstanceOf[Rel.Read]
    assert(read.filter == Some(SExpr.Lit(LitVal.LBool(true))))
    val e = intercept[SubstraitException](Wire.decode(readBytes(bothFilters = true)))
    assert(e.getMessage.contains("best_effort_filter"), e.getMessage)
  }

  test("ExtensionSingleRel with a foreign Any type_url is loudly rejected") {
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(9, ext => {
      ext.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      ext.msg(3, any => { any.str(1, "example.org/SomeOtherRel"); any.msg(2, _ => ()) })
    })))
    val e = intercept[SubstraitException](Wire.decode(w.bytes))
    assert(e.getMessage.contains("foreign detail"), e.getMessage)
  }

  test("nested struct field names flatten depth-first into NamedStruct.names") {
    val inner = SType.SStruct(Seq("lat", "lon"),
      Seq((SType.SFp64, true), (SType.SFp64, true)))
    val outer = SType.SStruct(Seq("id", "loc"),
      Seq((SType.SI64, true), (inner, true)))
    val plan = Plan(Nil, Seq(PlanRel.RelOnly(
      Rel.Read(NamedStruct(Seq("a", "s"), Seq((SType.SI32, true), (outer, true))),
        Seq("t"), None))))
    // the root name list must read a, s, id, loc, lat, lon in order
    val enc = hex(Wire.encode(plan))
    val expected = Seq("a", "s", "id", "loc", "lat", "lon")
      .map(n => "0a%02x".format(n.length) + hex(n.getBytes("UTF-8"))).mkString
    assert(enc.contains(expected), s"flattened names missing/misordered in $enc")
    assert(Wire.decode(Wire.encode(plan)) == plan)
  }

  test("foreign schema with anonymous structs + flattened names gets names back") {
    // NamedStruct{names=[a,s,id,loc], struct=2:{types=[i32, Struct{i64, Struct-less}}]}
    // — no graft field-10 in-struct names anywhere
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(1, rd => {
      rd.msg(2, ns => {
        Seq("a", "s", "id", "loc").foreach(ns.str(1, _))
        ns.msg(2, st => {
          i32Type(st, 1)
          // Type{struct=25:{types={i64, fp64}, nullability=3}}
          st.msg(1, t => t.msg(25, s => {
            s.msg(1, t2 => t2.msg(7, k => k.int(2, 1)))  // i64
            s.msg(1, t2 => t2.msg(11, k => k.int(2, 1))) // fp64
            s.int(3, 1)
          }))
        })
      })
      rd.msg(7, nt => nt.str(1, "t"))
    })))
    val plan = Wire.decode(w.bytes)
    val read = plan.relations.head.asInstanceOf[PlanRel.RelOnly].rel
      .asInstanceOf[Rel.Read]
    assert(read.baseSchema.names == Seq("a", "s"))
    val SType.SStruct(fieldNames, fields) = read.baseSchema.types(1)._1: @unchecked
    assert(fieldNames == Seq("id", "loc"))
    assert(fields.map(_._1) == Seq(SType.SI64, SType.SFp64))
  }

  test("foreign ReadRel/LocalFiles (field 6) decodes: parquet folder + csv options") {
    // ReadRel{base_schema=2, local_files=6:{items=1:[
    //   FileOrFiles{uri_folder=4, parquet=9:{}},
    //   FileOrFiles{uri_path=1, text=14:{field_delimiter=1 "|",
    //                                    header_lines_to_skip=4 1}}]}}
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(1, rd => {
      rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
      rd.msg(6, lf => {
        lf.msg(1, it => { it.str(4, "/data/part"); it.msg(9, _ => ()) })
        lf.msg(1, it => { it.str(1, "/data/f.csv")
          it.msg(14, t => { t.str(1, "|"); t.int(4, 1) }) })
      })
    })))
    val read = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel.asInstanceOf[Rel.Read]
    assert(read.localFiles == Some(Seq(
      FileItem("/data/part", 4, "parquet"),
      FileItem("/data/f.csv", 1, "csv", Some("|"), 1L))))
    assert(read.tableNames.isEmpty)
    // and graft's own encoding of the same model decodes back identically
    val self = Plan(Nil, Seq(PlanRel.RelOnly(read)))
    assert(Wire.decode(Wire.encode(self)) == self)
  }

  test("foreign nested DirectReference (StructField child chain) decodes to NestedRef") {
    // expression = FieldReference{direct_reference=1:
    //   StructField{field=1, child=2: StructField{field=0}}} → col 1, then .0
    val w = new PW
    w.msg(3, pr => pr.msg(1, rel => rel.msg(7, proj => {
      proj.msg(2, in => in.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(7, nt => nt.str(1, "t"))
      }))
      proj.msg(3, ex => ex.msg(2, fr => fr.msg(1, seg => seg.msg(2, sf => {
        sf.int(1, 1)
        sf.msg(2, child => child.msg(2, sf2 => sf2.int(1, 0)))
      }))))
    })))
    val Rel.Project(_, exprs) = Wire.decode(w.bytes).relations.head
      .asInstanceOf[PlanRel.RelOnly].rel: @unchecked
    assert(exprs == Seq(SExpr.NestedRef(1, Seq(0))))
    // and graft's own encoding decodes back to the same chain
    val self = Plan(Nil, Seq(PlanRel.RelOnly(Rel.Project(
      Rel.Read(NamedStruct(Seq("x"), Seq((SType.SI32, true))), Seq("t"), None),
      Seq(SExpr.NestedRef(1, Seq(0, 2)))))))
    assert(Wire.decode(Wire.encode(self)) == self)
  }

  test("foreign LocalFiles with a byte-range or unsupported format is loudly rejected") {
    def rel(body: PW => Unit): Array[Byte] = {
      val w = new PW
      w.msg(3, pr => pr.msg(1, r0 => r0.msg(1, rd => {
        rd.msg(2, ns => { ns.str(1, "x"); ns.msg(2, st => i32Type(st, 1)) })
        rd.msg(6, lf => lf.msg(1, body))
      })))
      w.bytes
    }
    val ranged = rel(it => { it.str(3, "/f.parquet"); it.msg(9, _ => ()); it.int(7, 100) })
    val e1 = intercept[SubstraitException](Wire.decode(ranged))
    assert(e1.getMessage.contains("byte ranges"), e1.getMessage)
    val arrow = rel(it => { it.str(3, "/f.arrow"); it.msg(10, _ => ()) })
    val e2 = intercept[SubstraitException](Wire.decode(arrow))
    assert(e2.getMessage.contains("arrow"), e2.getMessage)
  }

  test("foreign ExchangeRelDetail with PACKED range_directions decodes like unpacked") {
    // a proto3 runtime packs repeated enums by default: range_directions=4
    // arrives as ONE length-delimited run of varints
    def exchange(packed: Boolean): Array[Byte] = {
      val w = new PW
      w.msg(3, pr => pr.msg(1, rel => rel.msg(9, ext => {
        ext.msg(2, in => in.msg(1, rd => {
          rd.msg(2, ns => { ns.str(1, "x"); ns.str(1, "y")
            ns.msg(2, st => { i32Type(st, 1); i32Type(st, 1) }) })
          rd.msg(7, nt => nt.str(1, "t"))
        }))
        ext.msg(3, any => {
          any.str(1, Wire.exchangeDetailUrl)
          any.msg(2, d => {
            // exprs: column 0 (empty StructField, proto3) and column 1
            d.msg(1, ex => ex.msg(2, fr => fr.msg(1, seg => seg.msg(2, _ => ()))))
            d.msg(1, ex => ex.msg(2, fr => fr.msg(1, seg => seg.msg(2, sf => sf.int(1, 1)))))
            d.int(2, 8)
            d.int(3, 1)
            if (packed) d.msg(4, p => { p.varint(2); p.varint(3) })
            else { d.int(4, 2); d.int(4, 3) }
          })
        })
      })))
      w.bytes
    }
    val expected = Rel.ExtExchange(
      Rel.Read(NamedStruct(Seq("x", "y"), Seq((SType.SI32, true), (SType.SI32, true))),
        Seq("t"), None),
      Seq(SExpr.FieldRef(0), SExpr.FieldRef(1)), 8, shuffle = true,
      Seq(SortDirection.AscNullsLast, SortDirection.DescNullsFirst))
    for (packed <- Seq(false, true))
      assert(Wire.decode(exchange(packed)).relations.head ==
        PlanRel.RelOnly(expected), s"packed=$packed")
  }
}
