package graft.substrait

import java.io.ByteArrayOutputStream
import model._

/** Hand-rolled protobuf wire codec for the Substrait message subset in
  * model.scala. Field numbers follow the public substrait 0.3 .proto files
  * (plan.proto / algebra.proto / type.proto / extensions.proto) — the same
  * wire layout prost encodes for the reference (src/serializer.rs:17-20).
  * Hand-rolled because the offline jar set has no protobuf-java/substrait-java
  * (SURVEY.md §7.3); the subset needs only varint, fixed32/64 and
  * length-delimited framing.
  */
object Wire {

  // ------------------------------------------------------------------ writer
  /** `depth` counts message nesting exactly as the reader does: a
    * sub-message one level deeper, an extension detail payload at its Any's
    * level, a nested iteration body plan one level below its detail. */
  private final class W(val depth: Int) {
    val out = new ByteArrayOutputStream(256)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def int64(f: Int, v: Long): Unit = { tag(f, 0); varint(v) }
    /** proto int32: negative values sign-extend to 10-byte varints. */
    def int32(f: Int, v: Int): Unit = { tag(f, 0); varint(v.toLong) }
    def uint32(f: Int, v: Long): Unit = { tag(f, 0); varint(v) }
    def bool(f: Int, v: Boolean): Unit = { tag(f, 0); varint(if (v) 1 else 0) }
    def fixed32(f: Int, v: Int): Unit = {
      tag(f, 5)
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    def fixed64(f: Int, v: Long): Unit = {
      tag(f, 1)
      var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def bytes(f: Int, v: Array[Byte]): Unit = { tag(f, 2); varint(v.length.toLong); out.write(v) }
    def str(f: Int, v: String): Unit = bytes(f, v.getBytes("UTF-8"))
    def msg(f: Int, body: W => Unit): Unit = {
      if (depth >= MaxNestingDepth)
        internalErr(s"message nesting deeper than $MaxNestingDepth")
      val w = new W(depth + 1); body(w); bytes(f, w.out.toByteArray)
    }
  }

  /** Deepest message nesting `decode` and `encode` accept. A nested-Rel (or
    * nested expression) bomb fails here with `SubstraitException`, not as a
    * `StackOverflowError`: on a 1 MiB thread stack the recursive reader
    * itself overflowed near 1,100 levels. A Rel costs two levels (Rel + its
    * XxxRel), so this admits about 320 nested rels, well above the
    * 128-deep plans ConsumeScalingSpec consumes; an IN list costs three
    * levels per element (a left-deep OR chain). */
  val MaxNestingDepth = 640

  // ------------------------------------------------------------------ reader
  private final class R(val buf: Array[Byte], var pos: Int, val end: Int,
                        val depth: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        if (pos >= end) internalErr("truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) internalErr("varint overflow")
      }
      v
    }
    def fixed32(): Int = {
      checkLen(4)
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def fixed64(): Long = {
      checkLen(8)
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    private def checkLen(len: Int): Unit =
      if (len < 0 || len > end - pos) internalErr(s"truncated message: need $len bytes, have ${end - pos}")
    /** A length prefix, bounded while still a Long: `toInt` first would
      * wrap 2^32 + k to k and mis-parse the rest of the message. */
    private def length(): Int = {
      val len = varint()
      if (len < 0 || len > end - pos)
        internalErr(s"truncated message: length $len at byte offset $pos, have ${end - pos}")
      len.toInt
    }
    def lenDelim(): R = {
      if (depth >= MaxNestingDepth)
        internalErr(s"message nesting deeper than $MaxNestingDepth at byte offset $pos")
      val len = length()
      val r = new R(buf, pos, pos + len, depth + 1); pos += len; r
    }
    def rawBytes(): Array[Byte] = {
      val len = length()
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + len); pos += len; a
    }
    def str(): String = new String(rawBytes(), "UTF-8")
    def skip(wt: Int): Unit = wt match {
      case 0 => varint()
      case 1 => fixed64()
      case 2 => val len = length(); pos += len
      case 5 => fixed32()
      case _ => internalErr(s"unknown wire type $wt")
    }
    /** Iterate (fieldNumber, wireType) handing this reader positioned at the value. */
    def fields(f: (Int, Int) => Boolean): Unit =
      while (hasMore) {
        val t = varint(); val fld = (t >>> 3).toInt; val wt = (t & 7).toInt
        if (!f(fld, wt)) skip(wt)
      }
  }

  // ------------------------------------------------------------------ types
  private def writeKind(w: W, simple: (Int, Int), nullable: Boolean): Unit =
    // simple kinds: {type_variation_reference=1, nullability=2}
    w.msg(simple._1, k => k.int32(2, if (nullable) 1 else 2))

  private def writeType(w: W, f: Int, t: SType, nullable: Boolean): Unit =
    w.msg(f, tw => t match {
      case SType.SBool      => writeKind(tw, (1, 0), nullable)
      case SType.SI8        => writeKind(tw, (2, 0), nullable)
      case SType.SI16       => writeKind(tw, (3, 0), nullable)
      case SType.SI32       => writeKind(tw, (5, 0), nullable)
      case SType.SI64       => writeKind(tw, (7, 0), nullable)
      case SType.SFp32      => writeKind(tw, (10, 0), nullable)
      case SType.SFp64      => writeKind(tw, (11, 0), nullable)
      case SType.SStr       => writeKind(tw, (12, 0), nullable)
      case SType.SBin       => writeKind(tw, (13, 0), nullable)
      case SType.STimestamp   => writeKind(tw, (14, 0), nullable)
      case SType.SDate        => writeKind(tw, (16, 0), nullable)
      case SType.STime        => writeKind(tw, (17, 0), nullable)
      case SType.SIntervalYear => writeKind(tw, (19, 0), nullable)
      case SType.SIntervalDay  => writeKind(tw, (20, 0), nullable)
      case SType.STimestampTz => writeKind(tw, (29, 0), nullable)
      case SType.SDecimal(p, s) =>
        // Decimal{scale=1, precision=2, tvr=3, nullability=4}
        tw.msg(24, d => { d.int32(1, s); d.int32(2, p); d.int32(4, if (nullable) 1 else 2) })
      case SType.SList(e, en) =>
        // List{type=1, tvr=2, nullability=3}
        tw.msg(27, l => { writeType(l, 1, e, en); l.int32(3, if (nullable) 1 else 2) })
      case SType.SMap(k, v, vn) =>
        // Map{key=1, value=2, tvr=3, nullability=4}; map keys are non-null
        tw.msg(28, m => {
          writeType(m, 1, k, nullable = false)
          writeType(m, 2, v, vn)
          m.int32(4, if (nullable) 1 else 2)
        })
      case SType.SStruct(names, fields) =>
        // Struct{types=1, nullability=3; field names in 10 — see model.SStruct}
        tw.msg(25, s => {
          fields.foreach { case (t, n) => writeType(s, 1, t, n) }
          s.int32(3, if (nullable) 1 else 2)
          names.foreach(s.str(10, _))
        })
    })

  private def readType(r: R): (SType, Boolean) = {
    var res: (SType, Boolean) = null
    def simple(t: SType, kr: R): Unit = {
      var nullable = true
      kr.fields { (f, wt) =>
        if (f == 2 && wt == 0) { nullable = kr.varint() == 1L; true } else false
      }
      res = (t, nullable)
    }
    r.fields { (f, wt) =>
      if (wt != 2) false
      else {
        val kr = r.lenDelim()
        f match {
          case 1  => simple(SType.SBool, kr); true
          case 2  => simple(SType.SI8, kr); true
          case 3  => simple(SType.SI16, kr); true
          case 5  => simple(SType.SI32, kr); true
          case 7  => simple(SType.SI64, kr); true
          case 10 => simple(SType.SFp32, kr); true
          case 11 => simple(SType.SFp64, kr); true
          case 12 => simple(SType.SStr, kr); true
          case 13 => simple(SType.SBin, kr); true
          case 14 => simple(SType.STimestamp, kr); true
          case 16 => simple(SType.SDate, kr); true
          case 17 => simple(SType.STime, kr); true
          case 19 => simple(SType.SIntervalYear, kr); true
          case 20 => simple(SType.SIntervalDay, kr); true
          case 29 => simple(SType.STimestampTz, kr); true
          case 24 =>
            var p = 0; var s = 0; var nullable = true
            kr.fields { (df, dwt) => (df, dwt) match {
              case (1, 0) => s = kr.varint().toInt; true
              case (2, 0) => p = kr.varint().toInt; true
              case (4, 0) => nullable = kr.varint() == 1L; true
              case _ => false
            }}
            res = (SType.SDecimal(p, s), nullable); true
          case 27 =>
            var elem: (SType, Boolean) = (SType.SStr, true); var nullable = true
            kr.fields { (lf, lwt) => (lf, lwt) match {
              case (1, 2) => elem = readType(kr.lenDelim()); true
              case (3, 0) => nullable = kr.varint() == 1L; true
              case _ => false
            }}
            res = (SType.SList(elem._1, elem._2), nullable); true
          case 28 =>
            var k: SType = SType.SStr; var v: (SType, Boolean) = (SType.SStr, true)
            var nullable = true
            kr.fields { (mf, mwt) => (mf, mwt) match {
              case (1, 2) => k = readType(kr.lenDelim())._1; true
              case (2, 2) => v = readType(kr.lenDelim()); true
              case (4, 0) => nullable = kr.varint() == 1L; true
              case _ => false
            }}
            res = (SType.SMap(k, v._1, v._2), nullable); true
          case 25 =>
            val fs = Seq.newBuilder[(SType, Boolean)]
            val ns = Seq.newBuilder[String]
            var nullable = true
            kr.fields { (sf, swt) => (sf, swt) match {
              case (1, 2) => fs += readType(kr.lenDelim()); true
              case (3, 0) => nullable = kr.varint() == 1L; true
              case (10, 2) => ns += kr.str(); true
              case _ => false
            }}
            res = (SType.SStruct(ns.result(), fs.result()), nullable); true
          case _ => notImplemented(s"type kind field $f")
        }
      }
    }
    if (res == null) notImplemented("empty Type message")
    res
  }

  /** Names of every struct field nested inside `t`, depth-first — standard
    * substrait flattens ALL struct-field names (including structs inside
    * lists) into the root NamedStruct.names. */
  private def nestedNames(t: SType): Seq[String] = t match {
    case SType.SStruct(names, fields) =>
      names.zip(fields).flatMap { case (n, (ft, _)) => n +: nestedNames(ft) }
    case SType.SList(e, _) => nestedNames(e)
    case _ => Nil
  }

  /** Count of nested struct-field names inside `t` (arity of nestedNames). */
  private def nestedArity(t: SType): Int = t match {
    case SType.SStruct(_, fields) =>
      fields.map { case (ft, _) => 1 + nestedArity(ft) }.sum
    case SType.SList(e, _) => nestedArity(e)
    case _ => 0
  }

  /** Re-assign depth-first flattened names into the SStruct nodes of `t`.
    * `it` is positioned AFTER this field's own name. */
  private def assignNames(t: SType, it: Iterator[String]): SType = t match {
    case SType.SStruct(_, fields) =>
      val rebuilt = fields.map { case (ft, n) =>
        val nm = it.next()
        (nm, (assignNames(ft, it), n))
      }
      SType.SStruct(rebuilt.map(_._1), rebuilt.map(_._2))
    case SType.SList(e, n) => SType.SList(assignNames(e, it), n)
    case other => other
  }

  private def writeNamedStruct(w: W, f: Int, ns: NamedStruct): Unit =
    w.msg(f, nw => {
      // standard substrait: names of nested struct fields flatten depth-first
      // into the root name list (Type.Struct itself is anonymous); graft's
      // field-10 in-struct names remain as a self-describing fallback
      ns.names.zip(ns.types).foreach { case (n, (t, _)) =>
        nw.str(1, n)
        nestedNames(t).foreach(nw.str(1, _))
      }
      nw.msg(2, sw => ns.types.foreach { case (t, n) => writeType(sw, 1, t, n) })
    })

  private def readNamedStruct(r: R): NamedStruct = {
    val names = Seq.newBuilder[String]
    val types = Seq.newBuilder[(SType, Boolean)]
    r.fields { (f, wt) => (f, wt) match {
      case (1, 2) => names += r.str(); true
      case (2, 2) =>
        val sr = r.lenDelim()
        sr.fields { (sf, swt) => (sf, swt) match {
          case (1, 2) => types += readType(sr.lenDelim()); true
          case _ => false
        }}
        true
      case _ => false
    }}
    val ns = names.result(); val ts = types.result()
    val flatTotal = ts.map { case (t, _) => 1 + nestedArity(t) }.sum
    if (ns.length == flatTotal && flatTotal > ts.length) {
      // a conformant producer's flattened name list: peel the top-level
      // names and push the nested ones into their SStruct nodes (overrides
      // any field-10 names, which a foreign producer never sends)
      val it = ns.iterator
      val rebuilt = ts.map { case (t, n) =>
        val top = it.next()
        (top, (assignNames(t, it), n))
      }
      NamedStruct(rebuilt.map(_._1), rebuilt.map(_._2))
    } else NamedStruct(ns, ts)
  }

  // ------------------------------------------------------------- expressions
  private def writeLiteral(w: W, f: Int, v: LitVal): Unit =
    w.msg(f, lw => v match {
      case LitVal.LBool(b)      => lw.bool(1, b)
      case LitVal.LI8(i)        => lw.int32(2, i)
      case LitVal.LI16(i)       => lw.int32(3, i)
      case LitVal.LI32(i)       => lw.int32(5, i)
      case LitVal.LI64(i)       => lw.int64(7, i)
      case LitVal.LFp32(x)      => lw.fixed32(10, java.lang.Float.floatToIntBits(x))
      case LitVal.LFp64(x)      => lw.fixed64(11, java.lang.Double.doubleToLongBits(x))
      case LitVal.LStr(s)       => lw.str(12, s)
      case LitVal.LBin(b)       => lw.bytes(13, b)
      case LitVal.LTimestamp(t)   => lw.int64(14, t)
      case LitVal.LDate(d)        => lw.int32(16, d)
      case LitVal.LTime(us)       => lw.int64(17, us)
      case LitVal.LIntervalYear(y, m) =>
        lw.msg(19, iw => { iw.int32(1, y); iw.int32(2, m) })
      case LitVal.LIntervalDay(d, s, us) =>
        lw.msg(20, iw => { iw.int32(1, d); iw.int32(2, s); iw.int32(3, us) })
      case LitVal.LTimestampTz(t) => lw.int64(27, t)
      case LitVal.LDecimal(bytes, p, s) =>
        lw.msg(24, dw => { dw.bytes(1, bytes); dw.int32(2, p); dw.int32(3, s) })
      case LitVal.LNull(t)      => writeType(lw, 29, t, nullable = true)
      case LitVal.LList(et, vs) =>
        // Literal.list = field 30 (List{repeated Literal values=1}); the
        // element type is NOT on the wire for non-empty lists (a conformant
        // consumer infers it from the values). Empty lists are
        // Literal.empty_list = field 31, a Type.List carrying the type.
        if (vs.isEmpty)
          lw.msg(31, l => { writeType(l, 1, et, nullable = true)
            l.int32(3, 1) })
        else
          lw.msg(30, listw => vs.foreach(writeLiteral(listw, 1, _)))
      case LitVal.LMap(kt, vt, entries) =>
        // Literal.map = field 26 (Map{repeated KeyValue key_values=1});
        // empty maps = Literal.empty_map (field 32, a Type.Map)
        if (entries.isEmpty)
          lw.msg(32, m => {
            writeType(m, 1, kt, nullable = false)
            writeType(m, 2, vt, nullable = true)
            m.int32(4, 1)
          })
        else
          lw.msg(26, mw => entries.foreach { case (k, v) =>
            mw.msg(1, kvw => {
              writeLiteral(kvw, 1, k)
              writeLiteral(kvw, 2, v)
            })
          })
    })

  /** Infer a literal's substrait type — used to recover a list literal's
    * element type on read (the wire does not carry it for non-empty lists). */
  private def litType(v: LitVal): SType = v match {
    case _: LitVal.LBool => SType.SBool
    case _: LitVal.LI8 => SType.SI8
    case _: LitVal.LI16 => SType.SI16
    case _: LitVal.LI32 => SType.SI32
    case _: LitVal.LI64 => SType.SI64
    case _: LitVal.LFp32 => SType.SFp32
    case _: LitVal.LFp64 => SType.SFp64
    case _: LitVal.LStr => SType.SStr
    case _: LitVal.LBin => SType.SBin
    case _: LitVal.LDate => SType.SDate
    case _: LitVal.LTime => SType.STime
    case _: LitVal.LTimestamp => SType.STimestamp
    case _: LitVal.LTimestampTz => SType.STimestampTz
    case _: LitVal.LIntervalYear => SType.SIntervalYear
    case _: LitVal.LIntervalDay => SType.SIntervalDay
    case LitVal.LDecimal(_, p, s) => SType.SDecimal(p, s)
    case LitVal.LNull(t) => t
    case LitVal.LList(et, _) => SType.SList(et, elemNullable = true)
    case LitVal.LMap(kt, vt, _) => SType.SMap(kt, vt, valueNullable = true)
  }

  private def readLiteral(r: R): LitVal = {
    var res: LitVal = null
    r.fields { (f, wt) => (f, wt) match {
      case (1, 0)  => res = LitVal.LBool(r.varint() == 1L); true
      case (2, 0)  => res = LitVal.LI8(r.varint().toInt); true
      case (3, 0)  => res = LitVal.LI16(r.varint().toInt); true
      case (5, 0)  => res = LitVal.LI32(r.varint().toInt); true
      case (7, 0)  => res = LitVal.LI64(r.varint()); true
      case (10, 5) => res = LitVal.LFp32(java.lang.Float.intBitsToFloat(r.fixed32())); true
      case (11, 1) => res = LitVal.LFp64(java.lang.Double.longBitsToDouble(r.fixed64())); true
      case (12, 2) => res = LitVal.LStr(r.str()); true
      case (13, 2) => res = LitVal.LBin(r.rawBytes()); true
      case (14, 0) => res = LitVal.LTimestamp(r.varint()); true
      case (16, 0) => res = LitVal.LDate(r.varint().toInt); true
      case (17, 0) => res = LitVal.LTime(r.varint()); true
      case (19, 2) =>
        val ir = r.lenDelim(); var y = 0; var m = 0
        ir.fields { (f2, w2) => (f2, w2) match {
          case (1, 0) => y = ir.varint().toInt; true
          case (2, 0) => m = ir.varint().toInt; true
          case _ => false
        }}
        res = LitVal.LIntervalYear(y, m); true
      case (20, 2) =>
        val ir = r.lenDelim(); var d = 0; var s = 0; var us = 0
        ir.fields { (f2, w2) => (f2, w2) match {
          case (1, 0) => d = ir.varint().toInt; true
          case (2, 0) => s = ir.varint().toInt; true
          case (3, 0) => us = ir.varint().toInt; true
          case _ => false
        }}
        res = LitVal.LIntervalDay(d, s, us); true
      case (27, 0) => res = LitVal.LTimestampTz(r.varint()); true
      case (24, 2) =>
        val dr = r.lenDelim()
        var bytes = Array.emptyByteArray; var p = 0; var s = 0
        dr.fields { (df, dwt) => (df, dwt) match {
          case (1, 2) => bytes = dr.rawBytes(); true
          case (2, 0) => p = dr.varint().toInt; true
          case (3, 0) => s = dr.varint().toInt; true
          case _ => false
        }}
        res = LitVal.LDecimal(bytes, p, s); true
      case (29, 2) => res = LitVal.LNull(readType(r.lenDelim())._1); true
      case (30, 2) => // Literal.list: List{repeated Literal values=1}
        val lr = r.lenDelim()
        val vs = Seq.newBuilder[LitVal]
        lr.fields { (lf, lwt) => (lf, lwt) match {
          case (1, 2) => vs += readLiteral(lr.lenDelim()); true
          case _ => false
        }}
        val values = vs.result()
        if (values.isEmpty) notImplemented("Literal.list with no values (use empty_list)")
        res = LitVal.LList(litType(values.head), values); true
      case (31, 2) => // Literal.empty_list: Type.List{type=1, nullability=3}
        val lr = r.lenDelim()
        var et: SType = SType.SStr
        lr.fields { (lf, lwt) => (lf, lwt) match {
          case (1, 2) => et = readType(lr.lenDelim())._1; true
          case _ => false
        }}
        res = LitVal.LList(et, Nil); true
      case (26, 2) => // Literal.map: Map{repeated KeyValue{key=1, value=2}}
        val mr = r.lenDelim()
        val es = Seq.newBuilder[(LitVal, LitVal)]
        mr.fields { (mf, mwt) => (mf, mwt) match {
          case (1, 2) =>
            val kv = mr.lenDelim()
            var k: LitVal = null; var v: LitVal = null
            kv.fields { (kf, kwt) => (kf, kwt) match {
              case (1, 2) => k = readLiteral(kv.lenDelim()); true
              case (2, 2) => v = readLiteral(kv.lenDelim()); true
              case _ => false
            }}
            if (k == null || v == null) notImplemented("map KeyValue missing key/value")
            es += ((k, v)); true
          case _ => false
        }}
        val entries = es.result()
        if (entries.isEmpty) notImplemented("Literal.map with no entries (use empty_map)")
        res = LitVal.LMap(litType(entries.head._1), litType(entries.head._2),
          entries); true
      case (32, 2) => // Literal.empty_map: Type.Map{key=1, value=2}
        val mr = r.lenDelim()
        var kt: SType = SType.SStr; var vt: SType = SType.SStr
        mr.fields { (mf, mwt) => (mf, mwt) match {
          case (1, 2) => kt = readType(mr.lenDelim())._1; true
          case (2, 2) => vt = readType(mr.lenDelim())._1; true
          case _ => false
        }}
        res = LitVal.LMap(kt, vt, Nil); true
      case (50, 0) => r.varint(); true // nullable flag — carried by the value
      case _ => false
    }}
    if (res == null) notImplemented("empty Literal")
    res
  }

  private def writeExpr(w: W, f: Int, e: SExpr): Unit =
    w.msg(f, ew => e match {
      case SExpr.Lit(v) => writeLiteral(ew, 1, v)
      case SExpr.FieldRef(i) =>
        // FieldReference{direct_reference=1: ReferenceSegment{struct_field=2: {field=1}}}
        ew.msg(2, fr => fr.msg(1, seg => seg.msg(2, sf => sf.int32(1, i))))
      case SExpr.NestedRef(i, path) =>
        // nested chain: StructField{field, child=2: ReferenceSegment{...}}
        def writeChain(seg: W, idxs: Seq[Int]): Unit =
          seg.msg(2, sf => {
            sf.int32(1, idxs.head)
            if (idxs.tail.nonEmpty) sf.msg(2, child => writeChain(child, idxs.tail))
          })
        ew.msg(2, fr => fr.msg(1, seg => writeChain(seg, i +: path)))
      case SExpr.ScalarFn(ref, args) =>
        ew.msg(3, sw => { sw.uint32(1, ref.toLong); args.foreach(writeExpr(sw, 2, _)) })
      case SExpr.IfThen(clauses, els) =>
        ew.msg(6, iw => {
          clauses.foreach { c =>
            iw.msg(1, cw => {
              writeExpr(cw, 1, c.cond)
              c.thenExpr.foreach(writeExpr(cw, 2, _))
            })
          }
          els.foreach(writeExpr(iw, 2, _))
        })
      case SExpr.Cast(t, nullable, in) =>
        ew.msg(11, cw => { writeType(cw, 1, t, nullable); writeExpr(cw, 2, in) })
      case SExpr.WindowFn(ref, args, parts, sorts, lower, upper, rowFrame) =>
        // Expression.WindowFunction (field 5): function_reference=1,
        // partitions=2, sorts=3, upper_bound=4, lower_bound=5, args=8;
        // field 9 carries the ROWS(1)/RANGE(0) frame kind
        ew.msg(5, ww => {
          ww.uint32(1, ref.toLong)
          parts.foreach(writeExpr(ww, 2, _))
          sorts.foreach(writeSortField(ww, 3, _))
          writeBound(ww, 4, upper)
          writeBound(ww, 5, lower)
          args.foreach(writeExpr(ww, 8, _))
          ww.int32(9, if (rowFrame) 1 else 0)
        })
    })

  private def writeBound(w: W, f: Int, b: WBound): Unit =
    // Bound: preceding=1{offset=1} following=2{offset=1} current_row=3 unbounded=4
    w.msg(f, bw => b match {
      case WBound.Preceding(n) => bw.msg(1, pw => pw.int64(1, n))
      case WBound.Following(n) => bw.msg(2, pw => pw.int64(1, n))
      case WBound.CurrentRow => bw.msg(3, _ => ())
      case WBound.Unbounded => bw.msg(4, _ => ())
    })

  private def readBound(r: R): WBound = {
    var res: WBound = WBound.Unbounded
    r.fields { (f, wt) =>
      if (wt != 2) false
      else {
        val br = r.lenDelim()
        f match {
          case 1 =>
            var n = 0L
            br.fields { (bf, bwt) => (bf, bwt) match {
              case (1, 0) => n = br.varint(); true
              case _ => false
            }}
            res = WBound.Preceding(n); true
          case 2 =>
            var n = 0L
            br.fields { (bf, bwt) => (bf, bwt) match {
              case (1, 0) => n = br.varint(); true
              case _ => false
            }}
            res = WBound.Following(n); true
          case 3 => res = WBound.CurrentRow; true
          case 4 => res = WBound.Unbounded; true
          case _ => false
        }
      }
    }
    res
  }

  private def readFieldRef(r: R): SExpr = {
    // ReferenceSegment.StructField{field=1, child=2: ReferenceSegment}:
    // the outermost segment is the top-level column ordinal, each child
    // descends one struct level (spec-conformant nested references — the
    // reference rejects the child chain at consumer.rs:451-454)
    val chain = Seq.newBuilder[Int]
    def readSegment(sr: R): Unit =
      sr.fields { (f, wt) => (f, wt) match {
        case (2, 2) => // struct_field
          // proto3 conformance: a canonical encoder (prost/protobuf-java)
          // OMITS zero-valued scalar fields, so StructField{field: 0} —
          // a reference to column 0 — arrives as an EMPTY message. The
          // index defaults to 0 and the child is appended AFTER this
          // level's index regardless of field order inside the message.
          val fr = sr.lenDelim()
          var idx = 0
          var child: Option[R] = None
          fr.fields { (ff, fwt) => (ff, fwt) match {
            case (1, 0) => idx = fr.varint().toInt; true
            case (2, 2) => child = Some(fr.lenDelim()); true
            case _ => false
          }}
          chain += idx
          child.foreach(readSegment)
          true
        case _ => notImplemented(s"reference segment kind $f")
      }}
    r.fields { (f, wt) => (f, wt) match {
      case (1, 2) => readSegment(r.lenDelim()); true
      case (4, 2) => r.lenDelim(); true // root_reference — ignored
      case _ => false
    }}
    chain.result() match {
      case Seq() => notImplemented("field reference without struct_field index")
      case Seq(i) => SExpr.FieldRef(i)
      case i +: path => SExpr.NestedRef(i, path)
    }
  }

  private def readExpr(r: R): SExpr = {
    var res: SExpr = null
    r.fields { (f, wt) =>
      if (wt != 2) false
      else {
        val er = r.lenDelim()
        f match {
          case 1 => res = SExpr.Lit(readLiteral(er)); true
          case 2 => res = readFieldRef(er); true
          case 5 =>
            var ref = 0 // anchor 0 is omitted by proto3-canonical encoders
            val parts = Seq.newBuilder[SExpr]; val sorts = Seq.newBuilder[SortField]
            val args = Seq.newBuilder[SExpr]
            var upper: WBound = WBound.Unbounded; var lower: WBound = WBound.Unbounded
            var rowFrame = false
            er.fields { (wf, wwt) => (wf, wwt) match {
              case (1, 0) => ref = er.varint().toInt; true
              case (2, 2) => parts += readExpr(er.lenDelim()); true
              case (3, 2) => sorts += readSortField(er.lenDelim()); true
              case (4, 2) => upper = readBound(er.lenDelim()); true
              case (5, 2) => lower = readBound(er.lenDelim()); true
              case (8, 2) => args += readExpr(er.lenDelim()); true
              case (9, 0) => rowFrame = er.varint() == 1L; true
              case _ => false
            }}
            res = SExpr.WindowFn(ref, args.result(), parts.result(), sorts.result(),
              lower, upper, rowFrame); true
          case 3 =>
            // function_reference defaults to 0, not -1: anchors are dense
            // from 0 and a proto3-canonical encoder omits the field for
            // anchor 0 entirely
            var ref = 0; val args = Seq.newBuilder[SExpr]
            er.fields { (sf, swt) => (sf, swt) match {
              case (1, 0) => ref = er.varint().toInt; true
              case (2, 2) => args += readExpr(er.lenDelim()); true
              case _ => false
            }}
            res = SExpr.ScalarFn(ref, args.result()); true
          case 6 =>
            val clauses = Seq.newBuilder[IfClause]; var els: Option[SExpr] = None
            er.fields { (sf, swt) => (sf, swt) match {
              case (1, 2) =>
                val cr = er.lenDelim()
                var cond: SExpr = null; var thenE: Option[SExpr] = None
                cr.fields { (cf, cwt) => (cf, cwt) match {
                  case (1, 2) => cond = readExpr(cr.lenDelim()); true
                  case (2, 2) => thenE = Some(readExpr(cr.lenDelim())); true
                  case _ => false
                }}
                clauses += IfClause(cond, thenE); true
              case (2, 2) => els = Some(readExpr(er.lenDelim())); true
              case _ => false
            }}
            res = SExpr.IfThen(clauses.result(), els); true
          case 11 =>
            var t: (SType, Boolean) = null; var in: SExpr = null
            er.fields { (cf, cwt) => (cf, cwt) match {
              case (1, 2) => t = readType(er.lenDelim()); true
              case (2, 2) => in = readExpr(er.lenDelim()); true
              case _ => false
            }}
            res = SExpr.Cast(t._1, t._2, in); true
          case other => notImplemented(s"expression rex_type field $other")
        }
      }
    }
    if (res == null) notImplemented("empty Expression")
    res
  }

  // --------------------------------------------------------------- relations
  private def writeSortField(w: W, f: Int, s: SortField): Unit =
    w.msg(f, sw => { writeExpr(sw, 1, s.expr); sw.int32(2, s.direction) })

  private def readSortField(r: R): SortField = {
    var e: SExpr = null; var dir = 0
    r.fields { (f, wt) => (f, wt) match {
      case (1, 2) => e = readExpr(r.lenDelim()); true
      case (2, 0) => dir = r.varint().toInt; true
      case (3, 0) => notImplemented("comparison-function sort")
      case _ => false
    }}
    SortField(e, dir)
  }

  private def writeAggFunction(w: W, f: Int, a: AggFunction): Unit =
    w.msg(f, aw => {
      aw.uint32(1, a.functionReference.toLong)
      a.args.foreach(writeExpr(aw, 2, _))
      aw.int32(4, 0) // phase = AGGREGATION_PHASE_UNSPECIFIED (producer.rs:357)
      aw.int32(6, a.invocation)
    })

  private def readAggFunction(r: R): AggFunction = {
    // ref defaults 0 (anchor 0 is omitted by proto3-canonical encoders)
    var ref = 0; val args = Seq.newBuilder[SExpr]; var inv = 0
    r.fields { (f, wt) => (f, wt) match {
      case (1, 0) => ref = r.varint().toInt; true
      case (2, 2) => args += readExpr(r.lenDelim()); true
      case (4, 0) => r.varint(); true // phase
      case (6, 0) => inv = r.varint().toInt; true
      case _ => false
    }}
    AggFunction(ref, args.result(), inv)
  }

  private def writeRel(w: W, f: Int, rel: Rel): Unit =
    w.msg(f, rw => rel match {
      case Rel.Read(schema, names, proj, filter, vrows, localFiles) =>
        rw.msg(1, readW => {
          writeNamedStruct(readW, 2, schema)
          filter.foreach(writeExpr(readW, 3, _))
          proj.foreach { idxs =>
            readW.msg(4, mw => mw.msg(1, sel =>
              idxs.foreach(i => sel.msg(1, item => item.int32(1, i)))))
          }
          (vrows, localFiles) match {
            // VirtualTable (field 5): values = repeated Literal.Struct, each
            // row a struct literal whose fields are the cell literals
            case (Some(rows), _) =>
              readW.msg(5, vt => rows.foreach(row =>
                vt.msg(1, st => row.foreach(writeLiteral(st, 1, _)))))
            // LocalFiles (field 6): items = repeated FileOrFiles with the
            // path in its original oneof slot and an empty format options
            // message selecting the format
            case (None, Some(items)) =>
              readW.msg(6, lf => items.foreach(item =>
                lf.msg(1, it => {
                  it.str(item.pathKind, item.path)
                  item.format match {
                    case "parquet" => it.msg(9, _ => ())
                    case "orc" => it.msg(11, _ => ())
                    case "csv" => it.msg(14, tw => {
                      item.csvDelimiter.foreach(tw.str(1, _))
                      if (item.csvHeaderLines != 0L)
                        tw.int64(4, item.csvHeaderLines)
                    })
                    case other => notImplemented(s"LocalFiles format $other")
                  }
                })))
            case (None, None) =>
              readW.msg(7, nt => names.foreach(nt.str(1, _)))
          }
        })
      case Rel.Filter(in, cond) =>
        rw.msg(2, fw => { writeRel(fw, 2, in); writeExpr(fw, 3, cond) })
      case Rel.Fetch(in, off, cnt) =>
        rw.msg(3, fw => { writeRel(fw, 2, in); fw.int64(3, off); fw.int64(4, cnt) })
      case Rel.Aggregate(in, groupings, measures) =>
        rw.msg(4, aw => {
          writeRel(aw, 2, in)
          groupings.foreach(g => aw.msg(3, gw => g.foreach(writeExpr(gw, 1, _))))
          measures.foreach { m =>
            aw.msg(4, mw => {
              writeAggFunction(mw, 1, m.function)
              m.filter.foreach(writeExpr(mw, 2, _))
            })
          }
        })
      case Rel.Sort(in, sorts) =>
        rw.msg(5, sw => { writeRel(sw, 2, in); sorts.foreach(writeSortField(sw, 3, _)) })
      case Rel.Join(l, r, e, jt) =>
        rw.msg(6, jw => {
          writeRel(jw, 2, l); writeRel(jw, 3, r)
          writeExpr(jw, 4, e); jw.int32(6, jt)
        })
      case Rel.Project(in, exprs) =>
        rw.msg(7, pw => { writeRel(pw, 2, in); exprs.foreach(writeExpr(pw, 3, _)) })
      case Rel.Set(inputs, op) =>
        rw.msg(8, sw => { inputs.foreach(writeRel(sw, 2, _)); sw.int32(3, op) })
      case Rel.Cross(l, r) =>
        rw.msg(12, cw => { writeRel(cw, 2, l); writeRel(cw, 3, r) })
      case Rel.ExtGenerate(in, gen, arg, outer, k) =>
        // ExtensionSingleRel{input=2, detail=3: Any{type_url=1, value=2}};
        // value = GenerateRelDetail{generator=1, arg=2, outer=3, gen_arity=4}
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, generateDetailUrl)
            val dw = new W(any.depth)
            dw.str(1, gen)
            writeExpr(dw, 2, arg)
            dw.bool(3, outer)
            dw.int32(4, k)
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtExchange(in, exprs, num, shuffle, rangeDirs) =>
        // value = ExchangeRelDetail{exprs=1 repeated, num_partitions=2,
        // shuffle=3, range_directions=4 repeated (SortDirection per expr)}
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, exchangeDetailUrl)
            val dw = new W(any.depth)
            exprs.foreach(writeExpr(dw, 1, _))
            dw.int32(2, num)
            dw.bool(3, shuffle)
            rangeDirs.foreach(dw.int32(4, _))
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtSample(in, lo, hi, wr, seed) =>
        // value = SampleRelDetail{lower=1 fixed64, upper=2 fixed64,
        // with_replacement=3, seed=4}
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, sampleDetailUrl)
            val dw = new W(any.depth)
            dw.fixed64(1, java.lang.Double.doubleToLongBits(lo))
            dw.fixed64(2, java.lang.Double.doubleToLongBits(hi))
            dw.bool(3, wr)
            dw.int64(4, seed)
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtStage(in, stage) =>
        // value = StageRelDetail{stage=1 string} (resolution via Stages)
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, stageDetailUrl)
            val dw = new W(any.depth)
            dw.str(1, stage)
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtSessionWindow(in, tsField, gapMicros, gapExpr) =>
        // value = SessionWindowRelDetail{ts_field=1 int32, gap_micros=2
        // int64, gap_expr=3 Expression (dynamic per-row gap, string-typed)}
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, sessionWindowDetailUrl)
            val dw = new W(any.depth)
            dw.int32(1, tsField)
            dw.int64(2, gapMicros)
            gapExpr.foreach(writeExpr(dw, 3, _))
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtHint(in, hint) =>
        // value = HintRelDetail{hint=1 string}; semantically a no-op for
        // foreign consumers (placement advice only)
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, hintDetailUrl)
            val dw = new W(any.depth)
            dw.str(1, hint)
            any.bytes(2, dw.out.toByteArray)
          })
        })
      case Rel.ExtIteration(in, bodyPlan, maxIters, checkFixpoint, requireFp) =>
        // value = IterationRelDetail{body_plan=1 bytes (a COMPLETE nested
        // Plan, self-describing with its own extension anchors),
        // max_iters=2 int32, check_fixpoint=3 bool, require_fixpoint=4 bool}
        rw.msg(9, ew => {
          writeRel(ew, 2, in)
          ew.msg(3, any => {
            any.str(1, iterationDetailUrl)
            val dw = new W(any.depth)
            dw.bytes(1, encode(bodyPlan, dw.depth + 1))
            dw.int32(2, maxIters)
            dw.bool(3, checkFixpoint)
            // proto3 canonical: a false bool is omitted (decode default is
            // false, so a proto3-strict peer that never writes the field
            // still roundtrips — the r10 default-omission bug class)
            if (requireFp) dw.bool(4, requireFp)
            any.bytes(2, dw.out.toByteArray)
          })
        })
    })

  /** Any.type_url for graft's Generate extension rel detail. */
  val generateDetailUrl = "graft.dev/GenerateRelDetail"
  /** Any.type_url for graft's Exchange (hash repartition) detail. */
  val exchangeDetailUrl = "graft.dev/ExchangeRelDetail"
  /** Any.type_url for graft's Sample detail. */
  val sampleDetailUrl = "graft.dev/SampleRelDetail"
  /** Any.type_url for graft's named typed-stage detail. */
  val stageDetailUrl = "graft.dev/StageRelDetail"

  /** Any.type_url for graft's join-strategy-hint extension rel detail. */
  val hintDetailUrl = "graft.dev/HintRelDetail"

  /** Any.type_url for graft's session-window extension rel detail. */
  val sessionWindowDetailUrl = "graft.dev/SessionWindowRelDetail"

  /** Any.type_url for graft's bounded-iteration extension rel detail. */
  val iterationDetailUrl = "graft.dev/IterationRelDetail"

  /** RelCommon{emit=2{repeated int32 output_mapping=1}} → the mapping.
    * direct=1 (or absent) means identity output. */
  private def readCommonEmit(cr: R): Option[Seq[Int]] = {
    var mapping: Option[Seq[Int]] = None
    cr.fields { (f, wt) => (f, wt) match {
      case (2, 2) =>
        val er = cr.lenDelim()
        val idxs = Seq.newBuilder[Int]
        er.fields { (ef, ewt) => (ef, ewt) match {
          case (1, 0) => idxs += er.varint().toInt; true
          case (1, 2) => // packed repeated int32
            val pr = er.lenDelim()
            while (pr.hasMore) idxs += pr.varint().toInt
            true
          case _ => false
        }}
        mapping = Some(idxs.result()); true
      case _ => false
    }}
    mapping
  }

  private def readRel(r: R): Rel = {
    var res: Rel = null
    var emit: Option[Seq[Int]] = None
    r.fields { (f, wt) =>
      if (wt != 2) false
      else {
        val rr = r.lenDelim()
        f match {
          case 1 => // ReadRel
            var schema: NamedStruct = null; var names: Seq[String] = Nil
            var proj: Option[Seq[Int]] = None
            var filt: Option[SExpr] = None
            var bestEffort: Option[SExpr] = None
            var vrows: Option[Seq[Seq[LitVal]]] = None
            var localItems: Option[Seq[FileItem]] = None
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => schema = readNamedStruct(rr.lenDelim()); true
              case (3, 2) => filt = Some(readExpr(rr.lenDelim())); true
              case (11, 2) => bestEffort = Some(readExpr(rr.lenDelim())); true
              case (5, 2) =>
                val vt = rr.lenDelim()
                val rows = Seq.newBuilder[Seq[LitVal]]
                vt.fields { (vf, vwt) => (vf, vwt) match {
                  case (1, 2) =>
                    val st = vt.lenDelim()
                    val cells = Seq.newBuilder[LitVal]
                    st.fields { (sf, swt) => (sf, swt) match {
                      case (1, 2) => cells += readLiteral(st.lenDelim()); true
                      case _ => false
                    }}
                    rows += cells.result(); true
                  case _ => false
                }}
                vrows = Some(rows.result()); true
              case (4, 2) =>
                val mr = rr.lenDelim(); val idxs = Seq.newBuilder[Int]
                mr.fields { (mf, mwt) => (mf, mwt) match {
                  case (1, 2) =>
                    val sel = mr.lenDelim()
                    sel.fields { (sf, swt) => (sf, swt) match {
                      case (1, 2) =>
                        // each StructItem contributes EXACTLY one index;
                        // proto3-canonical encoders omit field=0, so an
                        // empty item means "column 0" — dropping it would
                        // silently shift the whole projection
                        val item = sel.lenDelim()
                        var ix = 0
                        item.fields { (itf, itwt) => (itf, itwt) match {
                          case (1, 0) => ix = item.varint().toInt; true
                          case _ => false
                        }}
                        idxs += ix
                        true
                      case _ => false
                    }}
                    true
                  case _ => false
                }}
                proj = Some(idxs.result()); true
              case (7, 2) =>
                val nt = rr.lenDelim(); val ns = Seq.newBuilder[String]
                nt.fields { (nf, nwt) => (nf, nwt) match {
                  case (1, 2) => ns += nt.str(); true
                  case _ => false
                }}
                names = ns.result(); true
              case (6, 2) => // LocalFiles{items=1 repeated FileOrFiles}
                val lf = rr.lenDelim()
                val items = Seq.newBuilder[FileItem]
                lf.fields { (lff, lfwt) => (lff, lfwt) match {
                  case (1, 2) =>
                    val it = lf.lenDelim()
                    var path: String = null; var kind = 0; var fmt: String = null
                    var delim: Option[String] = None; var headerLines = 0L
                    it.fields { (itf, itwt) => (itf, itwt) match {
                      // oneof path_type: uri_path=1 / glob=2 / file=3 / folder=4
                      case (pf, 2) if pf >= 1 && pf <= 4 && path == null =>
                        path = it.str(); kind = pf; true
                      case (6, 0) => it.varint(); true // partition_index: ignored
                      case (7, 0) | (8, 0) =>
                        // sub-file byte ranges have no public DataFrameReader
                        // form — a silent whole-file read would duplicate rows
                        if (it.varint() != 0L)
                          notImplemented("LocalFiles start/length byte ranges")
                        true
                      // oneof file_format: parquet=9 / arrow=10 / orc=11 /
                      // extension=12 / dwrf=13 / text=14
                      case (9, 2) => it.lenDelim().fields((_, _) => false); fmt = "parquet"; true
                      case (11, 2) => it.lenDelim().fields((_, _) => false); fmt = "orc"; true
                      case (14, 2) =>
                        // DelimiterSeparatedTextReadOptions{field_delimiter=1,
                        // max_line_size=2, quote=3, header_lines_to_skip=4, ...}
                        val tr = it.lenDelim()
                        tr.fields { (tf, twt) => (tf, twt) match {
                          case (1, 2) => delim = Some(tr.str()); true
                          case (4, 0) => headerLines = tr.varint(); true
                          case _ => false
                        }}
                        fmt = "csv"; true
                      case (10, 2) | (12, 2) | (13, 2) =>
                        notImplemented("LocalFiles arrow/extension/dwrf formats")
                      case _ => false
                    }}
                    if (path == null) notImplemented("LocalFiles item without a path")
                    if (fmt == null) notImplemented("LocalFiles item without a file format")
                    items += FileItem(path, kind, fmt, delim, headerLines); true
                  case _ => false
                }}
                localItems = Some(items.result()); true
              case (8, 2) =>
                notImplemented("ReadRel/ExtensionTable reads are not supported")
              case _ => false
            }}
            if (names.isEmpty && vrows.isEmpty && localItems.isEmpty)
              notImplemented("ReadRel without NamedTable, VirtualTable, or LocalFiles")
            // best_effort_filter (newer producers): a consumer MAY apply it —
            // graft applies it exactly. Combining it with a separate exact
            // filter would need an `and` anchor this layer can't mint, so
            // that (rare) combination stays a loud reject.
            val scanFilter = (filt, bestEffort) match {
              case (Some(_), Some(_)) =>
                notImplemented("ReadRel with both filter and best_effort_filter")
              case (f, b) => f.orElse(b)
            }
            res = Rel.Read(schema, names, proj, scanFilter, vrows, localItems); true
          case 2 =>
            var in: Rel = null; var cond: SExpr = null
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 2) => cond = readExpr(rr.lenDelim()); true
              case _ => false
            }}
            res = Rel.Filter(in, cond); true
          case 3 =>
            var in: Rel = null; var off = 0L; var cnt = 0L
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 0) => off = rr.varint(); true
              case (4, 0) => cnt = rr.varint(); true
              case _ => false
            }}
            res = Rel.Fetch(in, off, cnt); true
          case 4 =>
            var in: Rel = null
            val groupings = Seq.newBuilder[Seq[SExpr]]
            val measures = Seq.newBuilder[Measure]
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 2) =>
                val gr = rr.lenDelim(); val ges = Seq.newBuilder[SExpr]
                gr.fields { (gf, gwt) => (gf, gwt) match {
                  case (1, 2) => ges += readExpr(gr.lenDelim()); true
                  case _ => false
                }}
                groupings += ges.result(); true
              case (4, 2) =>
                val mr = rr.lenDelim()
                var fn: AggFunction = null; var filter: Option[SExpr] = None
                mr.fields { (mf, mwt) => (mf, mwt) match {
                  case (1, 2) => fn = readAggFunction(mr.lenDelim()); true
                  case (2, 2) => filter = Some(readExpr(mr.lenDelim())); true
                  case _ => false
                }}
                measures += Measure(fn, filter); true
              case _ => false
            }}
            res = Rel.Aggregate(in, groupings.result(), measures.result()); true
          case 5 =>
            var in: Rel = null; val sorts = Seq.newBuilder[SortField]
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 2) => sorts += readSortField(rr.lenDelim()); true
              case _ => false
            }}
            res = Rel.Sort(in, sorts.result()); true
          case 6 =>
            var l: Rel = null; var rt: Rel = null; var e: SExpr = null; var jt = 0
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => l = readRel(rr.lenDelim()); true
              case (3, 2) => rt = readRel(rr.lenDelim()); true
              case (4, 2) => e = readExpr(rr.lenDelim()); true
              case (6, 0) => jt = rr.varint().toInt; true
              case _ => false
            }}
            res = Rel.Join(l, rt, e, jt); true
          case 7 =>
            var in: Rel = null; val exprs = Seq.newBuilder[SExpr]
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 2) => exprs += readExpr(rr.lenDelim()); true
              case _ => false
            }}
            res = Rel.Project(in, exprs.result()); true
          case 8 =>
            val inputs = Seq.newBuilder[Rel]; var op = 0
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => inputs += readRel(rr.lenDelim()); true
              case (3, 0) => op = rr.varint().toInt; true
              case _ => false
            }}
            res = Rel.Set(inputs.result(), op); true
          case 12 =>
            var l: Rel = null; var rt: Rel = null
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => l = readRel(rr.lenDelim()); true
              case (3, 2) => rt = readRel(rr.lenDelim()); true
              case _ => false
            }}
            res = Rel.Cross(l, rt); true
          case 9 => // ExtensionSingleRel
            var in: Rel = null
            var url = ""; var detail: Array[Byte] = null
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => emit = readCommonEmit(rr.lenDelim()); true
              case (2, 2) => in = readRel(rr.lenDelim()); true
              case (3, 2) =>
                val ar = rr.lenDelim()
                ar.fields { (af, awt) => (af, awt) match {
                  case (1, 2) => url = ar.str(); true
                  case (2, 2) => detail = ar.rawBytes(); true
                  case _ => false
                }}
                true
              case _ => false
            }}
            res = url match {
              case `generateDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                var gen = ""; var arg: SExpr = null; var outer = false; var k = 1
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 2) => gen = dr.str(); true
                  case (2, 2) => arg = readExpr(dr.lenDelim()); true
                  case (3, 0) => outer = dr.varint() == 1L; true
                  case (4, 0) => k = dr.varint().toInt; true
                  case _ => false
                }}
                Rel.ExtGenerate(in, gen, arg, outer, k)
              case `exchangeDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                val exprs = Seq.newBuilder[SExpr]; var num = 0; var sh = true
                val dirs = Seq.newBuilder[Int]
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 2) => exprs += readExpr(dr.lenDelim()); true
                  case (2, 0) => num = dr.varint().toInt; true
                  case (3, 0) => sh = dr.varint() == 1L; true
                  case (4, 0) => dirs += dr.varint().toInt; true
                  case _ => false
                }}
                Rel.ExtExchange(in, exprs.result(), num, sh, dirs.result())
              case `sampleDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                var lo = 0.0; var hi = 1.0; var wr = false; var seed = 0L
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 1) => lo = java.lang.Double.longBitsToDouble(dr.fixed64()); true
                  case (2, 1) => hi = java.lang.Double.longBitsToDouble(dr.fixed64()); true
                  case (3, 0) => wr = dr.varint() == 1L; true
                  case (4, 0) => seed = dr.varint(); true
                  case _ => false
                }}
                Rel.ExtSample(in, lo, hi, wr, seed)
              case `stageDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                var stage = ""
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 2) => stage = dr.str(); true
                  case _ => false
                }}
                Rel.ExtStage(in, stage)
              case `iterationDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                var bodyPlan: Plan = null; var maxIters = 0
                var checkFixpoint = false; var requireFp = false
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 2) => bodyPlan = decode(dr.rawBytes(), dr.depth + 1); true
                  case (2, 0) => maxIters = dr.varint().toInt; true
                  case (3, 0) => checkFixpoint = dr.varint() == 1L; true
                  case (4, 0) => requireFp = dr.varint() == 1L; true
                  case _ => false
                }}
                if (bodyPlan == null)
                  notImplemented("IterationRelDetail without a body plan")
                Rel.ExtIteration(in, bodyPlan, maxIters, checkFixpoint,
                  requireFp)
              case `sessionWindowDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                // ts_field defaults 0 (column 0 is a legal ts position and
                // proto3-canonical encoders omit zero-valued fields)
                var tsField = 0; var gapMicros = 0L
                var gapExpr: Option[SExpr] = None
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 0) => tsField = dr.varint().toInt; true
                  case (2, 0) => gapMicros = dr.varint(); true
                  case (3, 2) => gapExpr = Some(readExpr(dr.lenDelim())); true
                  case _ => false
                }}
                Rel.ExtSessionWindow(in, tsField, gapMicros, gapExpr)
              case `hintDetailUrl` =>
                val dr = new R(detail, 0, detail.length, rr.depth + 1)
                var hint = ""
                dr.fields { (df, dwt) => (df, dwt) match {
                  case (1, 2) => hint = dr.str(); true
                  case _ => false
                }}
                Rel.ExtHint(in, hint)
              case other =>
                notImplemented(s"extension_single rel with foreign detail '$other'")
            }
            true
          case other => notImplemented(s"rel_type field $other")
        }
      }
    }
    if (res == null) notImplemented("empty Rel")
    // RelCommon.emit (a foreign producer's inline output mapping — graft's
    // own producer always emits `direct`): resolve to a plain Project. On a
    // ProjectRel the mapping indexes the CONCATENATED (input ++ expressions)
    // space per the substrait spec; on every other rel it indexes the rel's
    // own output.
    emit match {
      case Some(mapping) =>
        res match {
          case Rel.Project(in, exprs) =>
            val inA = Rel.arity(in)
            if (inA < 0) notImplemented("emit on a project with unknowable input arity")
            Rel.Project(in, mapping.map { i =>
              if (i < inA) SExpr.FieldRef(i)
              else if (i - inA < exprs.size) exprs(i - inA)
              else notImplemented(s"emit index $i beyond input+expressions")
            })
          case other => Rel.Project(other, mapping.map(SExpr.FieldRef(_)))
        }
      case None => res
    }
  }

  // -------------------------------------------------------------------- plan
  def encode(plan: Plan): Array[Byte] = encode(plan, 0)

  private def encode(plan: Plan, depth: Int): Array[Byte] = {
    val w = new W(depth)
    plan.extensions.foreach { ext =>
      // SimpleExtensionDeclaration{extension_function=3:{uri_ref=1, anchor=2, name=3}}
      w.msg(2, dw => dw.msg(3, fw => {
        fw.uint32(1, ext.extensionUriReference)
        fw.uint32(2, ext.functionAnchor.toLong)
        fw.str(3, ext.name)
      }))
    }
    plan.relations.foreach {
      case PlanRel.RelOnly(rel) => w.msg(3, pw => writeRel(pw, 1, rel))
      case PlanRel.Root(input, names) =>
        w.msg(3, pw => pw.msg(2, rw => {
          writeRel(rw, 1, input)
          names.foreach(rw.str(2, _))
        }))
    }
    w.out.toByteArray
  }

  def decode(bytes: Array[Byte]): Plan = decode(bytes, 0)

  private def decode(bytes: Array[Byte], depth: Int): Plan = {
    val r = new R(bytes, 0, bytes.length, depth)
    val exts = Seq.newBuilder[ExtensionFunction]
    val rels = Seq.newBuilder[PlanRel]
    r.fields { (f, wt) => (f, wt) match {
      case (2, 2) =>
        val dr = r.lenDelim()
        dr.fields { (df, dwt) => (df, dwt) match {
          case (3, 2) =>
            val fr = dr.lenDelim()
            var uri = 0L; var anchor = 0; var name = ""
            fr.fields { (ff, fwt) => (ff, fwt) match {
              case (1, 0) => uri = fr.varint(); true
              case (2, 0) => anchor = fr.varint().toInt; true
              case (3, 2) => name = fr.str(); true
              case _ => false
            }}
            exts += ExtensionFunction(uri, anchor, name); true
          case (1, 2) | (2, 2) =>
            notImplemented("non-function extension declaration")
          case _ => false
        }}
        true
      case (3, 2) =>
        val pr = r.lenDelim()
        pr.fields { (pf, pwt) => (pf, pwt) match {
          case (1, 2) => rels += PlanRel.RelOnly(readRel(pr.lenDelim())); true
          case (2, 2) =>
            val rr = pr.lenDelim()
            var input: Rel = null; val names = Seq.newBuilder[String]
            rr.fields { (rf, rwt) => (rf, rwt) match {
              case (1, 2) => input = readRel(rr.lenDelim()); true
              case (2, 2) => names += rr.str(); true
              case _ => false
            }}
            rels += PlanRel.Root(input, names.result()); true
          case _ => false
        }}
        true
      case _ => false
    }}
    Plan(exts.result(), rels.result())
  }
}
