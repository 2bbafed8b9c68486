package graft.substrait

import model._
import WireCodec._

/** Protobuf wire codec for the Substrait message subset in model.scala,
  * declared once as the message table below: each message lists its field
  * numbers, names, cardinalities and defaults, and `encode` and `decode` are
  * both derived from that table by the [[WireCodec]] combinators. Field
  * numbers follow the public substrait 0.3 .proto files (plan.proto /
  * algebra.proto / type.proto / extensions.proto) — the same wire layout
  * prost encodes for the reference (src/serializer.rs:17-20). Hand-rolled
  * because the offline jar set has no protobuf-java/substrait-java (SURVEY.md
  * §7.3). What is semantics rather than layout (nested-name flattening, list
  * and map literal types, `emit`, the best-effort filter, the LocalFiles
  * checks) stays in plain functions next to the table. A plan `decode`
  * cannot read fails with a [[model.WireDecodeError]] naming the byte offset
  * and the field path.
  */
object Wire {

  def encode(plan: Plan): Array[Byte] = planMsg.toBytes(plan, 0)

  def decode(bytes: Array[Byte]): Plan = WireCodec.decode(planMsg, bytes, "plan")

  /** Deepest message nesting `decode` and `encode` accept. A nested-Rel (or
    * nested expression) bomb fails here with `SubstraitException`, not as a
    * `StackOverflowError`: on a 1 MiB thread stack the recursive reader
    * itself overflowed near 1,100 levels. A Rel costs two levels (Rel + its
    * XxxRel), so this admits about 320 nested rels, well above the
    * 128-deep plans ConsumeScalingSpec consumes; an IN list costs three
    * levels per element (a left-deep OR chain). */
  val MaxNestingDepth = 640

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

  // ------------------------------------------------------------------ types
  /** Nullability enum: NULLABLE=1, REQUIRED=2; absent reads as nullable. */
  private def nullability(num: Int): Part[Boolean] =
    field(num, "nullability", int32.map(_ == 1)(if (_) 1 else 2), true)
  /** What an absent element, key or value type reads as. */
  private val AbsentType: (SType, Boolean) = (SType.SStr, true)

  /** Type.List{type=1, nullability=3}. */
  private lazy val listType = msg(field(1, "type", tpe, AbsentType), nullability(3))
  /** Type.Map{key=1, value=2, nullability=4}. */
  private lazy val mapType =
    msg(field(1, "key", tpe, AbsentType), field(2, "value", tpe, AbsentType), nullability(4))

  /** Type{kind}: a type with its nullability. */
  private lazy val tpe: Msg[(SType, Boolean)] = msg(new OneOf[(SType, Boolean)]("kind") {
    override protected def key(v: (SType, Boolean)): Any = v._1.getClass
    // simple kinds: {type_variation_reference=1, nullability=2}
    private def simple(num: Int, name: String, t: SType): Unit =
      br(num, name, msg(nullability(2)))((t, _)) { case (`t`, n) => n }
    simple(1, "bool", SType.SBool); simple(2, "i8", SType.SI8)
    simple(3, "i16", SType.SI16); simple(5, "i32", SType.SI32)
    simple(7, "i64", SType.SI64); simple(10, "fp32", SType.SFp32)
    simple(11, "fp64", SType.SFp64); simple(12, "string", SType.SStr)
    simple(13, "binary", SType.SBin); simple(14, "timestamp", SType.STimestamp)
    simple(16, "date", SType.SDate); simple(17, "time", SType.STime)
    simple(19, "interval_year", SType.SIntervalYear)
    simple(20, "interval_day", SType.SIntervalDay)
    simple(29, "timestamp_tz", SType.STimestampTz)
    br(24, "decimal", msg(field(1, "scale", int32, 0), field(2, "precision", int32, 0),
        nullability(4))) { case (s, p, n) => (SType.SDecimal(p, s), n) } {
      case (SType.SDecimal(p, s), n) => (s, p, n) }
    // struct field names ride in field 10 — see model.SStruct
    br(25, "struct", msg(rep(1, "types", tpe), nullability(3), rep(10, "names", string))) {
      case (ts, n, ns) => (SType.SStruct(ns, ts), n) } {
      case (SType.SStruct(ns, ts), n) => (ts, n, ns) }
    br(27, "list", listType) { case ((e, en), n) => (SType.SList(e, en), n) } {
      case (SType.SList(e, en), n) => ((e, en), n) }
    // map keys are non-null
    br(28, "map", mapType) { case ((k, _), (v, vn), n) => (SType.SMap(k, v, vn), n) } {
      case (SType.SMap(k, v, vn), n) => ((k, false), (v, vn), n) }
  })

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

  /** A decoded NamedStruct. A conformant producer's flattened name list has
    * its top-level names peeled and its nested ones pushed into their
    * SStruct nodes (overriding any field-10 names, which a foreign producer
    * never sends). */
  private def namedStructOf(ns: Seq[String], ts: Seq[(SType, Boolean)]): NamedStruct = {
    val flatTotal = ts.map { case (t, _) => 1 + nestedArity(t) }.sum
    if (ns.length == flatTotal && flatTotal > ts.length) {
      val it = ns.iterator
      val rebuilt = ts.map { case (t, n) =>
        val top = it.next()
        (top, (assignNames(t, it), n))
      }
      NamedStruct(rebuilt.map(_._1), rebuilt.map(_._2))
    } else NamedStruct(ns, ts)
  }

  /** NamedStruct{names=1, struct=2: Type.Struct{types=1}}. Standard
    * substrait flattens nested struct field names depth-first into the root
    * name list (Type.Struct itself is anonymous); graft's field-10 in-struct
    * names remain as a self-describing fallback. */
  private lazy val namedStruct: Msg[NamedStruct] =
    msg(rep(1, "names", string), field(2, "struct", msg(rep(1, "types", tpe)), Nil))
      .map((namedStructOf _).tupled)(s => (flatNames(s), s.types))

  /** The depth-first flattened name list of `s`: its own names when no
    * field nests a struct. */
  private def flatNames(s: NamedStruct): Seq[String] =
    if (s.types.forall { case (t, _) => nestedArity(t) == 0 }) s.names
    else s.names.zip(s.types).flatMap { case (n, (t, _)) => n +: nestedNames(t) }

  // ------------------------------------------------------------- expressions
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

  private def listLit(values: Seq[LitVal]): LitVal =
    if (values.isEmpty) notImplemented("Literal.list with no values (use empty_list)")
    else LitVal.LList(litType(values.head), values)

  private def mapLit(entries: Seq[(LitVal, LitVal)]): LitVal =
    if (entries.isEmpty) notImplemented("Literal.map with no entries (use empty_map)")
    else LitVal.LMap(litType(entries.head._1), litType(entries.head._2), entries)

  /** Literal{literal_type; nullable=50 is carried by the value}. A
    * non-empty list (30) or map (26) carries no element types — a conformant
    * consumer infers them from the values; empty ones are empty_list (31,
    * a Type.List) and empty_map (32, a Type.Map), which do carry them. */
  private lazy val literal: Msg[LitVal] = msg(new OneOf[LitVal]("literal_type") {
    // an empty list or map takes its own branch
    override protected def key(v: LitVal): Any = v match {
      case l: LitVal.LList => (l.getClass, l.values.isEmpty)
      case m: LitVal.LMap => (m.getClass, m.entries.isEmpty)
      case _ => v.getClass
    }
    br(1, "boolean", bool)(LitVal.LBool) { case LitVal.LBool(v) => v }
    br(2, "i8", int32)(LitVal.LI8) { case LitVal.LI8(v) => v }
    br(3, "i16", int32)(LitVal.LI16) { case LitVal.LI16(v) => v }
    br(5, "i32", int32)(LitVal.LI32) { case LitVal.LI32(v) => v }
    br(7, "i64", int64)(LitVal.LI64) { case LitVal.LI64(v) => v }
    br(10, "fp32", fp32)(LitVal.LFp32) { case LitVal.LFp32(v) => v }
    br(11, "fp64", fp64)(LitVal.LFp64) { case LitVal.LFp64(v) => v }
    br(12, "string", string)(LitVal.LStr) { case LitVal.LStr(v) => v }
    br(13, "binary", bytes)(LitVal.LBin) { case LitVal.LBin(v) => v }
    br(14, "timestamp", int64)(LitVal.LTimestamp) { case LitVal.LTimestamp(v) => v }
    br(16, "date", int32)(LitVal.LDate) { case LitVal.LDate(v) => v }
    br(17, "time", int64)(LitVal.LTime) { case LitVal.LTime(v) => v }
    br(19, "interval_year_to_month",
        msg(field(1, "years", int32, 0), field(2, "months", int32, 0)))(
        LitVal.LIntervalYear.tupled) { case LitVal.LIntervalYear(y, m) => (y, m) }
    br(20, "interval_day_to_second", msg(field(1, "days", int32, 0),
        field(2, "seconds", int32, 0), field(3, "microseconds", int32, 0)))(
        LitVal.LIntervalDay.tupled) { case LitVal.LIntervalDay(d, s, us) => (d, s, us) }
    br(24, "decimal", msg(field(1, "value", bytes, Array.emptyByteArray),
        field(2, "precision", int32, 0), field(3, "scale", int32, 0)))(
        LitVal.LDecimal.tupled) { case LitVal.LDecimal(v, p, s) => (v, p, s) }
    br(26, "map", msg(rep(1, "key_values",
        msg(req(1, "key", literal), req(2, "value", literal)))))(mapLit) {
      case LitVal.LMap(_, _, es) if es.nonEmpty => es }
    br(27, "timestamp_tz", int64)(LitVal.LTimestampTz) { case LitVal.LTimestampTz(v) => v }
    br(29, "null", tpe)(t => LitVal.LNull(t._1)) { case LitVal.LNull(t) => (t, true) }
    br(30, "list", msg(rep(1, "values", literal)))(listLit) {
      case LitVal.LList(_, vs) if vs.nonEmpty => vs }
    br(31, "empty_list", listType) { case ((et, _), _) => LitVal.LList(et, Nil) } {
      case LitVal.LList(et, vs) if vs.isEmpty => ((et, true), true) }
    br(32, "empty_map", mapType) { case ((kt, _), (vt, _), _) => LitVal.LMap(kt, vt, Nil) } {
      case LitVal.LMap(kt, vt, es) if es.isEmpty => ((kt, false), (vt, true), true) }
  })

  /** ReferenceSegment{struct_field=2: StructField{field=1, child=2}} as the
    * chain of struct-field ordinals it walks: the outermost is the
    * top-level column, each child descends one struct level (spec-conformant
    * nested references — the reference rejects the chain at
    * consumer.rs:451-454). A canonical proto3 encoder omits `field: 0`, so a
    * reference to column 0 arrives as an empty StructField. */
  private lazy val segment: Msg[List[Int]] =
    msg(req(2, "struct_field", msg(field(1, "field", int32, 0),
        field(2, "child", segment, Nil, omitDefault = true))))
      .reject(1, 3)("reference segment kind other than struct_field")
      .map { case (i, child) => i :: child } (chain => (chain.head, chain.tail))

  private def reference(chain: List[Int]): SExpr =
    if (chain.tail.isEmpty) SExpr.FieldRef(chain.head) else SExpr.NestedRef(chain.head, chain.tail)

  /** Expression{rex_type}. */
  private lazy val expr: Msg[SExpr] = msg(new OneOf[SExpr]("rex_type") {
    br(1, "literal", literal)(SExpr.Lit) { case SExpr.Lit(v) => v }
    // FieldReference{direct_reference=1; root_reference=4 is implied}
    br(2, "selection", msg(req(1, "direct_reference", segment)))(reference) {
      case SExpr.FieldRef(i) => i :: Nil
      case SExpr.NestedRef(i, path) => i :: path.toList }
    // function_reference defaults to 0, not -1: anchors are dense from 0 and
    // a proto3-canonical encoder omits anchor 0 entirely
    br(3, "scalar_function",
        msg(field(1, "function_reference", int32, 0), rep(2, "args", expr)))(
        SExpr.ScalarFn.tupled) { case SExpr.ScalarFn(f, args) => (f, args) }
    // frame_rows: the ROWS(1)/RANGE(0) frame kind
    br(5, "window_function", msg(field(1, "function_reference", int32, 0),
        rep(2, "partitions", expr), rep(3, "sorts", sortField),
        field(4, "upper_bound", bound, WBound.Unbounded),
        field(5, "lower_bound", bound, WBound.Unbounded), rep(8, "args", expr),
        field(9, "frame_rows", bool, false))) {
      case (f, parts, sorts, up, lo, args, rows) =>
        SExpr.WindowFn(f, args, parts, sorts, lo, up, rows) } {
      case w: SExpr.WindowFn => (w.functionReference, w.partitions, w.sorts,
        w.upper, w.lower, w.args, w.rowFrame) }
    br(6, "if_then", msg(rep(1, "ifs", msg(req(1, "if", expr), opt(2, "then", expr))
        .map(IfClause.tupled)(c => (c.cond, c.thenExpr))), opt(2, "else", expr)))(
        SExpr.IfThen.tupled) { case SExpr.IfThen(cs, els) => (cs, els) }
    br(11, "cast", msg(req(1, "type", tpe), req(2, "input", expr))) {
      case ((t, n), in) => SExpr.Cast(t, n, in) } {
      case SExpr.Cast(t, n, in) => ((t, n), in) }
  })

  /** Window Bound{preceding=1, following=2, current_row=3, unbounded=4}. */
  private lazy val bound: Msg[WBound] = {
    val offset = msg(field(1, "offset", int64, 0L))
    msg(new OneOf[WBound]("kind", Some(WBound.Unbounded)) {
      br(1, "preceding", offset)(WBound.Preceding) { case WBound.Preceding(n) => n }
      br(2, "following", offset)(WBound.Following) { case WBound.Following(n) => n }
      br(3, "current_row", msg())(_ => WBound.CurrentRow) { case WBound.CurrentRow => () }
      br(4, "unbounded", msg())(_ => WBound.Unbounded) { case WBound.Unbounded => () }
    })
  }

  private lazy val sortField: Msg[SortField] =
    msg(req(1, "expr", expr), field(2, "direction", int32, 0))
      .reject(3)("comparison-function sort")
      .map(SortField.tupled)(s => (s.expr, s.direction))

  /** Measure{measure=1: AggregateFunction, filter=2}; the phase is always
    * AGGREGATION_PHASE_UNSPECIFIED (producer.rs:357). */
  private lazy val measure: Msg[Measure] = {
    val function = msg(field(1, "function_reference", int32, 0), rep(2, "args", expr),
      field(4, "phase", int32, 0), field(6, "invocation", int32, 0))
      .map { case (f, args, _, inv) => AggFunction(f, args, inv) } (
        a => (a.functionReference, a.args, 0, a.invocation))
    msg(req(1, "measure", function), opt(2, "filter", expr))
      .map(Measure.tupled)(m => (m.function, m.filter))
  }

  // --------------------------------------------------------------- relations
  /** RelCommon{direct=1, emit=2{output_mapping=1}} → the emit mapping; graft
    * always emits `direct`, so it is never written. */
  private lazy val common: Part[Option[Seq[Int]]] = field(1, "common",
    msg(opt(2, "emit", msg(rep(1, "output_mapping", int32)))), None, omitDefault = true)

  /** RelCommon.emit (a foreign producer's inline output mapping) as a plain
    * Project. On a ProjectRel the mapping indexes the CONCATENATED
    * (input ++ expressions) space per the substrait spec; on every other rel
    * it indexes the rel's own output. */
  private def emit(mapping: Option[Seq[Int]], rel: Rel): Rel = (mapping, rel) match {
    case (None, r) => r
    case (Some(m), Rel.Project(in, exprs)) =>
      val inA = Rel.arity(in)
      if (inA < 0) notImplemented("emit on a project with unknowable input arity")
      Rel.Project(in, m.map { i =>
        if (i < inA) SExpr.FieldRef(i)
        else if (i - inA < exprs.size) exprs(i - inA)
        else notImplemented(s"emit index $i beyond input+expressions")
      })
    case (Some(m), r) => Rel.Project(r, m.map(SExpr.FieldRef(_)))
  }

  /** best_effort_filter (newer producers): a consumer MAY apply it — graft
    * applies it exactly. Combining it with a separate exact filter would
    * need an `and` anchor this layer can't mint, so that (rare) combination
    * stays a loud reject. */
  private def scanFilter(filter: Option[SExpr], bestEffort: Option[SExpr]): Option[SExpr] =
    (filter, bestEffort) match {
      case (Some(_), Some(_)) =>
        notImplemented("ReadRel with both filter and best_effort_filter")
      case (f, b) => f.orElse(b)
    }

  /** LocalFiles.FileOrFiles: the path in its original oneof slot and an
    * empty options message selecting the format. Sub-file byte ranges have
    * no public DataFrameReader form — a silent whole-file read would
    * duplicate rows. */
  private lazy val fileItem: Msg[FileItem] = msg(
    new OneOf[(Int, String)]("path_type") {
      override protected def key(v: (Int, String)): Any = v._1
      for ((num, name) <- Seq(1 -> "uri_path", 2 -> "uri_path_glob", 3 -> "uri_file",
                              4 -> "uri_folder"))
        br(num, name, string)((num, _)) { case (`num`, path) => path }
    },
    field(7, "start", int64, 0L, omitDefault = true),
    field(8, "length", int64, 0L, omitDefault = true),
    new OneOf[(String, Option[String], Long)]("file_format") {
      override protected def key(v: (String, Option[String], Long)): Any = v._1
      br(9, "parquet", msg())(_ => ("parquet", None, 0L)) { case ("parquet", _, _) => () }
      br(11, "orc", msg())(_ => ("orc", None, 0L)) { case ("orc", _, _) => () }
      // DelimiterSeparatedTextReadOptions{field_delimiter=1, header_lines_to_skip=4}
      br(14, "text", msg(opt(1, "field_delimiter", string),
          field(4, "header_lines_to_skip", int64, 0L, omitDefault = true))) {
        case (delim, skip) => ("csv", delim, skip) } { case ("csv", delim, skip) => (delim, skip) }
    }).reject(10, 12, 13)("LocalFiles arrow/extension/dwrf formats")
    .map { case ((kind, path), start, length, (format, delim, skip)) =>
      if (start != 0L || length != 0L) notImplemented("LocalFiles start/length byte ranges")
      FileItem(path, kind, format, delim, skip)
    } (i => ((i.pathKind, i.path), 0L, 0L, (i.format, i.csvDelimiter, i.csvHeaderLines)))

  /** ReadRel.read_type: NamedTable (7), VirtualTable (5: rows of
    * Literal.Struct cells) or LocalFiles (6), as the (names, rows, files)
    * of Rel.Read. */
  private type Source = (Seq[String], Option[Seq[Seq[LitVal]]], Option[Seq[FileItem]])
  private def readType: Part[Source] = new OneOf[Source]("read_type") {
    override protected def key(v: Source): Any = (v._2.isDefined, v._3.isDefined)
    br(5, "virtual_table", msg(rep(1, "values", msg(rep(1, "fields", literal)))))(
      rows => (Nil, Some(rows), None)) { case (_, Some(rows), _) => rows }
    br(6, "local_files", msg(rep(1, "items", fileItem)))(items => (Nil, None, Some(items))) {
      case (_, None, Some(items)) => items }
    br(7, "named_table", msg(rep(1, "names", string)))(names => (names, None, None)) {
      case (names, None, None) => names }
  }

  /** MaskExpression{select=1: StructSelect{struct_items=1: StructItem{field=1}}};
    * each item is exactly one index, an empty one column 0. */
  private lazy val mask: Msg[Seq[Int]] = msg(field(1, "select",
    msg(rep(1, "struct_items", msg(field(1, "field", int32, 0)))), Nil))

  /** ExtensionSingleRel details, keyed by type URL. A detail decodes to its
    * rel with the input unset; the ExtensionSingleRel fills it in. */
  private lazy val details: AnyOf[Rel] = new AnyOf[Rel]("extension_single rel") {
    detail(generateDetailUrl, msg(field(1, "generator", string, ""), req(2, "arg", expr),
        field(3, "outer", bool, false), field(4, "gen_arity", int32, 1))) {
      case (gen, arg, outer, k) => Rel.ExtGenerate(null, gen, arg, outer, k) } {
      case Rel.ExtGenerate(_, gen, arg, outer, k) => (gen, arg, outer, k) }
    // range_directions: one SortDirection per expr for RANGE partitioning
    detail(exchangeDetailUrl, msg(rep(1, "exprs", expr), field(2, "num_partitions", int32, 0),
        field(3, "shuffle", bool, true), rep(4, "range_directions", int32))) {
      case (exprs, n, shuffle, dirs) => Rel.ExtExchange(null, exprs, n, shuffle, dirs) } {
      case Rel.ExtExchange(_, exprs, n, shuffle, dirs) => (exprs, n, shuffle, dirs) }
    detail(sampleDetailUrl, msg(field(1, "lower", fp64, 0.0), field(2, "upper", fp64, 1.0),
        field(3, "with_replacement", bool, false), field(4, "seed", int64, 0L))) {
      case (lo, hi, wr, seed) => Rel.ExtSample(null, lo, hi, wr, seed) } {
      case Rel.ExtSample(_, lo, hi, wr, seed) => (lo, hi, wr, seed) }
    // resolved by name through Stages
    detail(stageDetailUrl, msg(field(1, "stage", string, "")))(Rel.ExtStage(null, _)) {
      case Rel.ExtStage(_, stage) => stage }
    // ts_field 0 is a legal column; gap_expr is the per-row (string) gap
    detail(sessionWindowDetailUrl, msg(field(1, "ts_field", int32, 0),
        field(2, "gap_micros", int64, 0L), opt(3, "gap_expr", expr))) {
      case (ts, gap, gapExpr) => Rel.ExtSessionWindow(null, ts, gap, gapExpr) } {
      case Rel.ExtSessionWindow(_, ts, gap, gapExpr) => (ts, gap, gapExpr) }
    // placement advice only: a no-op for foreign consumers
    detail(hintDetailUrl, msg(field(1, "hint", string, "")))(Rel.ExtHint(null, _)) {
      case Rel.ExtHint(_, hint) => hint }
    // body_plan: a COMPLETE nested Plan with its own extension anchors;
    // require_fixpoint is omitted when false (proto3 canonical)
    detail(iterationDetailUrl, msg(req(1, "body_plan", embedded(planMsg)),
        field(2, "max_iters", int32, 0), field(3, "check_fixpoint", bool, false),
        field(4, "require_fixpoint", bool, false, omitDefault = true))) {
      case (body, n, check, require) => Rel.ExtIteration(null, body, n, check, require) } {
      case Rel.ExtIteration(_, body, n, check, require) => (body, n, check, require) }
  }

  /** Rel{rel_type}; every XxxRel carries RelCommon at field 1. */
  private lazy val rel: Msg[Rel] = msg(new OneOf[Rel]("rel_type") {
    br(1, "read", msg(common, req(2, "base_schema", namedStruct), opt(3, "filter", expr),
        opt(4, "projection", mask), readType, opt(11, "best_effort_filter", expr))
        .reject(8)("ReadRel/ExtensionTable reads are not supported")) {
      case (e, schema, filter, proj, (names, rows, files), bestEffort) =>
        emit(e, Rel.Read(schema, names, proj, scanFilter(filter, bestEffort), rows, files)) } {
      case r: Rel.Read => (None, r.baseSchema, r.filter, r.projection,
        (r.tableNames, r.virtualRows, r.localFiles), None) }
    br(2, "filter", msg(common, req(2, "input", rel), req(3, "condition", expr))) {
      case (e, in, cond) => emit(e, Rel.Filter(in, cond)) } {
      case Rel.Filter(in, cond) => (None, in, cond) }
    br(3, "fetch", msg(common, req(2, "input", rel), field(3, "offset", int64, 0L),
        field(4, "count", int64, 0L))) {
      case (e, in, off, n) => emit(e, Rel.Fetch(in, off, n)) } {
      case Rel.Fetch(in, off, n) => (None, in, off, n) }
    br(4, "aggregate", msg(common, req(2, "input", rel),
        rep(3, "groupings", msg(rep(1, "grouping_expressions", expr))),
        rep(4, "measures", measure))) {
      case (e, in, gs, ms) => emit(e, Rel.Aggregate(in, gs, ms)) } {
      case Rel.Aggregate(in, gs, ms) => (None, in, gs, ms) }
    br(5, "sort", msg(common, req(2, "input", rel), rep(3, "sorts", sortField))) {
      case (e, in, sorts) => emit(e, Rel.Sort(in, sorts)) } {
      case Rel.Sort(in, sorts) => (None, in, sorts) }
    br(6, "join", msg(common, req(2, "left", rel), req(3, "right", rel),
        req(4, "expression", expr), field(6, "type", int32, 0))) {
      case (e, l, r, cond, jt) => emit(e, Rel.Join(l, r, cond, jt)) } {
      case Rel.Join(l, r, cond, jt) => (None, l, r, cond, jt) }
    br(7, "project", msg(common, req(2, "input", rel), rep(3, "expressions", expr))) {
      case (e, in, exprs) => emit(e, Rel.Project(in, exprs)) } {
      case Rel.Project(in, exprs) => (None, in, exprs) }
    br(8, "set", msg(common, rep(2, "inputs", rel), field(3, "op", int32, 0))) {
      case (e, ins, op) => emit(e, Rel.Set(ins, op)) } {
      case Rel.Set(ins, op) => (None, ins, op) }
    br(9, "extension_single", msg(common, req(2, "input", rel), req(3, "detail", details))) {
      case (e, in, d) => emit(e, Rel.withInputs(d, Seq(in))) } {
      case r if details.covers(r) => (None, Rel.inputs(r).head, r) }
    br(12, "cross", msg(common, req(2, "left", rel), req(3, "right", rel))) {
      case (e, l, r) => emit(e, Rel.Cross(l, r)) } {
      case Rel.Cross(l, r) => (None, l, r) }
  })

  // -------------------------------------------------------------------- plan
  /** SimpleExtensionDeclaration: only extension_function (3) is supported. */
  private lazy val extension: Msg[ExtensionFunction] =
    msg(req(3, "extension_function", msg(field(1, "extension_uri_reference", int64, 0L),
      field(2, "function_anchor", int32, 0), field(3, "name", string, ""))))
      .reject(1, 2)("non-function extension declaration")
      .map(ExtensionFunction.tupled)(e => (e.extensionUriReference, e.functionAnchor, e.name))

  private lazy val planRel: Msg[PlanRel] = msg(new OneOf[PlanRel]("rel_type") {
    br(1, "rel", rel)(PlanRel.RelOnly) { case PlanRel.RelOnly(r) => r }
    br(2, "root", msg(req(1, "input", rel), rep(2, "names", string)))(PlanRel.Root.tupled) {
      case PlanRel.Root(in, names) => (in, names) }
  })

  private lazy val planMsg: Msg[Plan] =
    msg(rep(2, "extensions", extension), rep(3, "relations", planRel))
      .map(Plan.tupled)(p => (p.extensions, p.relations))
}
