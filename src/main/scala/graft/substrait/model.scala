package graft.substrait

/** Scala case-class mirror of the Substrait protobuf message subset used by the
  * reference (datafusion-contrib/datafusion-substrait v0.1.0, substrait = "0.3"):
  * consumer.rs / producer.rs exchange Plan{extensions, relations} trees of
  * Read/Project/Filter/Fetch/Sort/Aggregate/Join rels over
  * FieldRef/ScalarFunction/IfThen/Literal expressions (reference:
  * src/consumer.rs:116-380, src/producer.rs:66-286).
  *
  * Extensions beyond the reference's subset, needed because Spark's analyzer
  * emits nodes DataFusion folds away before the reference ever sees them:
  * Expression.Cast (implicit casts), timestamp/fp/string/binary typed nulls,
  * SetRel (union/intersect/except) and CrossRel. Field numbers in Wire.scala
  * follow the public substrait 0.3 .proto definitions.
  */
object model {

  // ---- types (type.proto) ----
  sealed trait SType
  object SType {
    case object SBool extends SType
    case object SI8 extends SType
    case object SI16 extends SType
    case object SI32 extends SType
    case object SI64 extends SType
    case object SFp32 extends SType
    case object SFp64 extends SType
    case object SStr extends SType
    case object SBin extends SType
    case object SDate extends SType
    /** type.proto Time (field 17) — time of day; Spark 4 TimeType */
    case object STime extends SType
    /** naive wall-clock timestamp — Spark TimestampNTZType */
    case object STimestamp extends SType
    /** type.proto IntervalYear (field 19) — Spark YearMonthIntervalType */
    case object SIntervalYear extends SType
    /** type.proto IntervalDay (field 20) — Spark DayTimeIntervalType */
    case object SIntervalDay extends SType
    /** UTC-adjusted timestamp — Spark TimestampType (LTZ) */
    case object STimestampTz extends SType
    final case class SDecimal(precision: Int, scale: Int) extends SType
    final case class SList(elem: SType, elemNullable: Boolean) extends SType
    /** type.proto Type.Map (field 28): key=1, value=2, nullability=4. */
    final case class SMap(key: SType, value: SType,
                          valueNullable: Boolean) extends SType
    /** struct type. Substrait's Struct is anonymous (names live only in the
      * root NamedStruct); Spark struct fields are named, so names travel in
      * an unused proto field — a documented beyond-reference extension. */
    final case class SStruct(names: Seq[String],
                             fields: Seq[(SType, Boolean)]) extends SType
  }

  /** NamedStruct: flat field names + types (+nullability). type.proto NamedStruct. */
  final case class NamedStruct(names: Seq[String], types: Seq[(SType, Boolean)])

  // ---- expressions (algebra.proto Expression) ----
  sealed trait SExpr
  object SExpr {
    /** DirectReference(StructField(i)) — flat positional ref (consumer.rs:449-468). */
    final case class FieldRef(index: Int) extends SExpr
    /** DirectReference with a `child` chain — a reference INTO a struct-typed
      * top-level column: `path` lists the struct-field ordinals walked at
      * each nesting level. The reference rejects these (consumer.rs:451-454);
      * the spec expresses them, so graft consumes and produces them for
      * struct columns (beyond-reference). */
    final case class NestedRef(index: Int, path: Seq[Int]) extends SExpr
    /** ScalarFunction{function_reference, args} — name resolved via extensions. */
    final case class ScalarFn(functionReference: Int, args: Seq[SExpr]) extends SExpr
    /** IfThen: clauses of (if, then); reference encodes CASE base expr as a
      * clause whose `then` is None (producer.rs:546-554, consumer.rs:474-489). */
    final case class IfThen(clauses: Seq[IfClause], elseExpr: Option[SExpr]) extends SExpr
    final case class Cast(tpe: SType, nullable: Boolean, input: SExpr) extends SExpr
    final case class Lit(value: LitVal) extends SExpr
    /** Expression.WindowFunction (beyond the reference's subset — SURVEY.md
      * §2.8 records the reference has none; substrait models them).
      * `rowFrame` distinguishes ROWS vs RANGE frames.
      */
    final case class WindowFn(functionReference: Int, args: Seq[SExpr],
                              partitions: Seq[SExpr], sorts: Seq[SortField],
                              lower: WBound, upper: WBound,
                              rowFrame: Boolean) extends SExpr
  }

  sealed trait WBound
  object WBound {
    case object Unbounded extends WBound
    case object CurrentRow extends WBound
    final case class Preceding(n: Long) extends WBound
    final case class Following(n: Long) extends WBound
  }
  final case class IfClause(cond: SExpr, thenExpr: Option[SExpr])

  sealed trait LitVal
  object LitVal {
    final case class LBool(v: Boolean) extends LitVal
    final case class LI8(v: Int) extends LitVal
    final case class LI16(v: Int) extends LitVal
    final case class LI32(v: Int) extends LitVal
    final case class LI64(v: Long) extends LitVal
    final case class LFp32(v: Float) extends LitVal
    final case class LFp64(v: Double) extends LitVal
    final case class LStr(v: String) extends LitVal
    /** value-based equality: Array[Byte]'s default equals is reference
      * identity, which breaks SExpr structural comparison after a wire
      * round-trip (grouping-set union dedup, Validator arity checks). */
    final case class LBin(v: Array[Byte]) extends LitVal {
      override def equals(o: Any): Boolean = o match {
        case LBin(b) => java.util.Arrays.equals(v, b)
        case _ => false
      }
      override def hashCode: Int = java.util.Arrays.hashCode(v)
    }
    /** days since epoch (Date32, consumer.rs:579-581) */
    final case class LDate(days: Int) extends LitVal
    /** microseconds since midnight (substrait `time` literal, field 17) */
    final case class LTime(micros: Long) extends LitVal
    /** naive wall-clock micros since epoch (substrait `timestamp` literal) */
    final case class LTimestamp(micros: Long) extends LitVal
    /** UTC micros since epoch (substrait `timestamp_tz` literal) */
    final case class LTimestampTz(micros: Long) extends LitVal
    /** Literal.interval_year_to_month (field 19): {years=1, months=2} */
    final case class LIntervalYear(years: Int, months: Int) extends LitVal
    /** Literal.interval_day_to_second (field 20):
      * {days=1, seconds=2, microseconds=3} — components share one sign */
    final case class LIntervalDay(days: Int, seconds: Int,
                                  micros: Int) extends LitVal
    /** 16-byte little-endian two's-complement i128 (producer.rs:585-589);
      * equality is value-based (see LBin). */
    final case class LDecimal(valueLE: Array[Byte], precision: Int, scale: Int) extends LitVal {
      override def equals(o: Any): Boolean = o match {
        case LDecimal(b, p, s) =>
          p == precision && s == scale && java.util.Arrays.equals(valueLE, b)
        case _ => false
      }
      override def hashCode: Int =
        (java.util.Arrays.hashCode(valueLE) * 31 + precision) * 31 + scale
    }
    /** typed null (consumer.rs:617-639) */
    final case class LNull(tpe: SType) extends LitVal
    /** array literal (substrait Literal.list, field 30 — beyond reference).
      * On the wire a non-empty list carries no element type (inferred from
      * the first element on read); an empty list is Literal.empty_list
      * (field 31, a Type.List) which DOES carry it. */
    final case class LList(elemType: SType, values: Seq[LitVal]) extends LitVal
    /** map literal (substrait Literal.map, field 26: repeated KeyValue
      * {key=1, value=2}); empty maps are Literal.empty_map (field 32, a
      * Type.Map carrying both types). */
    final case class LMap(keyType: SType, valueType: SType,
                          entries: Seq[(LitVal, LitVal)]) extends LitVal
  }

  /** One ReadRel/LocalFiles item (algebra.proto ReadRel.LocalFiles.FileOrFiles):
    * `pathKind` remembers which oneof member carried the path (1=uri_path,
    * 2=uri_path_glob, 3=uri_file, 4=uri_folder — Spark's DataFrameReader
    * treats all four uniformly, so the kind matters only for re-encoding
    * fidelity); `format` is "parquet" / "orc" / "csv" from the format oneof.
    */
  final case class FileItem(path: String, pathKind: Int, format: String,
                            csvDelimiter: Option[String] = None,
                            csvHeaderLines: Long = 0L)

  // ---- relations (algebra.proto Rel) ----
  sealed trait Rel
  object Rel {
    /** ReadRel/NamedTable + optional MaskExpression projection (consumer.rs:318-374)
      * + optional scan filter over the BASE schema (algebra.proto ReadRel.filter,
      * field 3 — beyond the reference, which only reads name + mask: the
      * producer folds a Filter directly above a leaf scan into the ReadRel so
      * selective predicates arrive AT the scan on any consumer).
      * ReadRel/LocalFiles (field 6 — beyond the reference, which rejects it at
      * consumer.rs:371-373) carries file-backed scans: `localFiles` maps to
      * `spark.read.<format>(paths)` with the declared base schema applied.
      */
    final case class Read(baseSchema: NamedStruct, tableNames: Seq[String],
                          projection: Option[Seq[Int]],
                          filter: Option[SExpr] = None,
                          virtualRows: Option[Seq[Seq[LitVal]]] = None,
                          localFiles: Option[Seq[FileItem]] = None) extends Rel
    final case class Project(input: Rel, expressions: Seq[SExpr]) extends Rel
    final case class Filter(input: Rel, condition: SExpr) extends Rel
    final case class Fetch(input: Rel, offset: Long, count: Long) extends Rel
    final case class Sort(input: Rel, sorts: Seq[SortField]) extends Rel
    final case class Aggregate(input: Rel, groupings: Seq[Seq[SExpr]],
                               measures: Seq[Measure]) extends Rel
    final case class Join(left: Rel, right: Rel, expression: SExpr,
                          joinType: Int) extends Rel
    final case class Cross(left: Rel, right: Rel) extends Rel
    final case class Set(inputs: Seq[Rel], op: Int) extends Rel
    /** Spark's Generate (explode / posexplode / inline) carried through
      * substrait's sanctioned extension mechanism: ExtensionSingleRel
      * (algebra.proto Rel field 9) with an Any detail graft owns
      * (`graft.dev/GenerateRelDetail`). Substrait 0.3 has no unnest relation,
      * so a foreign consumer rejects the Any type_url loudly — the intended
      * extension contract — while graft round-trips it. Output schema =
      * input columns ++ genArity generated columns. */
    final case class ExtGenerate(input: Rel, generator: String, arg: SExpr,
                                 outer: Boolean, genArity: Int) extends Rel
    /** Repartitioning carried as ExtensionSingleRel with Any type_url
      * `graft.dev/ExchangeRelDetail` (substrait 0.3 predates ExchangeRel).
      * exprs non-empty = hash partitioning on them (or RANGE partitioning
      * when `rangeDirections` carries one SortDirection per expr); empty +
      * shuffle = round-robin; empty + !shuffle = coalesce. Schema-
      * preserving; a foreign consumer may safely treat it as a no-op — it
      * only places rows. numPartitions 0 = unspecified. */
    final case class ExtExchange(input: Rel, exprs: Seq[SExpr],
                                 numPartitions: Int,
                                 shuffle: Boolean = true,
                                 rangeDirections: Seq[Int] = Nil) extends Rel
    /** Bernoulli sampling (Spark logical.Sample) as ExtensionSingleRel with
      * Any type_url `graft.dev/SampleRelDetail`. The seed crosses the wire,
      * so the consumed plan draws the same rows on the same engine; row-level
      * RNG is engine-specific, so no cross-engine oracle exists (like the
      * reference's approx aggregates). */
    final case class ExtSample(input: Rel, lowerBound: Double,
                               upperBound: Double, withReplacement: Boolean,
                               seed: Long) extends Rel
    /** A named partition-wise typed stage (Spark mapPartitions pipeline)
      * carried by SYMBOLIC NAME — the wire convention engines use for UDF
      * stages: the plan names the stage, the consumer resolves it in its
      * stage registry ([[Stages]]) and rebuilds the identical typed
      * pipeline, and an unknown name fails loudly. detail =
      * StageRelDetail{stage=1 string}. */
    final case class ExtStage(input: Rel, stage: String) extends Rel
    /** Gap-based session windowing (Spark's `session_window`) as
      * ExtensionSingleRel with Any type_url
      * `graft.dev/SessionWindowRelDetail`, detail =
      * SessionWindowRelDetail{ts_field=1 int32, gap_micros=2 int64}.
      * Output schema = input columns ++ one session struct column
      * (start, end timestamps of the session the row belongs to, i.e.
      * [ts, ts + gap) before merging). The AGGREGATE that merges
      * overlapping sessions rides ABOVE this rel as a plain AggregateRel
      * grouping on the session column — Spark's SessionWindowing analysis
      * re-attaches the merge semantics when the consumer rebuilds the
      * projection with `session_window()` (verified: MergingSessions
      * appears in the rebuilt physical plan). A foreign consumer without
      * session support rejects the type_url loudly.
      *
      * A data-dependent gap (Spark's `session_window(ts, gapCol)`) rides as
      * `gapExpr` (detail field 3): a STRING-typed expression over the input
      * (Spark's own contract — the analyzer casts it to CalendarIntervalType
      * and adds the end > start guard for non-positive per-row gaps);
      * gapMicros is 0 in that form. Exactly one of (gapMicros > 0, gapExpr)
      * is set. */
    final case class ExtSessionWindow(input: Rel, tsField: Int,
                                      gapMicros: Long,
                                      gapExpr: Option[SExpr] = None) extends Rel
    /** Bounded iteration ON the wire — closes the last orchestration gap
      * (d08/d13/d17 previously wire-stepped each ROUND's plan but kept the
      * loop — round count, convergence check — host-side). Carried as
      * ExtensionSingleRel with Any type_url `graft.dev/IterationRelDetail`,
      * detail = IterationRelDetail{body_plan=1 bytes, max_iters=2 int32,
      * check_fixpoint=3 bool}.
      *
      * Semantics: state₀ = input's rows. For k = 1..maxIters:
      * stateₖ = bodyPlan evaluated with the reserved leaf
      * NamedTable(`graft_iteration_state`) bound to stateₖ₋₁; if
      * checkFixpoint and stateₖ equals stateₖ₋₁ as a multiset, stop early.
      * Output = the final state. The body is a COMPLETE nested Plan (own
      * extension registry — anchors stay scoped, no cross-plan re-anchoring)
      * and must be schema-preserving over the state. A foreign consumer
      * without iteration support rejects the type_url loudly — the intended
      * extension contract.
      *
      * `requireFixpoint` (detail field 4, bool): when set (with
      * checkFixpoint), exhausting maxIters WITHOUT reaching the fixpoint is
      * a loud error instead of silently returning the last state — the
      * divergence guard for foreign body plans whose algebra is not known
      * to converge (graft's own d08/d13/d17 converge by construction).
      * Bodies may not nest another ExtIteration (the single reserved state
      * name would make the binding ambiguous; the Validator rejects it). */
    final case class ExtIteration(input: Rel, bodyPlan: Plan, maxIters: Int,
                                  checkFixpoint: Boolean,
                                  requireFixpoint: Boolean = false) extends Rel
    /** A join-strategy hint (Spark logical.ResolvedHint) as
      * ExtensionSingleRel with Any type_url `graft.dev/HintRelDetail`,
      * detail = HintRelDetail{hint=1 string}. hint is a canonical Spark
      * strategy name: broadcast | merge | shuffle_hash |
      * shuffle_replicate_nl. Schema-preserving and semantically a no-op —
      * a foreign consumer may ignore it — but dropping it re-plans the
      * join from stats alone, which AQE can invert (broadcast the large
      * side, stream the small one) and collapse downstream parallelism:
      * measured 90 s raw vs 398 s hint-stripped on the sf1 d03 pipeline. */
    final case class ExtHint(input: Rel, hint: String) extends Rel

    /** A rel's input relations, left to right, and the rebuild that swaps
      * them — one exhaustive match, so a new rel case fails to compile here
      * until its inputs are named. An iteration's body is a nested plan,
      * not an input. */
    private def shape(rel: Rel): (Seq[Rel], Seq[Rel] => Rel) = rel match {
      case r: Read => (Nil, _ => r)
      case r: Project => (Seq(r.input), in => r.copy(input = in.head))
      case r: Filter => (Seq(r.input), in => r.copy(input = in.head))
      case r: Fetch => (Seq(r.input), in => r.copy(input = in.head))
      case r: Sort => (Seq(r.input), in => r.copy(input = in.head))
      case r: Aggregate => (Seq(r.input), in => r.copy(input = in.head))
      case r: Join => (Seq(r.left, r.right), in => r.copy(left = in(0), right = in(1)))
      case r: Cross => (Seq(r.left, r.right), in => r.copy(left = in(0), right = in(1)))
      case r: Set => (r.inputs, in => r.copy(inputs = in))
      case r: ExtGenerate => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtExchange => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtSample => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtStage => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtSessionWindow => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtIteration => (Seq(r.input), in => r.copy(input = in.head))
      case r: ExtHint => (Seq(r.input), in => r.copy(input = in.head))
    }

    def inputs(rel: Rel): Seq[Rel] = shape(rel)._1
    def withInputs(rel: Rel, inputs: Seq[Rel]): Rel = shape(rel)._2(inputs)

    /** Output arity of `rel` given its inputs' arities, -1 when unknowable.
      * A multi-grouping AggregateRel emits the distinct group expressions
      * (first appearance), its measures, then a trailing grouping-set index. */
    def arity(rel: Rel, in: Seq[Int]): Int = {
      def plus(k: Int): Int = if (in.head < 0) -1 else in.head + k
      rel match {
        case r: Read => r.projection.map(_.size).getOrElse(r.baseSchema.names.size)
        case r: Project => r.expressions.size
        case r: Aggregate => r.groupings.flatten.distinct.size + r.measures.size +
          (if (r.groupings.size > 1) 1 else 0)
        case r: Join if r.joinType == JoinType.Semi || r.joinType == JoinType.Anti => in.head
        case _: Join | _: Cross => if (in.exists(_ < 0)) -1 else in.sum
        case _: Set => in.headOption.getOrElse(-1)
        case r: ExtGenerate => plus(r.genArity)
        case _: ExtSessionWindow => plus(1)
        case r: ExtStage => Stages.registry.get(r.stage).map(_.outputArity).getOrElse(-1)
        case _: Filter | _: Fetch | _: Sort | _: ExtExchange | _: ExtSample |
             _: ExtIteration | _: ExtHint => in.head
      }
    }

    def arity(rel: Rel): Int = arity(rel, inputs(rel).map(arity))
  }

  /** algebra.proto JoinRel.JoinType values. */
  object JoinType {
    val Unspecified = 0; val Inner = 1; val Outer = 2; val Left = 3
    val Right = 4; val Semi = 5; val Anti = 6; val Single = 7
  }

  /** algebra.proto SetRel.SetOp values. */
  object SetOp {
    val MinusPrimary = 1; val MinusMultiset = 2
    val IntersectionPrimary = 3; val IntersectionMultiset = 4
    val UnionDistinct = 5; val UnionAll = 6
  }

  /** algebra.proto SortField.SortDirection values (consumer.rs:187-203). */
  object SortDirection {
    val AscNullsFirst = 1; val AscNullsLast = 2
    val DescNullsFirst = 3; val DescNullsLast = 4; val Clustered = 5
  }
  final case class SortField(expr: SExpr, direction: Int)

  /** AggregationInvocation: ALL=1, DISTINCT=2 (consumer.rs:252-258). */
  object AggInvocation { val Unspecified = 0; val All = 1; val Distinct = 2 }

  final case class AggFunction(functionReference: Int, args: Seq[SExpr],
                               invocation: Int)
  /** Measure = aggregate fn + optional FILTER expression (consumer.rs:242-251). */
  final case class Measure(function: AggFunction, filter: Option[SExpr])

  // ---- plan (plan.proto) ----
  /** SimpleExtensionDeclaration.ExtensionFunction; producer uses
    * extension_uri_reference = u32.MAX (producer.rs:393-431). */
  final case class ExtensionFunction(extensionUriReference: Long, functionAnchor: Int,
                                     name: String)
  sealed trait PlanRel
  object PlanRel {
    final case class RelOnly(rel: Rel) extends PlanRel
    final case class Root(input: Rel, names: Seq[String]) extends PlanRel
  }
  final case class Plan(extensions: Seq[ExtensionFunction], relations: Seq[PlanRel])

  /** Unsupported Catalyst node / Substrait message → typed failure, never a
    * silent drop (reference contract, SURVEY.md §2.11). */
  case class SubstraitException(msg: String) extends RuntimeException(msg)
  /** Plan bytes `Wire.decode` cannot read: `what` went wrong at byte
    * `offset` while reading `fieldPath`, e.g.
    * `plan.relations[0].root.input.filter.condition`. */
  final class WireDecodeError(val offset: Int, val fieldPath: String, val what: String)
      extends SubstraitException(s"$what at byte offset $offset in $fieldPath")
  def notImplemented(what: String): Nothing =
    throw SubstraitException(s"NotImplemented: $what")
  def internalErr(what: String): Nothing =
    throw SubstraitException(s"Internal: $what")
}
