package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Grouped top-k as a FIXED-WIDTH DeclarativeAggregate (opt round 15).
  *
  * The kNN top-k was a row_number window (`rank <= k`): Spark's
  * WindowGroupLimit pushdown keeps the per-query exchange skinny, but its
  * Partial step still SORTS every candidate row per partition — at 100x
  * s20 that is a 424M-row local sort costing ~2/3 of the query while the
  * join+cosine work costs 1/3 (OPTIMIZATION_r15.md "s20_knn_bucketed"). A
  * grouped top-k is an O(n) streaming insert, not a sort: this aggregate
  * keeps the k best (key DESC NULLS LAST, id ASC — exactly the window's
  * order) in 2k mutable fixed-width buffer slots, so it hash-aggregates
  * (never ObjectHashAggregate's 128-group sort fallback, never SortAggregate)
  * and reduces map-side: each partition sends at most k slots per group
  * into the exchange, the same volume WindowGroupLimit shipped, minus
  * both of its sorts.
  *
  * Order contract (bit-identical to the window): doubles compare in
  * Spark's total order (NaN greatest, NaN = NaN, and -0.0 = 0.0 — the
  * SQLOrderingUtil comparison's `x == y` primitive check fires first, so
  * signed zeros tie and fall to id ASC; the same comparison the sort
  * uses), null keys rank last, ties break on id ascending. Ids must be
  * NON-NULL: a null id never enters the buffer (the kNN join key
  * contract), so a caller with nullable ids silently DROPS those rows
  * where the row_number window would have ranked them — see
  * [[TopKFunctions.topkByKey]]. Empty slots are null-id slots, always
  * trailing. Result: array<struct<key, id>> of length k, empty slots
  * null-id — callers posexplode and filter `id IS NOT NULL`, pos+1 being
  * exactly the window's row_number.
  *
  * k is a foldable literal child (it rides the wire as an argument) and
  * is capped small: the merge expression chains k inserts whose tree size
  * grows ~3^k per slot — k <= 4 keeps analysis/codegen sane (k = 8 was
  * MEASURED to hang the analyzer on the merge tree). Above the cap,
  * [[TopKByKeyLoop]] — the loop-based ImperativeAggregate twin with the
  * identical order contract — takes over (opt round 16); entry points
  * dispatch on k.
  */
case class TopKByKey(key: Expression, id: Expression, kExpr: Expression)
    extends DeclarativeAggregate {
  override def prettyName: String = "topk_by_key"
  override def children: Seq[Expression] = Seq(key, id, kExpr)
  override def nullable: Boolean = false

  // k extracted leniently: a non-literal/non-int third argument reports
  // through checkInputDataTypes as a proper TypeCheckFailure instead of
  // blowing up function resolution with a constructor exception
  private val kOpt: Option[Int] = kExpr match {
    case Literal(n: Int, IntegerType) => Some(n)
    case _ => None
  }
  private def k: Int = kOpt.get

  override def checkInputDataTypes(): TypeCheckResult =
    if (kOpt.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be an INT literal, got $kExpr")
    else if (k < 1 || k > 4)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be in [1,4]: $k")
    else if (!RowOrdering.isOrderable(key.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName key type ${key.dataType} is not orderable")
    else if (!RowOrdering.isOrderable(id.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName id type ${id.dataType} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", key.dataType), StructField("id", id.dataType))))

  private lazy val ks: Seq[AttributeReference] = (0 until k).map(j =>
    AttributeReference(s"topk_key$j", key.dataType)())
  private lazy val ids: Seq[AttributeReference] = (0 until k).map(j =>
    AttributeReference(s"topk_id$j", id.dataType)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = ks ++ ids

  override lazy val initialValues: Seq[Expression] =
    ks.map(a => Literal.create(null, a.dataType)) ++
      ids.map(a => Literal.create(null, a.dataType))

  /** (aK, aI) strictly precedes (bK, bI) in (key DESC NULLS LAST, id ASC);
    * a null-id b is an empty slot (always loses), a null-id a never wins
    * (null ids don't enter). Comparisons are Catalyst's — doubles get the
    * total order the window's sort used. */
  private def better(aK: Expression, aI: Expression,
                     bK: Expression, bI: Expression): Expression =
    And(IsNotNull(aI), Or(IsNull(bI),
      CaseWhen(Seq(
        (And(IsNull(aK), IsNull(bK)), LessThan(aI, bI)),
        (IsNull(aK), Literal(false)),
        (IsNull(bK), Literal(true)),
        (GreaterThan(aK, bK), Literal(true)),
        (LessThan(aK, bK), Literal(false))),
        LessThan(aI, bI))))

  /** One sorted-insert step: candidate (cK, cI) into descending slots. */
  private def insert(state: Seq[(Expression, Expression)],
                     cK: Expression, cI: Expression)
      : Seq[(Expression, Expression)] =
    state.zipWithIndex.map { case ((sJ, iJ), j) =>
      val candBeatsJ = better(cK, cI, sJ, iJ)
      if (j == 0)
        (If(candBeatsJ, cK, sJ), If(candBeatsJ, cI, iJ))
      else {
        val (sP, iP) = state(j - 1)
        val candBeatsPrev = better(cK, cI, sP, iP)
        (If(candBeatsJ, If(candBeatsPrev, sP, cK), sJ),
         If(candBeatsJ, If(candBeatsPrev, iP, cI), iJ))
      }
    }

  override lazy val updateExpressions: Seq[Expression] = {
    val st = insert(ks.zip(ids).map { case (a, b) => (a: Expression, b: Expression) },
      key, id)
    st.map(_._1) ++ st.map(_._2)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    var st: Seq[(Expression, Expression)] =
      ks.zip(ids).map { case (a, b) => (a.left: Expression, b.left: Expression) }
    (0 until k).foreach { j => st = insert(st, ks(j).right, ids(j).right) }
    st.map(_._1) ++ st.map(_._2)
  }

  override lazy val evaluateExpression: Expression =
    CreateArray((0 until k).map(j => CreateNamedStruct(Seq(
      Literal("key"), ks(j), Literal("id"), ids(j)))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

/** The k > 4 twin of [[TopKByKey]] (opt round 16): the SAME fixed-width
  * 2k-slot buffer and the SAME (key DESC NULLS LAST, id ASC, null ids
  * never enter) order contract, but update/merge are Scala LOOPS over the
  * mutable buffer instead of a chained expression tree — the declarative
  * merge grows ~3^k per slot and k = 8 measurably hangs the analyzer,
  * while a loop is O(k) per inserted candidate with constant-size plans.
  * Still a fixed-width buffer, so HashAggregateExec with map-side partial
  * reduction applies (the imperative function is invoked by reference from
  * the generated code; the surrounding stage stays whole-stage codegen).
  *
  * Buffer fields must be UnsafeRow-mutable, so key/id are restricted to
  * fixed-width atomic types (numeric, boolean, date/timestamp) — exactly
  * the kNN case (double sim, long id). TopKSpec pins loop == window at
  * k = 16 and 64.
  */
case class TopKByKeyLoop(key: Expression, id: Expression, kExpr: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate {
  override def prettyName: String = "topk_by_key_loop"
  override def children: Seq[Expression] = Seq(key, id, kExpr)
  override def nullable: Boolean = false

  private val kOpt: Option[Int] = kExpr match {
    case Literal(n: Int, IntegerType) => Some(n)
    case _ => None
  }
  private def k: Int = kOpt.get

  private def fixedWidth(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (kOpt.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be an INT literal, got $kExpr")
    // 1024 is a plan-sanity bound (2k buffer fields per group), not a merge
    // -tree cliff like the declarative k <= 4
    else if (k < 1 || k > 1024)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be in [1,1024]: $k")
    else if (!fixedWidth(key.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName key type ${key.dataType} is not fixed-width")
    else if (!fixedWidth(id.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName id type ${id.dataType} is not fixed-width")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", key.dataType), StructField("id", id.dataType))))

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    (0 until k).map(j => AttributeReference(s"topk_key$j", key.dataType)()) ++
      (0 until k).map(j => AttributeReference(s"topk_id$j", id.dataType)())
  override lazy val aggBufferSchema: StructType =
    StructType(aggBufferAttributes.map(a =>
      StructField(a.name, a.dataType, nullable = true)))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  // interpreted orderings are Catalyst's own (doubles via SQLOrderingUtil —
  // the window sort's total order: NaN greatest, NaN = NaN, -0.0 = 0.0)
  @transient private lazy val keyOrd =
    TypeUtils.getInterpretedOrdering(key.dataType)
  @transient private lazy val idOrd =
    TypeUtils.getInterpretedOrdering(id.dataType)

  override def initialize(b: InternalRow): Unit = {
    var j = 0
    while (j < 2 * k) { b.setNullAt(mutableAggBufferOffset + j); j += 1 }
  }

  /** (aK, aI) strictly precedes (bK, bI) — same truth table as the
    * declarative better(). aI is known non-null at every call site. */
  private def precedes(aK: Any, aI: Any, bK: Any, bI: Any): Boolean = {
    if (bI == null) return true // empty slot always loses
    val c =
      if (aK == null && bK == null) 0
      else if (aK == null) -1 // null key ranks last
      else if (bK == null) 1
      else keyOrd.compare(aK, bK)
    if (c != 0) c > 0 else idOrd.compare(aI, bI) < 0
  }

  private def setF(b: InternalRow, i: Int, dt: DataType, v: Any): Unit =
    if (v == null) b.setNullAt(i)
    else dt match {
      case DoubleType => b.setDouble(i, v.asInstanceOf[Double])
      case FloatType => b.setFloat(i, v.asInstanceOf[Float])
      case LongType | TimestampType | TimestampNTZType =>
        b.setLong(i, v.asInstanceOf[Long])
      case IntegerType | DateType => b.setInt(i, v.asInstanceOf[Int])
      case ShortType => b.setShort(i, v.asInstanceOf[Short])
      case ByteType => b.setByte(i, v.asInstanceOf[Byte])
      case BooleanType => b.setBoolean(i, v.asInstanceOf[Boolean])
      case other => throw new IllegalStateException(
        s"$prettyName: non-fixed-width buffer type $other")
    }

  private def getF(b: InternalRow, i: Int, dt: DataType): Any =
    if (b.isNullAt(i)) null else b.get(i, dt)

  /** Sorted insert of (cK, cI) into the descending slots at `off`; returns
    * false when the candidate does not make the top k (callers use it to
    * early-exit merge: the input buffer is itself descending). */
  private def insert(b: InternalRow, cK: Any, cI: Any): Boolean = {
    if (cI == null) return false // null ids never enter (window-key contract)
    val off = mutableAggBufferOffset
    var pos = k
    var j = k - 1
    while (j >= 0 && precedes(cK, cI,
        getF(b, off + j, key.dataType), getF(b, off + k + j, id.dataType))) {
      pos = j; j -= 1
    }
    if (pos == k) return false
    var m = k - 1
    while (m > pos) {
      setF(b, off + m, key.dataType, getF(b, off + m - 1, key.dataType))
      setF(b, off + k + m, id.dataType, getF(b, off + k + m - 1, id.dataType))
      m -= 1
    }
    setF(b, off + pos, key.dataType, cK)
    setF(b, off + k + pos, id.dataType, cI)
    true
  }

  override def update(b: InternalRow, input: InternalRow): Unit = {
    insert(b, key.eval(input), id.eval(input)); ()
  }

  override def merge(b: InternalRow, in: InternalRow): Unit = {
    val off = inputAggBufferOffset
    var j = 0
    var live = true
    while (live && j < k) {
      val cI = getF(in, off + k + j, id.dataType)
      // input slots are descending with null-id padding trailing: the first
      // candidate that fails to insert (or the first empty slot) ends it
      live = cI != null && insert(b, getF(in, off + j, key.dataType), cI)
      j += 1
    }
  }

  override def eval(b: InternalRow): Any = {
    val off = mutableAggBufferOffset
    new GenericArrayData((0 until k).map { j =>
      InternalRow(getF(b, off + j, key.dataType),
        getF(b, off + k + j, id.dataType))
    })
  }

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

object TopKFunctions {
  /** Largest k the aggregate route serves ([[TopKByKeyLoop]]'s plan-sanity
    * bound); dispatchers fall back to the row_number window above it. */
  val MaxAggK = 1024
  /** Largest k on the declarative (expression-tree) kernel; (MaxDeclK,
    * MaxAggK] rides the loop twin. */
  val MaxDeclK = 4

  /** Top-k (id, key) pairs per group by (key DESC NULLS LAST, id ASC) —
    * the row_number-window order — as array<struct<key,id>> with null-id
    * trailing padding.
    *
    * Contract: ids must be NON-NULL — a null-id row is silently dropped
    * (it never enters the buffer), where the row_number window it replaces
    * would rank it (ASC puts nulls first). The kNN/keep-best callers join
    * on the id, so nulls cannot occur there; any new caller with nullable
    * ids must filter or accept the drop.
    *
    * k <= 4 plans the declarative kernel; above that, the loop-based
    * imperative twin (fixed-width key/id types only) up to [[MaxAggK]]. */
  def topkByKey(key: Column, id: Column, k: Int): Column =
    if (k <= MaxDeclK) Kernels.call("topk_by_key", key, id, lit(k))
    else Kernels.call("topk_by_key_loop", key, id, lit(k))
}
