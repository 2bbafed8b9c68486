package graft.functions

import org.apache.datasketches.frequencies.LongsSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Frequent-items (heavy hitters) — the Misra-Gries-family member of the
  * mergeable-sketch suite (HLL = cardinality, KLL = quantiles, CMS =
  * per-key frequency probe, theta = set operations, Bloom = membership).
  * Apache DataSketches LongsSketch: bounded state (maxMapSize counters),
  * lossless merge, and a DETERMINISTIC error contract — for every item,
  * getLowerBound ≤ true count ≤ getUpperBound with ub − lb ≤
  * getMaximumError(), and every item with true count > maxError is
  * guaranteed present (no false negatives under NO_FALSE_NEGATIVES).
  * Unlike CMS this needs no per-key probe universe: the sketch itself
  * RETURNS the heavy-hitter list — the shape for "top domains / URLs /
  * tokens across 100 TB" where the key universe is unbounded.
  *
  * Scale shape: per-shard sketches are KB-sized rows; refreshes merge
  * sketches, never re-aggregate corpus rows. All functions ride the wire
  * as named extension functions (the cms_* convention).
  */
object FreqFunctions {

  private def wrap(bytes: Array[Byte]): LongsSketch =
    LongsSketch.getInstance(Memory.wrap(bytes))

  /** Build aggregate: raw LONG values → serialized LongsSketch.
    * maxMapSize (a power of 2) rides as a LITERAL CHILD (Spark's own
    * count_min_sketch convention), so the parameter crosses the wire as a
    * plain aggregate argument — merge compatibility does not require equal
    * sizes (the union keeps the larger error bound), but the build
    * parameter is pinned per call site.
    */
  case class FreqSketchAggLong(child: Expression, sizeChild: Expression,
                               override val mutableAggBufferOffset: Int = 0,
                               override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[LongsSketch] {
    override def prettyName: String = "freq_sketch_agg_long"
    override def children: Seq[Expression] = Seq(child, sizeChild)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType

    private lazy val maxMapSize: Int = sizeChild match {
      case Literal(n: Int, _) => n
      case other => throw new IllegalArgumentException(
        s"$prettyName maxMapSize must be an int literal, got $other")
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (child.dataType, sizeChild) match {
        case (LongType, Literal(n: Int, _))
            if n >= 8 && Integer.bitCount(n) == 1 =>
          TypeCheckResult.TypeCheckSuccess
        case (LongType, s) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName maxMapSize must be an int literal power of 2 ≥ 8, got $s")
        case (t, _) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires BIGINT values, got $t")
      }

    override def createAggregationBuffer(): LongsSketch =
      new LongsSketch(maxMapSize)

    override def update(buffer: LongsSketch, input: InternalRow): LongsSketch = {
      val v = child.eval(input)
      if (v != null) buffer.update(v.asInstanceOf[Long])
      buffer
    }

    override def merge(a: LongsSketch, b: LongsSketch): LongsSketch = {
      a.merge(b); a
    }

    override def eval(buffer: LongsSketch): Any = buffer.toByteArray

    override def serialize(buffer: LongsSketch): Array[Byte] = buffer.toByteArray
    override def deserialize(bytes: Array[Byte]): LongsSketch = wrap(bytes)

    override def withNewMutableAggBufferOffset(o: Int): FreqSketchAggLong =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): FreqSketchAggLong =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(child = c.head, sizeChild = c(1))
  }

  /** Merge of serialized LongsSketch blobs (null inputs skipped; an
    * all-null group yields null — the CmsMergeAgg contract).
    */
  case class FreqMergeAgg(child: Expression,
                          override val mutableAggBufferOffset: Int = 0,
                          override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[LongsSketch] {
    override def prettyName: String = "freq_merge_agg"
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = true
    override def dataType: DataType = BinaryType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY sketches, got $t")
    }

    override def createAggregationBuffer(): LongsSketch = null

    override def update(buffer: LongsSketch, input: InternalRow): LongsSketch = {
      val v = child.eval(input)
      if (v == null) buffer
      else {
        val s = wrap(v.asInstanceOf[Array[Byte]])
        if (buffer == null) s else { buffer.merge(s); buffer }
      }
    }

    override def merge(a: LongsSketch, b: LongsSketch): LongsSketch =
      if (a == null) b else if (b == null) a else { a.merge(b); a }

    override def eval(buffer: LongsSketch): Any =
      if (buffer == null) null else buffer.toByteArray

    // empty bytes round-trip the "nothing merged yet" state (see CmsMergeAgg)
    override def serialize(buffer: LongsSketch): Array[Byte] =
      if (buffer == null) Array.emptyByteArray else buffer.toByteArray
    override def deserialize(bytes: Array[Byte]): LongsSketch =
      if (bytes.isEmpty) null else wrap(bytes)

    override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** Scalar probes against a serialized sketch, with the per-task
    * reference-equality deserialization cache of [[CmsFunctions
    * .CmsEstimateLong]]. `what` selects estimate / lower / upper bound;
    * interpreted eval is fine — these run per certified top-k row, never
    * the corpus hot path.
    */
  case class FreqProbeLong(left: Expression, right: Expression, what: String)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def prettyName: String = s"freq_${what}_long"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (BINARY, BIGINT), got ($l, $r)")
      }

    override def dataType: DataType = LongType

    @transient private var cachedBytes: Array[Byte] = _
    @transient private var cachedSketch: LongsSketch = _

    override def nullSafeEval(b: Any, v: Any): Any = {
      val bytes = b.asInstanceOf[Array[Byte]]
      if (!(bytes eq cachedBytes) && !java.util.Arrays.equals(bytes, cachedBytes)) {
        cachedSketch = wrap(bytes)
        cachedBytes = bytes
      }
      val item = v.asInstanceOf[Long]
      what match {
        case "estimate" => cachedSketch.getEstimate(item)
        case "lower_bound" => cachedSketch.getLowerBound(item)
        case "upper_bound" => cachedSketch.getUpperBound(item)
        case other => throw new IllegalStateException(s"unknown probe '$other'")
      }
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Sketch-wide maximum error (ub − lb bound for every item): 0 while the
    * map never overflowed (estimates exact), else the merged offset.
    */
  case class FreqMaxError(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def prettyName: String = "freq_max_error"
    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY, got $t")
    }

    override def nullSafeEval(b: Any): Any =
      wrap(b.asInstanceOf[Array[Byte]]).getMaximumError

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def freqSketchAggLong(value: Column, maxMapSize: Int): Column =
    Kernels.call("freq_sketch_agg_long", value, lit(maxMapSize))
  def freqMergeAgg(sketch: Column): Column = Kernels.call("freq_merge_agg", sketch)
  def freqEstimateLong(sketch: Column, item: Column): Column =
    Kernels.call("freq_estimate_long", sketch, item)
  def freqLowerBoundLong(sketch: Column, item: Column): Column =
    Kernels.call("freq_lower_bound_long", sketch, item)
  def freqUpperBoundLong(sketch: Column, item: Column): Column =
    Kernels.call("freq_upper_bound_long", sketch, item)
  def freqMaxError(sketch: Column): Column = Kernels.call("freq_max_error", sketch)
}
