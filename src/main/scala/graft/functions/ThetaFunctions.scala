package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketch, Sketches, Union}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Theta sketches — the SET-OPERATION member of the mergeable-sketch family
  * (HLL = cardinality, KLL = quantiles, Bloom = membership, CMS = frequency,
  * Theta = cardinality UNDER union/intersection/difference). The pipeline
  * question they answer: "how much does crawl N+1 overlap crawl N?" /
  * "how many docs would a filter remove corpus-wide?" — WITHOUT a join:
  * per-shard KB-sized sketches union mergeably, and intersections /
  * differences evaluate between two merged sketches driver-free.
  *
  * Error contract (datasketches-java, default seed — deterministic run to
  * run): a sketch stays EXACT until its retained entries reach the nominal
  * count k, then estimates with RSE ≈ 1/√k. Intersections inherit the
  * looser of the operands' thetas; the p12 certification measures the
  * bound in-query instead of trusting it.
  *
  * All three set-op scalars take two serialized sketches so they compose
  * over ANY plan shape (scalar subqueries, joined columns); per-task
  * deserialization caches (the BloomMightContain convention) keep the probe
  * O(1) per row after the first.
  */
object ThetaFunctions {

  private def wrapped(bytes: Array[Byte]): Sketch =
    Sketches.wrapSketch(Memory.wrap(bytes))

  private def newUnion(nominal: Int): Union =
    SetOperation.builder().setNominalEntries(nominal).buildUnion()

  /** Shared buffer plumbing: both aggregates fold into a theta Union (the
    * build variant feeds raw longs, the merge variant feeds sketch blobs).
    * The empty buffer serializes to an empty array (Spark's partial path
    * serializes unconditionally — the CMS/Bloom convention).
    */
  sealed trait ThetaUnionBase extends TypedImperativeAggregate[Union] {
    def nominal: Int
    override def nullable: Boolean = true
    override def dataType: DataType = BinaryType
    override def createAggregationBuffer(): Union = null

    override def merge(a: Union, b: Union): Union =
      if (a == null) b
      else if (b == null) a
      else { a.union(b.getResult); a }

    override def eval(buffer: Union): Any =
      if (buffer == null) null else buffer.getResult.toByteArray

    override def serialize(buffer: Union): Array[Byte] =
      if (buffer == null) Array.emptyByteArray
      else buffer.getResult.toByteArray

    override def deserialize(bytes: Array[Byte]): Union =
      if (bytes.isEmpty) null
      else { val u = newUnion(nominal); u.union(wrapped(bytes)); u }
  }

  /** Build aggregate over BIGINT keys (callers hash wider keys to 64 bits
    * first — xxhash64, the corpus-digest convention). */
  case class ThetaSketchAggLong(child: Expression, nominalExpr: Expression,
                                override val mutableAggBufferOffset: Int = 0,
                                override val inputAggBufferOffset: Int = 0)
      extends ThetaUnionBase {
    override def prettyName: String = "theta_sketch_agg_long"
    override def children: Seq[Expression] = Seq(child, nominalExpr)

    override lazy val nominal: Int = nominalExpr match {
      case Literal(v, IntegerType) => v.asInstanceOf[Int]
      case _ => throw new IllegalArgumentException(
        s"$prettyName nominal entries must be an INT literal")
    }

    override def checkInputDataTypes(): TypeCheckResult =
      (child.dataType, nominalExpr.dataType) match {
        case (LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (BIGINT, INT literal), got ($l, $r)")
      }

    override def update(buffer: Union, input: InternalRow): Union = {
      val v = child.eval(input)
      if (v == null) buffer
      else {
        val u = if (buffer == null) newUnion(nominal) else buffer
        u.update(v.asInstanceOf[Long])
        u
      }
    }

    override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAggLong =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): ThetaSketchAggLong =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(child = c(0), nominalExpr = c(1))
  }

  /** Merge aggregate over serialized sketch blobs — the shard-rollup side. */
  case class ThetaUnionAgg(child: Expression,
                           override val mutableAggBufferOffset: Int = 0,
                           override val inputAggBufferOffset: Int = 0)
      extends ThetaUnionBase {
    override def prettyName: String = "theta_union_agg"
    override def children: Seq[Expression] = Seq(child)
    // union-of-sketches adapts to the inputs' own nominal sizes; the buffer
    // only needs a ceiling
    override def nominal: Int = 1 << 16

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY sketches, got $t")
    }

    override def update(buffer: Union, input: InternalRow): Union = {
      val v = child.eval(input)
      if (v == null) buffer
      else {
        val u = if (buffer == null) newUnion(nominal) else buffer
        u.union(wrapped(v.asInstanceOf[Array[Byte]]))
        u
      }
    }

    override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** Distinct-count estimate of one serialized sketch. Interpreted eval
    * (CodegenFallback): these scalars run once per GROUP/sketch row — a
    * handful of KB-sized blobs, never the per-document hot path — so
    * codegen would buy nothing (the CMS/Bloom probes, which DO run per
    * corpus row, have full doGenCode). */
  case class ThetaEstimate(child: Expression) extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def prettyName: String = "theta_estimate"
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY, got $t")
    }
    override def nullSafeEval(b: Any): Any =
      wrapped(b.asInstanceOf[Array[Byte]]).getEstimate
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  sealed trait ThetaPairOp extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (BINARY, BINARY), got ($l, $r)")
      }
    protected def combine(a: Sketch, b: Sketch): CompactSketch
    override def nullSafeEval(l: Any, r: Any): Any =
      combine(wrapped(l.asInstanceOf[Array[Byte]]),
        wrapped(r.asInstanceOf[Array[Byte]])).getEstimate
  }

  /** |A ∩ B| estimate between two serialized sketches. */
  case class ThetaIntersectEstimate(left: Expression, right: Expression)
      extends ThetaPairOp {
    override def prettyName: String = "theta_intersect_estimate"
    override protected def combine(a: Sketch, b: Sketch): CompactSketch = {
      val it = SetOperation.builder().buildIntersection()
      it.intersect(a); it.intersect(b); it.getResult
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** |A \ B| estimate between two serialized sketches. */
  case class ThetaANotBEstimate(left: Expression, right: Expression)
      extends ThetaPairOp {
    override def prettyName: String = "theta_anotb_estimate"
    override protected def combine(a: Sketch, b: Sketch): CompactSketch =
      SetOperation.builder().buildANotB().aNotB(a, b)
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  def thetaSketchAggLong(value: Column, nominalEntries: Int = 1 << 14): Column =
    Kernels.call("theta_sketch_agg_long", value,
      org.apache.spark.sql.functions.lit(nominalEntries))
  def thetaUnionAgg(sketch: Column): Column = Kernels.call("theta_union_agg", sketch)
  def thetaEstimate(sketch: Column): Column = Kernels.call("theta_estimate", sketch)
  def thetaIntersectEstimate(a: Column, b: Column): Column =
    Kernels.call("theta_intersect_estimate", a, b)
  def thetaANotBEstimate(a: Column, b: Column): Column =
    Kernels.call("theta_anotb_estimate", a, b)
}
