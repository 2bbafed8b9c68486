package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.CountMinSketch

/** Count-Min Sketch merge + probe — the heavy-hitter member of the
  * mergeable-sketch family (HLL = cardinality, KLL = quantiles, Bloom =
  * membership, CMS = per-key frequency). Spark registers the BUILD
  * aggregate (`count_min_sketch`) but gives no way to merge shard sketches
  * or read one back; these two close the loop, so per-shard frequency
  * sketches persist once and corpus-wide heavy-hitter refreshes merge
  * KB-sized sketch rows instead of re-aggregating corpus rows.
  *
  * CMS guarantees (depth d = ⌈ln(1/δ)⌉, width w = ⌈e/ε⌉): the estimate
  * never undercounts, and overcounts by more than ε·N with probability at
  * most δ. Deterministic given the build seed, so an in-query certification
  * (`exact ≤ est ≤ exact + ε·N`) is stable run to run.
  */
object CmsFunctions {

  /** Merge of serialized CountMinSketch blobs (all built with the same
    * depth/width/seed — `CountMinSketch.mergeInPlace` rejects mismatches
    * loudly). Null inputs are skipped; an all-null group yields null.
    */
  case class CmsMergeAgg(child: Expression,
                         override val mutableAggBufferOffset: Int = 0,
                         override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[CountMinSketch] {
    override def prettyName: String = "cms_merge_agg"
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = true
    override def dataType: DataType = BinaryType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY sketches, got $t")
    }

    override def createAggregationBuffer(): CountMinSketch = null

    override def update(buffer: CountMinSketch, input: InternalRow): CountMinSketch = {
      val v = child.eval(input)
      if (v == null) buffer
      else {
        val s = CountMinSketch.readFrom(
          new ByteArrayInputStream(v.asInstanceOf[Array[Byte]]))
        if (buffer == null) s else { buffer.mergeInPlace(s); buffer }
      }
    }

    override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch =
      if (a == null) b else if (b == null) a else { a.mergeInPlace(b); a }

    override def eval(buffer: CountMinSketch): Any =
      if (buffer == null) null else serialize(buffer)

    // the no-input buffer is null, and Spark's partial-aggregation path
    // calls serialize() on it unconditionally (TypedImperativeAggregate
    // .serializeAggregateBufferInPlace) — an empty byte array round-trips
    // the "nothing merged yet" state instead of NPE-ing on an all-null group
    override def serialize(buffer: CountMinSketch): Array[Byte] =
      if (buffer == null) Array.emptyByteArray
      else {
        val out = new java.io.ByteArrayOutputStream()
        buffer.writeTo(out)
        out.toByteArray
      }

    override def deserialize(bytes: Array[Byte]): CountMinSketch =
      if (bytes.isEmpty) null
      else CountMinSketch.readFrom(new ByteArrayInputStream(bytes))

    override def withNewMutableAggBufferOffset(o: Int): CmsMergeAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CmsMergeAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  }

  /** Frequency probe of a LONG key against a serialized sketch, with the
    * same per-task reference-equality deserialization cache as
    * [[BloomMightContain]] — works with the sketch from any plan shape.
    */
  case class CmsEstimateLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "cms_estimate_long"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (BINARY, BIGINT), got ($l, $r)")
      }

    override def dataType: DataType = LongType

    // reference-equality first (Literal shape), content-equality fallback
    // (cross-joined column shape: UnsafeRow.getBinary copies per access) —
    // see BloomMightContain for the full rationale
    @transient private var cachedBytes: Array[Byte] = _
    @transient private var cachedSketch: CountMinSketch = _

    override def nullSafeEval(b: Any, v: Any): Any = {
      val bytes = b.asInstanceOf[Array[Byte]]
      if (!(bytes eq cachedBytes) && !java.util.Arrays.equals(bytes, cachedBytes)) {
        cachedSketch = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        cachedBytes = bytes
      }
      cachedSketch.estimateCount(v.asInstanceOf[Long])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addMutableState("byte[]", "cmsCachedBytes")
      val cs = ctx.addMutableState("org.apache.spark.util.sketch.CountMinSketch",
        "cmsCachedSketch")
      nullSafeCodeGen(ctx, ev, (b, v) => {
        s"""
           |if ($b != $cb && !java.util.Arrays.equals($b, $cb)) {
           |  try {
           |    $cs = org.apache.spark.util.sketch.CountMinSketch
           |      .readFrom(new java.io.ByteArrayInputStream($b));
           |  } catch (java.io.IOException e) {
           |    throw new RuntimeException("malformed count-min sketch bytes", e);
           |  }
           |  $cb = $b;
           |}
           |${ev.value} = $cs.estimateCount(java.lang.Long.valueOf($v));
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Join-size / second-frequency-moment estimation from two CMS blobs
    * (Cormode & Muthukrishnan 2005 §4.3): est = min over rows r of
    * Σ_w a[r][w]·b[r][w]. Never undercounts; overcounts by more than
    * (2/width)·N_a·N_b with probability ≤ 2^-depth. With a == b this is
    * the AMS-style self-join size (F₂ moment). The sketches must share
    * depth/width/seed (same build parameters — checked loudly).
    *
    * Spark's CountMinSketch exposes no cell accessor, so the (stable, V1)
    * serialized layout is parsed directly: int version, long totalCount,
    * int depth, int width, long hashA[depth], long table[depth][width] —
    * the exact field order CountMinSketchImpl.writeTo emits.
    *
    * Interpreted eval (CodegenFallback): runs once per sketch PAIR — a few
    * KB-sized rows, never the per-document hot path.
    */
  case class CmsInnerProduct(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def prettyName: String = "cms_inner_product"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (BINARY, BINARY), got ($l, $r)")
      }

    override def dataType: DataType = LongType

    private def parse(bytes: Array[Byte]): (Int, Int, Array[Long], Array[Array[Long]]) = {
      val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
      val version = in.readInt()
      if (version != 1)
        throw new IllegalArgumentException(s"$prettyName: unsupported CMS version $version")
      in.readLong() // totalCount
      val depth = in.readInt(); val width = in.readInt()
      val hashA = Array.fill(depth)(in.readLong())
      val table = Array.fill(depth)(Array.fill(width)(in.readLong()))
      (depth, width, hashA, table)
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val (da, wa, ha, ta) = parse(a.asInstanceOf[Array[Byte]])
      val (db, wb, hb, tb) = parse(b.asInstanceOf[Array[Byte]])
      if (da != db || wa != wb || !java.util.Arrays.equals(ha, hb))
        throw new IllegalArgumentException(
          s"$prettyName: sketches built with different depth/width/seed " +
            s"(($da,$wa) vs ($db,$wb)) cannot combine")
      var best = Long.MaxValue
      var r = 0
      while (r < da) {
        var s = 0L; var w = 0
        while (w < wa) { s += ta(r)(w) * tb(r)(w); w += 1 }
        if (s < best) best = s
        r += 1
      }
      best
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  def cmsMergeAgg(sketch: Column): Column = Kernels.call("cms_merge_agg", sketch)
  def cmsEstimateLong(sketch: Column, key: Column): Column =
    Kernels.call("cms_estimate_long", sketch, key)
  def cmsInnerProduct(a: Column, b: Column): Column =
    Kernels.call("cms_inner_product", a, b)
}
