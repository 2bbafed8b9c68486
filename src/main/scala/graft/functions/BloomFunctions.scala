package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Bloom membership probe over (filterBytes BINARY, xxhash64-value BIGINT).
  *
  * Spark's own `BloomFilterMightContain` insists the filter side be a
  * constant or scalar-subquery expression — a guard against per-row
  * deserialization, not a correctness constraint. This version accepts ANY
  * plan shape (in particular the cross-joined one-row column a substrait
  * round-trip rebuilds a scalar subquery into) and keeps the performance
  * property with a reference-equality deserialization cache: the filter
  * bytes are identical row to row, so the BloomFilter deserializes once
  * per task, not once per row.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY, BIGINT), got ($l, $r)")
    }

  override def dataType: DataType = BooleanType

  // cache check is reference-equality FIRST (hits when the filter arrives
  // as a Literal — the scalar-subquery shape after Catalyst executes the
  // subquery), then content-equality (the substrait-round-tripped shape
  // rebuilds the subquery as a cross-joined column, and UnsafeRow.getBinary
  // copies on every access so references never repeat; Arrays.equals on the
  // constant filter is one memcmp per row — cheap next to a rebuild, and
  // the literal shape is the documented one at scale)
  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedFilter: org.apache.spark.util.sketch.BloomFilter = _

  override def nullSafeEval(b: Any, v: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    if (!(bytes eq cachedBytes) && !java.util.Arrays.equals(bytes, cachedBytes)) {
      cachedFilter = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      cachedBytes = bytes
    }
    cachedFilter.mightContainLong(v.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addMutableState("byte[]", "bloomCachedBytes")
    val cf = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "bloomCachedFilter")
    nullSafeCodeGen(ctx, ev, (b, v) => {
      s"""
         |if ($b != $cb && !java.util.Arrays.equals($b, $cb)) {
         |  try {
         |    $cf = org.apache.spark.util.sketch.BloomFilter
         |      .readFrom(new java.io.ByteArrayInputStream($b));
         |  } catch (java.io.IOException e) {
         |    throw new RuntimeException("malformed bloom filter bytes", e);
         |  }
         |  $cb = $b;
         |}
         |${ev.value} = $cf.mightContainLong($v);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Session registration for Spark's Bloom-filter expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are fully codegen'd
  * catalyst expressions that Spark itself uses for runtime join filters
  * (InjectRuntimeFilter), but it does not expose them in the SQL registry.
  * Registered here under `bloom_filter_agg` / `might_contain` (the upstream
  * intended names), they become the mergeable-membership primitive for
  * 100 TB ingest: build one compact filter over the kept corpus's digests,
  * broadcast it, and let every new shard drop its definitely-new rows
  * WITHOUT joining the corpus — only the filter's "maybe" rows (fpp-bounded)
  * reach the exact anti-join. No false negatives, so exact-output rewrites
  * stay exact (`ops.Dedup.bloomIncrementalDedup`).
  */
object BloomFunctions {

  /** One binary Bloom filter over a LONG column (xxhash64 the values first).
    * `expectedItems` sizes the filter; `numBits` bounds memory
    * (bits ≈ −n·ln(fpp)/ln²2; 0.01 fpp ≈ 9.6 bits/item).
    */
  def bloomFilterAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    Kernels.call("bloom_filter_agg", hashed, lit(expectedItems), lit(numBits))

  /** Membership probe: false ⇒ DEFINITELY absent; true ⇒ maybe present. */
  def mightContain(bloom: Column, hashed: Column): Column =
    Kernels.call("might_contain", bloom, hashed)

  /** bits for a target false-positive probability */
  def bitsFor(expectedItems: Long, fpp: Double): Long =
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
}
