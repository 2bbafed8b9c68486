package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused sorted-distinct-hashed-shingle kernel — ONE pass over the lowered
  * text instead of the five-expression pipeline it replaces
  * (`array_sort(transform(array_distinct(flatten(transform(split(lower(t))…`)
  * whose intermediate string arrays dominated every shingle-family operator
  * at the 100× rehearsal (26 s of d15's 95 s PER re-derivation of the doc
  * frame — and the plan re-derives it up to four times).
  *
  * Bit-compatibility with the SQL formulation it replaces
  * ([[graft.ops.Dedup.sortedHashedShingles]]): because the token separator
  * is a SINGLE space, every word k-gram `array_join(slice(tokens,i,k), ' ')`
  * is literally the SUBSTRING of `lower(text)` from token i's first byte to
  * token i+k−1's last byte — empty tokens from consecutive spaces included —
  * so the kernel hashes byte RANGES in place (XXH64, Spark's xxhash64 seed
  * 42) with zero gram-string allocation. 0x20 never occurs inside a UTF-8
  * multibyte sequence, so byte-level token scanning is charset-safe.
  * `split` semantics mirrored exactly: limit −1 (trailing empty tokens
  * kept; "" → one empty token), and with fewer than k tokens the single
  * gram is the whole joined string — i.e. the whole lowered text.
  * Distinct-then-sort commutes with hashing to sort-then-dedup on the
  * hashes (equal strings hash equal; a 64-bit cross-gram collision merging
  * two distinct grams is the documented ~1e-13 tolerance every hashed-
  * shingle oracle already carries). The equality spec asserts
  * array-identical output against the SQL pipeline on real and adversarial
  * fixtures.
  *
  * Collation: assumes the default UTF8_BINARY collation, as
  * [[FeatureBucketKernel]] does — `UTF8String.toLowerCase` is `lower()`
  * only under UTF8_BINARY.
  */
object ShingleKernel {
  private val SEED = 42L // Spark's xxhash64 default seed

  def sortedHashedShingles(text: UTF8String, k: Int): ArrayData = {
    val lower = text.toLowerCase
    val base = lower.getBaseObject
    val off = lower.getBaseOffset
    val n = lower.numBytes
    // token start offsets under single-space splitting with limit -1:
    // starts(i) = byte index of token i; token i ends at starts(i+1)-1
    var tokens = 1
    var i = 0
    while (i < n) {
      if (lower.getByte(i) == 0x20) tokens += 1
      i += 1
    }
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < n) {
      if (lower.getByte(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = n + 1 // sentinel: token i spans [starts(i), starts(i+1)-1)
    val grams = math.max(1, tokens - k + 1)
    val hashes = new Array[Long](if (tokens < k) 1 else grams)
    if (tokens < k) {
      // fewer than k tokens → one gram: the whole joined string == the
      // whole lowered text
      hashes(0) = XXH64.hashUnsafeBytes(base, off, n, SEED)
    } else {
      var g = 0
      while (g < grams) {
        val s = starts(g)
        val e = starts(g + k) - 1 // last byte of token g+k-1 (exclusive)
        hashes(g) = XXH64.hashUnsafeBytes(base, off + s, e - s, SEED)
        g += 1
      }
    }
    java.util.Arrays.sort(hashes)
    // in-place dedup of the sorted run
    var w = 0
    i = 0
    while (i < hashes.length) {
      if (w == 0 || hashes(i) != hashes(w - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    val out = if (w == hashes.length) hashes else java.util.Arrays.copyOf(hashes, w)
    new GenericArrayData(out)
  }
}

/** (string, k) → sorted distinct ARRAY<BIGINT> of xxhash64'd word k-grams —
  * see [[ShingleKernel]]. k rides as a plain literal child → generic
  * named-extension-function wire path.
  */
case class ShingleHashes(left: Expression, right: Expression)
  extends BinaryExpression {
  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires (STRING, INT), got $other")
    }

  override protected def nullSafeEval(text: Any, k: Any): Any =
    ShingleKernel.sortedHashedShingles(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, k) =>
      s"${ev.value} = graft.functions.ShingleKernel.sortedHashedShingles($text, $k);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object ShingleFunctions {
  def shingleHashes(text: Column, k: Int): Column =
    Kernels.call("shingle_hashes", text, lit(k))
}
