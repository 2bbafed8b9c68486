package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused md5-prefix feature-bucket kernel — ONE pass over the lowered text
  * instead of the six-expression pipeline it replaces
  * (`transform(concat(filter(split(lower(t),"[^a-z]+"),…), zip_with(slice…,
  * slice…, concat(x,'_',y))), f -> substring(md5(f),1,2))`), whose
  * intermediate token/bigram STRING arrays dominated the t21/t22 scoring
  * passes at the 100× rehearsal exactly like the shingle-string arrays
  * dominated d15/d16 before [[ShingleKernel]].
  *
  * Bit-compatibility with the SQL formulation ([[graft.ops.TextOps
  * .hashedFeatureBuckets]]):
  *  - tokens = maximal `[a-z]` runs of `lower(text)`. `split(lower(t),
  *    "[^a-z]+")` splits on CHARACTERS outside a–z and the filter drops the
  *    empty edge tokens; in UTF-8, `a`–`z` are the single bytes 0x61–0x7a
  *    and every byte of any other character is either a different single
  *    byte or ≥ 0x80, so byte-level run scanning over the SAME
  *    `UTF8String.toLowerCase` output is exact (the [[ShingleKernel]]
  *    charset argument).
  *  - features = unigrams in token order, then adjacent bigrams joined by
  *    `'_'` in token order (none when fewer than two tokens) — the
  *    composed `concat(toks, zip_with(…))` order, preserved exactly.
  *  - bucket = first two hex chars of `md5(feature)` = the first digest
  *    byte rendered `%02x`. The digest is fed the feature's UTF-8 bytes
  *    (pure ASCII by construction), so it equals `md5()` of the built
  *    feature string without ever building it; the 256 two-char bucket
  *    strings are interned constants.
  * The equality spec (OpsSpec, "fused feature_buckets kernel == the SQL
  * composition") asserts array-identical output against the SQL pipeline
  * on the documents fixture and adversarial inputs (empty, no-letter,
  * unicode-case, single-token strings).
  *
  * Collation: assumes the default UTF8_BINARY collation. The kernel lowers
  * with `UTF8String.toLowerCase`, which is what `lower()` computes under
  * UTF8_BINARY; under another session collation Spark's `lower()` is
  * collation-aware and may lower differently, so the equality no longer
  * holds.
  */
object FeatureBucketKernel {
  /** interned "00".."ff" bucket strings — outputs are references */
  private val HEX: Array[UTF8String] =
    Array.tabulate(256)(i => UTF8String.fromString(f"$i%02x"))

  private val MD = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val UNDERSCORE: Array[Byte] = Array('_'.toByte)

  def featureBuckets(text: UTF8String): ArrayData = {
    val lower = text.toLowerCase
    val bytes = lower.getBytes // one contiguous copy for MessageDigest input
    val n = bytes.length
    // token spans: maximal runs of [a-z] bytes
    var tokens = 0
    var i = 0
    while (i < n) { // count first to size the arrays exactly
      if (bytes(i) >= 0x61 && bytes(i) <= 0x7a) {
        tokens += 1
        while (i < n && bytes(i) >= 0x61 && bytes(i) <= 0x7a) i += 1
      } else i += 1
    }
    val starts = new Array[Int](tokens)
    val ends = new Array[Int](tokens)
    var t = 0
    i = 0
    while (i < n) {
      if (bytes(i) >= 0x61 && bytes(i) <= 0x7a) {
        starts(t) = i
        while (i < n && bytes(i) >= 0x61 && bytes(i) <= 0x7a) i += 1
        ends(t) = i
        t += 1
      } else i += 1
    }
    val nFeats = tokens + (if (tokens >= 2) tokens - 1 else 0)
    val out = new Array[AnyRef](nFeats)
    val md = MD.get()
    var f = 0
    while (f < tokens) { // unigrams, token order
      md.reset()
      md.update(bytes, starts(f), ends(f) - starts(f))
      out(f) = HEX(md.digest()(0) & 0xff)
      f += 1
    }
    var b = 0
    while (b + 1 < tokens) { // adjacent bigrams "t1_t2", token order
      md.reset()
      md.update(bytes, starts(b), ends(b) - starts(b))
      md.update(UNDERSCORE)
      md.update(bytes, starts(b + 1), ends(b + 1) - starts(b + 1))
      out(tokens + b) = HEX(md.digest()(0) & 0xff)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** string → ARRAY<STRING> of 2-hex-char md5-prefix buckets (unigrams then
  * adjacent bigrams) — see [[FeatureBucketKernel]]. Unary → generic
  * named-extension-function wire path.
  */
case class FeatureBuckets(child: Expression) extends UnaryExpression {
  override def prettyName: String = "feature_buckets"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"feature_buckets requires STRING, got $other")
  }

  override protected def nullSafeEval(text: Any): Any =
    FeatureBucketKernel.featureBuckets(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.FeatureBucketKernel.featureBuckets($text);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object FeatureBucketFunctions {
  def featureBuckets(text: Column): Column = Kernels.call("feature_buckets", text)
}
