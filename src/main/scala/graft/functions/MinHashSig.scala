package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Static hashing kernel, callable from generated Java (top-level object →
  * static forwarders). Each shingle hashes ONCE (FNV-1a 64 over UTF-8 bytes);
  * the k independent hash functions derive from that base via splitmix64
  * finalization of (base ^ seed_j·φ) — the standard "one hash + k mixes"
  * MinHash construction, avoiding k string traversals per element.
  */
object VecHash {
  final val GOLDEN = 0x9E3779B97F4A7C15L

  def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001B3L; i += 1 }
    h
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + GOLDEN
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit SimHash over an array<string>: per non-null token, fnv1a hash
    * bits vote +1/−1 per position; bit b of the result is set when votes are
    * positive. */
  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature of an array<string>: sig[j] = min over elements of
    * splitmix64(fnv1a(elem) ^ j·φ). Null elements are skipped.
    */
  def minhash(arr: ArrayData, numHashes: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = fnv1a(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < numHashes) {
          val h = splitmix64(base ^ (j.toLong * GOLDEN))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    sig
  }

  /** FNV-1a 64 over the UTF-8 byte range [from, to) of `s` — equals
    * [[fnv1a]] of the substring's bytes with zero allocation. */
  def fnv1aRange(s: org.apache.spark.unsafe.types.UTF8String,
                 from: Int, to: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < to) { h ^= (s.getByte(i) & 0xffL); h *= 0x100000001B3L; i += 1 }
    h
  }

  /** Token start offsets of `lower` under single-space splitting with
    * limit −1 (the exact `split(text, ' ')` contract: trailing empty tokens
    * kept, "" → one empty token): starts(i) = first byte of token i, token i
    * ends at starts(i+1)−1; sentinel starts(tokens) = numBytes+1. Same
    * byte-range argument as [[ShingleKernel]]: 0x20 never occurs inside a
    * UTF-8 multibyte sequence, so byte scanning is charset-safe. */
  private def tokenStarts(lower: org.apache.spark.unsafe.types.UTF8String): Array[Int] = {
    val n = lower.numBytes
    var tokens = 1
    var i = 0
    while (i < n) { if (lower.getByte(i) == 0x20) tokens += 1; i += 1 }
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < n) {
      if (lower.getByte(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = n + 1
    starts
  }

  /** Fused text → MinHash signature: identical output to
    * `minhash(shingles(text, k), numHashes)` (the five-expression string
    * pipeline) with ZERO gram-string allocation. Each word k-gram
    * `array_join(slice(split(lower(text)), i, k), ' ')` is literally a byte
    * RANGE of the lowered text (single-space separator), so the per-gram
    * FNV-1a base hashes in place; `array_distinct` is dropped because min
    * is idempotent — duplicate grams cannot change any sig slot.
    * Assumes the default UTF8_BINARY collation, as [[ShingleKernel]] does:
    * `UTF8String.toLowerCase` is `lower()` only under UTF8_BINARY. */
  def minhashText(text: org.apache.spark.unsafe.types.UTF8String,
                  k: Int, numHashes: Int): Array[Long] = {
    val lower = text.toLowerCase
    val starts = tokenStarts(lower)
    val tokens = starts.length - 1
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    // fewer than k tokens → ONE gram: the whole joined string == the whole
    // lowered text (shingles()'s CASE branch)
    val kk = if (tokens < k) tokens else k
    val grams = if (tokens < k) 1 else tokens - k + 1
    var g = 0
    while (g < grams) {
      val base = fnv1aRange(lower, starts(g), starts(g + kk) - 1)
      var j = 0
      while (j < numHashes) {
        val h = splitmix64(base ^ (j.toLong * GOLDEN))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      g += 1
    }
    sig
  }

  /** Fused text → SimHash64: identical output to
    * `simhash(split(lower(text), ' '))` — every token (1-gram) hashes as a
    * byte range of the lowered text, duplicates and empty tokens included
    * exactly as `split` with limit −1 produces them. */
  def simhashText(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val lower = text.toLowerCase
    val starts = tokenStarts(lower)
    val tokens = starts.length - 1
    val votes = new Array[Int](64)
    var t = 0
    while (t < tokens) {
      val h = fnv1aRange(lower, starts(t), starts(t + 1) - 1)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** array<string> → bigint 64-bit SimHash; single codegen'd pass: each
  * token's FNV-1a hash bits vote ±1 per position, fingerprint bit b set when
  * the vote is positive.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    VecHash.simhash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecHash.simhash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (string, k, numHashes) → array<bigint> MinHash signature — the fused
  * text-input twin of [[MinHashSig]] (opt round 16): tokenizes and hashes
  * gram byte RANGES in one pass (see [[VecHash.minhashText]]) instead of
  * materializing the distinct gram-string array first. Output is
  * array-identical to `MinHashSig(shingles(text, k))` — MinHashSigSpec pins
  * it. k and numHashes ride as plain literal children → generic
  * named-extension-function wire path. */
case class MinHashSigText(first: Expression, second: Expression,
                          third: Expression) extends TernaryExpression {
  override def prettyName: String = "minhash_sig_text"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig_text requires (STRING, INT, INT), got $other")
    }

  override protected def nullSafeEval(text: Any, k: Any, n: Any): Any =
    new GenericArrayData(VecHash.minhashText(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, n) =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.VecHash.minhashText($t, $k, $n));")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** string → bigint SimHash64 — the fused text-input twin of [[SimHash64]]:
  * per-token byte-range hashing in one pass (see [[VecHash.simhashText]]);
  * bit-identical to `SimHash64(split(lower(text), ' '))`. */
case class SimHash64Text(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash64_text"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64_text requires STRING, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    VecHash.simhashText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecHash.simhashText($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> → array<bigint> MinHash signature; single codegen'd pass. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(VecHash.minhash(v.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.VecHash.minhash($c, $numHashes))")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashFunctions {
  def minhashSig(shingles: Column, numHashes: Int): Column =
    Kernels.call("minhash_sig", shingles, lit(numHashes))

  def simhash64(tokens: Column): Column = Kernels.call("simhash64", tokens)

  /** fused text → MinHash signature (== minhashSig(shingles(text, k), n)) */
  def minhashSigText(text: Column, shingleSize: Int, numHashes: Int): Column =
    Kernels.call("minhash_sig_text", text, lit(shingleSize), lit(numHashes))

  /** fused text → SimHash64 (== simhash64(split(lower(text), ' '))) */
  def simhash64Text(text: Column): Column = Kernels.call("simhash64_text", text)
}
