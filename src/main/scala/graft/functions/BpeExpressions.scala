package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Serializable BPE merge-table wrapper: ships the compact pair array;
  * the rank hash map rebuilds lazily after deserialization on each
  * executor (transient), so a broadcast carries ~50k short strings, not
  * a JVM HashMap graph.
  */
final class BpeLookup(val merges: Array[(String, String)]) extends Serializable {
  @transient lazy val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      val (l, r) = merges(i)
      val prev = m.put(l + " " + r, i)
      require(prev == null, s"duplicate merge pair ($l,$r)")
      i += 1
    }
    m
  }
}

/** Deterministic greedy byte-pair-encoding token counter — the subword
  * budgeting primitive behind sequence packing (t29): whitespace/char token
  * counts under-budget real tokenizers, so packSequences can take BPE counts
  * instead.
  *
  * Algorithm is the public GPT-2 merge procedure: a word starts as its
  * character sequence; repeatedly the adjacent pair with the LOWEST merge
  * rank is merged (all non-overlapping occurrences, left to right) until no
  * adjacent pair is in the table. Token count = sum over whitespace-split
  * words of the terminal symbol count.
  *
  * Two merge tables, both honoring the BPE construction invariant — every
  * merge's operands are single characters or the product of an EARLIER
  * merge. Under that invariant the batch merge (all occurrences per chosen
  * pair) and the one-occurrence-at-a-time fixpoint reach the same terminal
  * state, which is what lets a SQL oracle replay the table as a recursive
  * join-loop (BpeExpressionsSpec property-checks the equivalence):
  * - `mergesV1` — 28 compiled-in entries (bpe_count). Zero side channel:
  *   1000 executors need no broadcast.
  * - [[BpeV2]] — a production-SCALE vocabulary (50,000 merges over a
  *   two-level construction), deterministically GENERATED so both engines
  *   can rebuild it, shipped to executors as a Spark broadcast
  *   (bpe_count_v2) — the side-channel pattern a real ~50k-merge tokenizer
  *   (whose table is trained, not generatable) needs at cluster scale.
  *
  * Scale notes: both kernels are static JVM methods over the row's own
  * text — codegen'd call site, no per-row allocation beyond the symbol
  * buffer, zero shuffle. v2's broadcast is ~1 MB of short strings sent once
  * per executor, and its 50k-entry rank map exercises REAL hash-lookup
  * behavior (collisions, cache misses) that a 28-entry table never does.
  */
object Bpe {

  /** v1 merge table, rank order. Pairs over lowercase ASCII; multi-level
    * (th+e, bl+e, in+e, sc+an, ar+k, er+y) so the greedy rank loop is
    * genuinely exercised, not just a bigram lookup.
    */
  val mergesV1: Array[(String, String)] = Array(
    "t" -> "h", "th" -> "e", "e" -> "r", "a" -> "n", "i" -> "n",
    "o" -> "w", "a" -> "r", "s" -> "t", "a" -> "l", "b" -> "l",
    "bl" -> "e", "u" -> "e", "d" -> "a", "t" -> "a", "k" -> "e",
    "in" -> "e", "j" -> "o", "h" -> "a", "s" -> "c", "sc" -> "an",
    "ar" -> "k", "er" -> "y", "g" -> "g", "r" -> "t", "o" -> "m",
    "r" -> "e", "o" -> "r", "g" -> "e")

  /** construction invariant: operands are single chars or earlier products */
  def checkInvariant(merges: Array[(String, String)]): Unit = {
    val produced = scala.collection.mutable.Set[String]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.length == 1 || produced.contains(l),
        s"merge $i left '$l' not produced by an earlier merge")
      require(r.length == 1 || produced.contains(r),
        s"merge $i right '$r' not produced by an earlier merge")
      produced += l + r
    }
  }

  val lookupV1: BpeLookup = new BpeLookup(mergesV1)
  locally {
    checkInvariant(mergesV1)
    lookupV1.rankOf // force the duplicate-pair check at class init
  }

  /** Greedy BPE over one word under the given table: terminal symbols. */
  def tokenizeWordWith(t: BpeLookup, word: String): List[String] = {
    if (word.isEmpty) return Nil
    val rankOf = t.rankOf
    val merges = t.merges
    var syms = new Array[String](word.length)
    var i = 0
    while (i < word.length) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var n = word.length
    while (n > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      i = 0
      while (i < n - 1) {
        val r = rankOf.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) return syms.take(n).toList
      // merge all non-overlapping occurrences of that pair, left to right
      val (bl, br) = merges(best)
      val out = new Array[String](n)
      var o = 0
      i = 0
      while (i < n) {
        if (i < n - 1 && syms(i) == bl && syms(i + 1) == br) {
          out(o) = bl + br; o += 1; i += 2
        } else { out(o) = syms(i); o += 1; i += 1 }
      }
      syms = out; n = o
    }
    syms.take(n).toList
  }

  /** Greedy BPE over one word under the v1 table. Exposed for the spec. */
  def tokenizeWord(word: String): List[String] =
    tokenizeWordWith(lookupV1, word)

  /** Terminal symbol count of one word (allocation-light hot path). */
  def wordTokenCount(word: String): Int = tokenizeWord(word).length

  /** BPE token count of a whole text under the given table: sum over
    * whitespace-split words. Static entry point for the codegen'd
    * expressions (both v1 and the broadcast v2 route here).
    */
  def countTokensWith(t: BpeLookup, text: UTF8String): Int = {
    if (text == null) return 0
    val s = text.toString
    var total = 0
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) total += tokenizeWordWith(t, s.substring(start, i)).length
    }
    total
  }

  /** v1 whole-text count — static entry point for bpe_count's codegen. */
  def countTokens(text: UTF8String): Int = countTokensWith(lookupV1, text)
}

/** Production-scale vocabulary, deterministically generated so both the
  * JVM kernel and the SQL oracle can rebuild the SAME table with no side
  * file:
  * - ranks 0..675: all 26×26 lowercase bigrams, rank(c1,c2) = i1·26 + i2;
  * - ranks 676..49999: (bigram, bigram) pairs in index order,
  *   rank = 676 + idx(s1)·676 + idx(s2) — operands are products of the
  *   level-1 merges, so the construction invariant holds by construction
  *   (and is re-checked at init).
  * Greedy dynamics under this table are genuinely multi-level: a word
  * first coalesces into bigrams in rank order (NOT positional pairing —
  * the lowest-rank bigram anywhere merges first, so "abc" → [ab, c], not
  * [a, bc]), then adjacent bigram pairs whose combined rank made the cut
  * merge into 4-grams.
  */
object BpeV2 {
  val VocabSize = 50000

  def generateMerges(size: Int): Array[(String, String)] = {
    require(size > 676 && size <= 676 + 676 * 676,
      s"v2 vocab size out of range: $size")
    val letters = Array.tabulate(26)(i => ('a' + i).toChar.toString)
    val bigrams = Array.tabulate(676)(x => letters(x / 26) + letters(x % 26))
    val out = new Array[(String, String)](size)
    var k = 0
    var i = 0
    while (i < 26) {
      var j = 0
      while (j < 26) { out(k) = (letters(i), letters(j)); k += 1; j += 1 }
      i += 1
    }
    var x = 0
    while (k < size) {
      out(k) = (bigrams(x / 676), bigrams(x % 676)); x += 1; k += 1
    }
    out
  }

  lazy val merges: Array[(String, String)] = {
    val m = generateMerges(VocabSize)
    Bpe.checkInvariant(m)
    m
  }
  lazy val lookup: BpeLookup = new BpeLookup(merges)
}

/** string → int BPE token count under the compiled-in v1 merge table. */
case class BpeCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "bpe_count"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_count requires STRING, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    Bpe.countTokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Bpe.countTokens($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** string → int BPE token count under the broadcast v2 (50k-merge) table.
  * The broadcast handle is a constructor member, NOT a child: the codegen
  * path pins it into the generated class via addReferenceObj and reads
  * `.value()` per partition-lifetime (the lookup's rank map deserializes
  * once per executor) — the same pattern Spark's own
  * BloomFilterMightContain uses for its filter bytes.
  */
case class BpeCountV2(child: Expression, table: Broadcast[BpeLookup])
    extends UnaryExpression {
  override def prettyName: String = "bpe_count_v2"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_count_v2 requires STRING, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    Bpe.countTokensWith(table.value, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeTableBc", table,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Bpe.countTokensWith((graft.functions.BpeLookup)$bcRef.value(), $c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Column-level entry points (through [[Kernels.call]]) and the v2
  * table's broadcast. */
object BpeFunctions {
  // one broadcast of the v2 table per SparkContext (sessions of the same
  // context share it; entries die with the context in these single-context
  // processes)
  private val bcCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Broadcast[BpeLookup]]()

  def tableV2(spark: SparkSession): Broadcast[BpeLookup] =
    bcCache.computeIfAbsent(spark.sparkContext,
      sc => sc.broadcast(BpeV2.lookup))

  def bpeCount(text: Column): Column = Kernels.call("bpe_count", text)

  def bpeCountV2(text: Column): Column = Kernels.call("bpe_count_v2", text)
}
