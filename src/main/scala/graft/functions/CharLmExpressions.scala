package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-bigram log-probability fold — the scoring loop of the corpus
  * char-LM (t14/t27) as ONE codegen'd kernel call per document.
  *
  * The SQL composition it replaces (explode-free, but a literal-map
  * `element_at` per bigram) paid a LINEAR scan of the map entry array per
  * lookup — ~30 comparisons per bigram against a ~700-entry zipf-ordered
  * model, the dominant constant of the two biggest non-iteration queries
  * at 100× (t14 35.5 s, t27 44.1 s solo). This kernel builds a java
  * HashMap ONCE per plan from the same literal map child and folds the
  * document in a single pass: O(1) lookup per bigram, zero per-gram string
  * churn beyond the 2-codepoint key, no array materialization of grams.
  *
  * Arithmetic is REPLAYED EXACTLY from the SQL form so every existing
  * oracle still matches bit-for-bit: per-entry scaled value =
  * `round(log(p) · 1e9)` with Spark's HALF_UP BigDecimal rounding
  * (precomputed once per model entry at table build), per-doc sum in a
  * wrapping long, missing bigram → NULL result (SQL's `log(NULL)`
  * propagation). Bigrams are CODE-POINT pairs, matching Spark's
  * `substring` semantics on supplementary characters.
  *
  * The model child must be FOLDABLE (a literal map): the table is built
  * from one constant evaluation, and the plan — kernel name + the same
  * map literal — round-trips the wire like any named scalar function.
  */
case class CharLmFold(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "charlm_fold"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, DoubleType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, MapType(StringType, DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName model must be a foldable (literal) map")
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (STRING, MAP<STRING, DOUBLE>), got ($a, $b)")
    }

  override def dataType: DataType = CharLmFunctions.outType
  override def nullable: Boolean = true

  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] =
    CharLmFunctions.buildTable(right.eval(null).asInstanceOf[MapData])

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else CharLmFunctions.fold(t.asInstanceOf[UTF8String], table)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the map child is deliberately NOT code-generated: a CreateMap would
    // rebuild the literal per row; the prebuilt table rides as a reference
    val l = left.genCode(ctx)
    val tbl = ctx.addReferenceObj("charlmTable", table, "java.util.HashMap")
    val row = ctx.freshName("charlmRow")
    ev.copy(code = code"""
      ${l.code}
      boolean ${ev.isNull} = true;
      InternalRow ${ev.value} = null;
      if (!${l.isNull}) {
        InternalRow $row = graft.functions.CharLmFunctions.fold(${l.value}, $tbl);
        if ($row != null) { ${ev.isNull} = false; ${ev.value} = $row; }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Mutable bigram-count buffer for [[CharLmFitAgg]]: a plain HashMap plus
  * an overflow latch — once the distinct-gram count passes the cap the fit
  * is abandoned (evaluates to NULL) and the caller falls back to the
  * distributed-model path, preserving the CJK/large-charset OOM guard the
  * old frame-count probe provided.
  */
final class GramCounts(val m: java.util.HashMap[String, Long],
                       var overflowed: Boolean) extends Serializable

/** Corpus bigram-count fit as ONE TypedImperativeAggregate pass — the model
  * half of the char-LM (t14/t27). The explode+groupBy it replaces
  * materialized one row per corpus bigram (~300 per document) through a
  * hash aggregate; this keeps a per-task HashMap of the ~charset² distinct
  * grams and merges maps across partitions, so the exchange carries ~one
  * small map per task instead of partial rows. Capped at `maxEntries`
  * distinct grams: past the cap the aggregate latches overflow and
  * evaluates NULL, telling the caller to take the join path instead of
  * collecting an unbounded model to the driver.
  */
case class CharLmFitAgg(child: Expression, maxEntries: Int,
                        override val mutableAggBufferOffset: Int = 0,
                        override val inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[GramCounts] {
  override def prettyName: String = "charlm_fit_agg"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = MapType(StringType, LongType, false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if maxEntries > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"$prettyName maxEntries must be positive: $maxEntries")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got $t")
  }

  override def createAggregationBuffer(): GramCounts =
    new GramCounts(new java.util.HashMap[String, Long](), false)

  override def update(buf: GramCounts, input: InternalRow): GramCounts = {
    val v = child.eval(input)
    if (v == null || buf.overflowed) return buf
    val cps = v.asInstanceOf[UTF8String].toString.codePoints().toArray
    var i = 0
    while (i < cps.length - 1 && !buf.overflowed) {
      val g = new String(cps, i, 2)
      buf.m.merge(g, 1L, (a, b) => a + b)
      if (buf.m.size > maxEntries) buf.overflowed = true
      i += 1
    }
    buf
  }

  override def merge(a: GramCounts, b: GramCounts): GramCounts = {
    if (a.overflowed || b.overflowed) { a.overflowed = true; return a }
    b.m.forEach((k, v) => { a.m.merge(k, v, (x, y) => x + y); () })
    if (a.m.size > maxEntries) a.overflowed = true
    a
  }

  override def eval(buf: GramCounts): Any = {
    if (buf.overflowed) return null
    val n = buf.m.size
    val keys = new Array[Any](n); val vals = new Array[Any](n)
    var i = 0
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = UTF8String.fromString(e.getKey); vals(i) = e.getValue
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, vals)
  }

  override def serialize(buf: GramCounts): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBoolean(buf.overflowed)
    out.writeInt(buf.m.size)
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramCounts = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val over = in.readBoolean()
    val n = in.readInt()
    val m = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) { m.put(in.readUTF(), in.readLong()); i += 1 }
    new GramCounts(m, over)
  }

  override def withNewMutableAggBufferOffset(o: Int): CharLmFitAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CharLmFitAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object CharLmFunctions {
  val outType: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("slp", LongType, nullable = false)))

  /** literal MapData → bigram → round(log(p)·1e9) as a long (Spark's
    * HALF_UP Round, computed once per entry, never per gram) */
  def buildTable(md: MapData): java.util.HashMap[String, java.lang.Long] = {
    require(md != null, "charlm_fold model map must not be null")
    val keys = md.keyArray(); val vals = md.valueArray()
    val m = new java.util.HashMap[String, java.lang.Long](md.numElements() * 2)
    var i = 0
    while (i < md.numElements()) {
      val gram = keys.getUTF8String(i).toString
      // a null map slot reads back as 0.0 through MapData.getDouble, and
      // log(p <= 0) is -Infinity — both would make BigDecimal.valueOf throw
      // an opaque NumberFormatException at plan build. Fail loudly instead
      // (charLmScore-produced models always have counts >= 1; only the
      // public charlmFold API can reach this).
      if (vals.isNullAt(i)) throw new IllegalArgumentException(
        s"charlm_fold model map has a null probability for bigram '$gram'")
      val p = vals.getDouble(i)
      if (!(p > 0.0) || p.isInfinite) throw new IllegalArgumentException(
        s"charlm_fold model probability for bigram '$gram' must be a finite " +
        s"positive double (log(p) must be finite), got $p")
      val scaled = java.math.BigDecimal.valueOf(math.log(p) * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      m.put(gram, scaled)
      i += 1
    }
    m
  }

  /** one pass over the document's code points; null on any missing bigram
    * (the SQL form's log(NULL) propagation) or on < 2 code points */
  def fold(text: UTF8String,
           table: java.util.HashMap[String, java.lang.Long]): InternalRow = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length - 1
    if (n < 1) return null
    var sum = 0L
    var i = 0
    while (i < n) {
      val v = table.get(new String(cps, i, 2))
      if (v == null) return null
      sum += v.longValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, sum))
  }

  def charlmFold(text: Column, model: Column): Column =
    Kernels.call("charlm_fold", text, model)

  /** one-pass bigram-count fit; NULL when the model exceeds maxEntries
    * distinct grams (caller falls back to the distributed-model path) */
  def charlmFitAgg(text: Column, maxEntries: Int): Column =
    Kernels.call("charlm_fit_agg", text, org.apache.spark.sql.functions.lit(maxEntries))

  /** test hook: the exact per-entry scaling the table build applies */
  def scaledLog(p: Double): Long =
    java.math.BigDecimal.valueOf(math.log(p) * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
}
