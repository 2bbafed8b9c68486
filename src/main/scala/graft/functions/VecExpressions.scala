package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the embedding hot paths.
  *
  * `Similarity.cosine` composed from `zip_with`/`aggregate` is correct but
  * interpreted (higher-order lambdas don't codegen) and traverses the arrays
  * three times (dot, |a|, |b|). These expressions run inside whole-stage
  * codegen as a single fused loop over primitive doubles — the preference
  * order of the build guide: built-ins first, a native Expression with
  * doGenCode when the built-ins can't deliver the hot-path shape.
  *
  * Numerics are kept bit-identical to the HOF formulation: the same
  * sequential IEEE fold order, `dot / (sqrt(na) * sqrt(nb))` — so swapping
  * implementations cannot move any oracle-checked value.
  */
abstract class VecBinaryExpression extends BinaryExpression {
  // ExpectsInputTypes is unusable outside the sql package in Spark 4
  // (AbstractDataType is private[sql]); check explicitly instead
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<DOUBLE> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
}

/** sum(a[i] * b[i]) — sequential fold, identical to aggregate(zip_with(...)). */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))) in ONE pass. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sum((a[i] - b[i])^2) — squared L2, for IVF cell assignment. */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d; var i = 0
    while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static multi-table sign-LSH bucket kernel, callable from generated Java.
  * One tight primitive loop computes ALL tables×planes hyperplane signs —
  * the composed `when(vec_dot(vec, literal_plane) >= 0, …)` formulation
  * inlines 78 separate dot loops into one generated method, which blows
  * past HotSpot's JIT method-size limit and runs in the bytecode
  * interpreter (measured: the d05 bucket stage alone took 40.6 s of the
  * 47 s query at 30× data; this kernel computes identical buckets in a
  * JIT-compiled loop).
  */
object LshHash {
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** EXACTLY [[graft.ops.Similarity]]'s hyperplanes: seeded Gaussians,
    * plane-major draw order — bucket assignments are bit-identical to the
    * composed formulation. */
  def planes(total: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((total, dim), { _ =>
      val rnd = new java.util.Random(42)
      Array.fill(total * dim)(rnd.nextGaussian())
    })

  /** bucket(t) = Σ_p [dot(vec, H[t·planes+p]) ≥ 0]·2^p  +  t·2^32; the dot
    * truncates at min(|vec|, dim) like vec_dot over a dim-length literal. */
  def buckets(vec: ArrayData, h: Array[Double], tables: Int,
              planesPerTable: Int, dim: Int): Array[Long] = {
    val m = math.min(vec.numElements(), dim)
    val v = new Array[Double](m)
    var i = 0
    while (i < m) { v(i) = vec.getDouble(i); i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var p = 0
      while (p < planesPerTable) {
        val base = (t * planesPerTable + p) * dim
        var s = 0.0d
        var j = 0
        while (j < m) { s += v(j) * h(base + j); j += 1 }
        if (s >= 0.0d) bits |= (1L << p)
        p += 1
      }
      out(t) = bits + (t.toLong << 32)
      t += 1
    }
    out
  }
}

/** array<double> → array<bigint> multi-table sign-LSH buckets; tables,
  * planesPerTable and dim ride as int literals (the minhash_sig convention —
  * non-literals reject loudly at build time).
  */
case class LshBuckets(child: Expression, tables: Int, planesPerTable: Int,
                      dim: Int) extends UnaryExpression {
  override def prettyName: String = "lsh_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires ARRAY<DOUBLE>, got $other")
  }

  @transient private lazy val h: Array[Double] =
    LshHash.planes(tables * planesPerTable, dim)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      LshHash.buckets(v.asInstanceOf[ArrayData], h, tables, planesPerTable, dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hRef = ctx.addReferenceObj("lshPlanes", h, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.LshHash.buckets($c, $hRef, $tables, $planesPerTable, $dim))")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static top-k-nearest-centroid kernel: one pass over a centroid MATRIX
  * column (array<array<double>>), returning the k nearest (d, cell) pairs
  * ordered by (d, cell). Replaces the join-fanout shape — exploding one row
  * per (vector, centroid) replicates the 520-byte vector array per centroid
  * and feeds a corpus×centroids-row window (measured: 7.4M wide rows for
  * s07's fine assignment at 30× data; the kernel keeps one row per
  * (vector, coarse cell) and the window input drops ~15×).
  */
object VecTopK {
  /** k smallest (l2sq(vec, cents[i]), ids[i]) by (d, cell); insertion into
    * a bounded sorted buffer — nCents is small (≈√nlist), k smaller. */
  def topCells(vec: ArrayData, cents: ArrayData, ids: ArrayData,
               k: Int): GenericArrayData = {
    val m = vec.numElements()
    val v = new Array[Double](m)
    var i = 0
    while (i < m) { v(i) = vec.getDouble(i); i += 1 }
    val nc = cents.numElements()
    val keep = math.min(k, nc)
    val bd = new Array[Double](keep)
    val bc = new Array[Long](keep)
    var used = 0
    var c = 0
    while (c < nc) {
      val cent = cents.getArray(c)
      val id = ids.getLong(c)
      val n = math.min(m, cent.numElements())
      var s = 0.0d
      var j = 0
      while (j < n) { val d = v(j) - cent.getDouble(j); s += d * d; j += 1 }
      // insert (s, id) if it beats the current worst, ordered by (d, cell)
      if (used < keep || s < bd(used - 1) ||
          (s == bd(used - 1) && id < bc(used - 1))) {
        var pos = if (used < keep) used else keep - 1
        while (pos > 0 && (bd(pos - 1) > s ||
            (bd(pos - 1) == s && bc(pos - 1) > id))) {
          bd(pos) = bd(pos - 1); bc(pos) = bc(pos - 1); pos -= 1
        }
        bd(pos) = s; bc(pos) = id
        if (used < keep) used += 1
      }
      c += 1
    }
    val out = new Array[Any](used)
    i = 0
    while (i < used) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(bd(i), bc(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** (array<double>, array<array<double>>, array<bigint>, k) →
  * array<struct<d: double, cell: bigint>> — the k nearest centroids of the
  * matrix, ordered by (distance, cell id). k rides as an int literal.
  */
case class VecTopCells(first: Expression, second: Expression,
                       third: Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "vec_top_cells"
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cell", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          ArrayType(LongType, _)) if k > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vec_top_cells requires (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>, " +
          s"ARRAY<BIGINT>) and k > 0, got $other / k=$k")
    }

  override protected def nullSafeEval(v: Any, c: Any, d: Any): Any =
    VecTopK.topCells(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, d) =>
      s"${ev.value} = graft.functions.VecTopK.topCells($v, $c, $d, $k);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Column-level entry points: each resolves its kernel by name through
  * [[Kernels.call]] — no private Column constructors needed. */
object VecFunctions {

  /** per-quantizer-cell inline-verified qualifying pairs (see CellPairs) */
  def cellPairs(items: Column, threshold: Double, targetOcc: Int,
                probeCells: Int): Column =
    Kernels.call("cell_pairs", items, lit(threshold), lit(targetOcc), lit(probeCells))

  def vecTopCells(vec: Column, cents: Column, ids: Column, k: Int): Column =
    Kernels.call("vec_top_cells", vec, cents, ids, lit(k))

  def lshBuckets(vec: Column, tables: Int, planesPerTable: Int,
                 dim: Int): Column =
    Kernels.call("lsh_buckets", vec, lit(tables), lit(planesPerTable), lit(dim))

  def vecDot(a: Column, b: Column): Column = Kernels.call("vec_dot", a, b)
  def vecCosine(a: Column, b: Column): Column = Kernels.call("vec_cosine", a, b)
  def vecL2Sq(a: Column, b: Column): Column = Kernels.call("vec_l2sq", a, b)
}
