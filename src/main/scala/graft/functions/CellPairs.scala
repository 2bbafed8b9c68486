package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Deterministic Lloyd's k-means: stride init over the input order, no RNG,
  * empty clusters keep their previous centroid. Lives in `functions` (not
  * `ops`) so the per-cell sub-quantizer in [[CellPairsKernel]] can run it
  * INSIDE a task; `ops.Pq.lloyd` delegates here (one canonical kernel —
  * centroids must be partitioning-independent and bit-replayable).
  */
object KmeansKernel {
  def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = pts.length
    val d = pts(0).length
    var cents = Array.tabulate(math.min(k, n))(i => pts((i.toLong * n / k).toInt % n).clone())
    if (cents.length < k) cents ++= Array.fill(k - cents.length)(cents(0).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val best = nearest(cents, p)
        val s = sums(best); var i = 0
        while (i < d) { s(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Index of the centroid nearest `p` by squared L2 (the first on ties). */
  def nearest(cents: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0; var i = 0
      val cent = cents(c)
      while (i < p.length) { val t = p(i) - cent(i); dist += t * t; i += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }
}

/** Per-cell qualifying-pair kernel for cluster-blocked semantic dedup
  * (`ops.Similarity.semanticNearDups`): takes ONE quantizer cell's members
  * as an id-sorted array<struct<id, vec>> and emits every pair with
  * cosine ≥ threshold, verifying INLINE — no candidate-pair row is ever
  * materialized into a shuffle (the former verify stage joined 8-byte pair
  * ids back to 1 KB vectors TWICE; at a 100× rehearsal the second join
  * shuffled (pair, vec_a) rows ≈ 70 M × 1 KB and dominated the operator).
  *
  * Scale guard — recursive occupancy-bounded sub-quantization: a cell above
  * 8×targetOcc members is split by a LOCAL deterministic k-means
  * (k = ⌈occ/targetOcc⌉) trained on the cell's OWN members inside this
  * task, each member probing its `probeCells` nearest subcells (the same
  * boundary-straddle argument as the top-level quantizer), recursing while
  * splits make progress. This removes the driver-side training-sample cap
  * (16,384 rows) as an occupancy bound: a skewed or sample-starved top
  * level can hand this kernel a 100× hot cell and the in-cell candidate
  * volume still ends ∝ occ·targetOcc, not occ². A point-mass cell k-means
  * cannot split falls back to all-pairs — there every pair qualifies, so
  * the work is output-proportional (the floor). Cosine arithmetic is the
  * exact VecCosine fold order (`dot / (sqrt(na)·sqrt(nb))`, sequential
  * IEEE sums), so the inline verify cannot move any oracle-checked value.
  */
object CellPairsKernel {
  private val OUT_SCHEMA = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  def outType: DataType = ArrayType(OUT_SCHEMA, containsNull = false)

  def pairs(items: ArrayData, threshold: Double, targetOcc: Int,
            probeCells: Int): ArrayData = {
    val n = items.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val r = items.getStruct(i, 2)
      ids(i) = r.getLong(0)
      vecs(i) = r.getArray(1).toDoubleArray()
      i += 1
    }
    // norms once per member — same sequential fold as VecCosine's na/nb
    val norms = new Array[Double](n)
    i = 0
    while (i < n) {
      val v = vecs(i); var s = 0.0d; var j = 0
      while (j < v.length) { s += v(j) * v(j); j += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    // multi-probe puts a member in up to `probeCells` subcells per level;
    // a pair sharing several meets several times — emit once
    val seen = new java.util.HashSet[Long]()
    val splitOcc = 8L * targetOcc

    def emit(a: Int, b: Int): Unit = {
      if (seen.add((a.toLong << 32) | (b.toLong & 0xffffffffL))) {
        val va = vecs(a); val vb = vecs(b)
        val m = math.min(va.length, vb.length)
        var dot = 0.0d; var j = 0
        while (j < m) { dot += va(j) * vb(j); j += 1 }
        val sim = dot / (norms(a) * norms(b))
        if (sim >= threshold) out += InternalRow(ids(a), ids(b), sim)
      }
    }

    def allPairs(idx: Array[Int]): Unit = {
      var a = 0
      while (a < idx.length) {
        var b = a + 1
        while (b < idx.length) { emit(idx(a), idx(b)); b += 1 }
        a += 1
      }
    }

    def split(idx: Array[Int], depth: Int): Unit = {
      if (idx.length <= splitOcc || depth >= 8) { allPairs(idx); return }
      val pts = idx.map(vecs(_))
      val k = math.max(2, math.ceil(idx.length.toDouble / targetOcc).toInt)
      val cents = KmeansKernel.lloyd(pts, k, iters = 5)
      val sub = Array.fill(cents.length)(new scala.collection.mutable.ArrayBuffer[Int])
      val pc = math.min(probeCells, cents.length)
      var m = 0
      while (m < idx.length) {
        val p = vecs(idx(m))
        // top-pc nearest subcentroids; ties keep the LOWER subcell (strict
        // `<` insertion in scan order) — deterministic for id-sorted input
        val bd = Array.fill(pc)(Double.MaxValue)
        val bc = Array.fill(pc)(-1)
        var c = 0
        while (c < cents.length) {
          var dist = 0.0d; var j = 0; val ct = cents(c)
          while (j < p.length) { val t = p(j) - ct(j); dist += t * t; j += 1 }
          var pos = pc
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          if (pos < pc) {
            var q = pc - 1
            while (q > pos) { bd(q) = bd(q - 1); bc(q) = bc(q - 1); q -= 1 }
            bd(pos) = dist; bc(pos) = c
          }
          c += 1
        }
        var q = 0
        while (q < pc) { if (bc(q) >= 0) sub(bc(q)) += idx(m); q += 1 }
        m += 1
      }
      // no progress (point mass / collapsed centroids): every pair here is
      // about to qualify anyway — all-pairs is the output-proportional floor
      var maxSub = 0
      var c = 0
      while (c < sub.length) {
        if (sub(c).length > maxSub) maxSub = sub(c).length; c += 1
      }
      if (maxSub >= idx.length) { allPairs(idx); return }
      c = 0
      while (c < sub.length) {
        if (sub(c).length >= 2) split(sub(c).toArray, depth + 1)
        c += 1
      }
    }

    split(Array.range(0, n), 0)
    new GenericArrayData(out.toArray)
  }
}

/** (array<struct<id bigint, vec array<double>>>, threshold, target_occ,
  * probe_cells) → array<struct<id_a, id_b, sim>> — see [[CellPairsKernel]].
  * Input MUST be sorted ascending by id (guaranteed by the caller's
  * sort_array over an id-first struct) so id_a < id_b and the kernel is
  * order-deterministic. All three knobs ride as plain literal children,
  * so the wire form is the generic named-extension-function path.
  */
case class CellPairs(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
  extends QuaternaryExpression {
  override def prettyName: String = "cell_pairs"
  override def dataType: DataType = CellPairsKernel.outType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _),
          DoubleType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cell_pairs requires (ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>>, " +
          s"DOUBLE, INT, INT), got $other")
    }

  override protected def nullSafeEval(items: Any, th: Any, to: Any, pc: Any): Any =
    CellPairsKernel.pairs(items.asInstanceOf[ArrayData],
      th.asInstanceOf[Double], to.asInstanceOf[Int], pc.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (items, th, to, pc) =>
      s"${ev.value} = graft.functions.CellPairsKernel.pairs($items, $th, $to, $pc);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}
