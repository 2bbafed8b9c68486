package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Exact Jaccard of two SORTED distinct long arrays, thresholded, with early
  * termination — the verify-stage kernel of the near-dup family
  * (`ops.Dedup`). Returns the jaccard as DOUBLE when ≥ threshold, NULL
  * otherwise.
  *
  * Why not `array_intersect`: that builds a hash set PER PAIR (one
  * allocation-heavy O(|A|+|B|) pass that always runs to completion). A
  * near-dup verify stage evaluates hundreds of thousands of candidate pairs
  * of which ~0.1% qualify; for the 99.9% the merge-scan proves the jaccard
  * upper bound `(inter + min(remA, remB)) / (|A|+|B| − …)` falls below the
  * threshold within a few elements and bails. Zero allocation, pure ALU
  * loop, whole-stage codegen'd — measured ~3× on the d03 verify stage.
  *
  * Correctness: when the scan breaks early, the true intersection is
  * provably < the minimum needed to reach the threshold (the bound is
  * monotone), so NULL is exact, not approximate. The epsilon on `need`
  * only ever delays the break — never a wrong NULL at the boundary.
  * Inputs must be sorted ascending and duplicate-free (the producer sorts
  * once per document; pairs reuse the sorted arrays many times).
  */
case class SortedJaccardGe(first: Expression, second: Expression,
                           third: Expression) extends TernaryExpression {
  override def prettyName: String = "sorted_jaccard_ge"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<BIGINT>, DOUBLE), got ($a, $b, $t)")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val thr = t.asInstanceOf[Double]
    val na = x.numElements(); val nb = y.numElements()
    val need = thr * (na + nb) / (1.0 + thr) - 1e-7
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb &&
        inter + math.min(na - i, nb - j) >= need) {
      val xa = x.getLong(i); val xb = y.getLong(j)
      if (xa == xb) { inter += 1; i += 1; j += 1 }
      else if (xa < xb) i += 1
      else j += 1
    }
    val jac = inter.toDouble / (na + nb - inter)
    if (jac >= thr) jac else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter"); val need = ctx.freshName("need")
      val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
      val jac = ctx.freshName("jac")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |double $need = $t * ($na + $nb) / (1.0 + $t) - 1e-7;
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb &&
         |    $inter + java.lang.Math.min($na - $i, $nb - $j) >= $need) {
         |  long $xa = $a.getLong($i); long $xb = $b.getLong($j);
         |  if ($xa == $xb) { $inter++; $i++; $j++; }
         |  else if ($xa < $xb) $i++; else $j++;
         |}
         |double $jac = (double) $inter / ($na + $nb - $inter);
         |if ($jac >= $t) { ${ev.value} = $jac; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Exact CONTAINMENT |A∩B| / |A| of two sorted distinct long arrays,
  * thresholded, early-terminating — [[SortedJaccardGe]]'s asymmetric
  * sibling for near-SUPERSET detection ("doc B is doc A plus extra
  * paragraphs"), which symmetric jaccard misses once the extension is
  * large. Same merge-scan; the bail-out bound is
  * `inter + min(remA, remB) >= t·|A|` (monotone, so NULL is exact).
  */
case class SortedContainmentGe(first: Expression, second: Expression,
                               third: Expression) extends TernaryExpression {
  override def prettyName: String = "sorted_containment_ge"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<BIGINT>, DOUBLE), got ($a, $b, $t)")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val thr = t.asInstanceOf[Double]
    val na = x.numElements(); val nb = y.numElements()
    if (na == 0) return null
    val need = thr * na - 1e-7
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb &&
        inter + math.min(na - i, nb - j) >= need) {
      val xa = x.getLong(i); val xb = y.getLong(j)
      if (xa == xb) { inter += 1; i += 1; j += 1 }
      else if (xa < xb) i += 1
      else j += 1
    }
    val c = inter.toDouble / na
    if (c >= thr) c else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter"); val need = ctx.freshName("need")
      val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
      val c = ctx.freshName("c")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |if ($na == 0) { ${ev.isNull} = true; } else {
         |double $need = $t * $na - 1e-7;
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb &&
         |    $inter + java.lang.Math.min($na - $i, $nb - $j) >= $need) {
         |  long $xa = $a.getLong($i); long $xb = $b.getLong($j);
         |  if ($xa == $xb) { $inter++; $i++; $j++; }
         |  else if ($xa < $xb) $i++; else $j++;
         |}
         |double $c = (double) $inter / $na;
         |if ($c >= $t) { ${ev.value} = $c; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object JaccardFunctions {

  /** per-(block, size-bucket) inline prefix-filtered qualifying pairs
    * (see BucketJaccardPairs) */
  def bucketJaccardPairs(items: Column, threshold: Double): Column =
    Kernels.call("bucket_jaccard_pairs", items, lit(threshold))

  def sortedJaccardGe(a: Column, b: Column, threshold: Double): Column =
    Kernels.call("sorted_jaccard_ge", a, b, lit(threshold))

  def sortedContainmentGe(a: Column, b: Column, threshold: Double): Column =
    Kernels.call("sorted_containment_ge", a, b, lit(threshold))
}
