package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst kernels for product quantization (ops.Pq).
  *
  * The HOF formulation (transform ∘ aggregate ∘ zip_with over the codebook
  * literal) is the semantic reference, but interpreted lambda evaluation
  * allocates ~m·k small arrays PER ROW — measured ~4 ms/row on the encode
  * path, which made a 2000-row fixture take seconds and would make a
  * 100 TB corpus unencodable. These run the same arithmetic as one fused
  * primitive loop inside whole-stage codegen (the same pattern as
  * VecExpressions), bit-identical fold order.
  */

/** pq_encode(vec ARRAY<DOUBLE>, books ARRAY<ARRAY<ARRAY<DOUBLE>>>) →
  * ARRAY<INT>: per subspace j, the index of the L2-nearest codebook entry.
  * Ties break on the LOWER index (strict less-than), matching
  * array_position-of-array_min in the HOF reference. */
case class PqEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<ARRAY<ARRAY<DOUBLE>>>), got $l and $r")
    }

  override def nullSafeEval(v: Any, b: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]; val books = b.asInstanceOf[ArrayData]
    val m = books.numElements()
    val ds = if (m == 0) 0 else vec.numElements() / m
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      val k = book.numElements()
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cent = book.getArray(c)
        var d = 0.0; var i = 0
        while (i < ds) {
          val t = vec.getDouble(j * ds + i) - cent.getDouble(i)
          d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best; j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, b) => {
      val m = ctx.freshName("m"); val ds = ctx.freshName("ds")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      val book = ctx.freshName("book"); val k = ctx.freshName("k")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c"); val cent = ctx.freshName("cent")
      val d = ctx.freshName("d"); val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val ad = classOf[ArrayData].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $m = $b.numElements();
         |int $ds = $m == 0 ? 0 : $v.numElements() / $m;
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  $ad $book = $b.getArray($j);
         |  int $k = $book.numElements();
         |  int $best = 0; double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $k; $c++) {
         |    $ad $cent = $book.getArray($c);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $ds; $i++) {
         |      double $t = $v.getDouble($j * $ds + $i) - $cent.getDouble($i);
         |      $d += $t * $t;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $out[$j] = $best;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pq_adc(codes ARRAY<INT>, tables ARRAY<ARRAY<DOUBLE>>) → DOUBLE:
  * sum_j tables[j][codes[j]] — the asymmetric-distance lookup. */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT>, ARRAY<ARRAY<DOUBLE>>), got $l and $r")
    }

  override def nullSafeEval(c: Any, t: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]; val tables = t.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), tables.numElements())
    var s = 0.0; var j = 0
    while (j < m) { s += tables.getArray(j).getDouble(codes.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m"); val s = ctx.freshName("s"); val j = ctx.freshName("j")
      s"""
         |int $m = java.lang.Math.min($c.numElements(), $t.numElements());
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $s += $t.getArray($j).getDouble($c.getInt($j));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqFunctions {
  def pqEncode(vec: Column, books: Column): Column = Kernels.call("pq_encode", vec, books)
  def pqAdc(codes: Column, tables: Column): Column = Kernels.call("pq_adc", codes, tables)
}
