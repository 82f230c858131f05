package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * SURVEY.md §7.3: the higher-order-function form
  * ([[GraftFunctions.cosine]]) allocates a zipped intermediate array and
  * evaluates three lambda chains per row; on a 100 TB brute-force
  * similarity scan that constant factor dominates. This expression emits a
  * single fused primitive loop (dot + both norms in one pass, double
  * accumulation in index order — bit-identical results to the HOF form and
  * the DuckDB oracle).
  *
  * Semantics: 0.0 when either norm is 0; null if either input is null;
  * extra elements of the longer array are ignored (inputs are fixed-dim).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = (double) $a.getFloat($i);
         |  final double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    bridge.toColumn(CosineSimilarity(bridge.toExpression(a), bridge.toExpression(b)))
}
