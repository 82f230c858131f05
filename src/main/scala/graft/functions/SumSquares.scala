package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd Σx² over an `array<float>` column, accumulated in
  * DOUBLE in index order — the single-array companion of
  * [[CosineSimilarity]]'s fused loop, and bit-identical to DuckDB's
  * `list_sum(list_transform(v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))`
  * on the guarded (dense, finite — [[FiniteVector]]) embedding relation.
  * Exists because the HOF form ([[GraftFunctions.l2norm]]) never enters
  * whole-stage codegen and this sits on corpus-profile scans.
  */
case class SumSquares(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def inputTypes = Seq(ArrayType(FloatType))

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * x; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val x = ctx.freshName("x")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = (double) $a.getFloat($i);
         |  $s += $x * $x;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sum_squares"
}

object SumSquares {
  /** Column-API entry point. */
  def apply(a: Column): Column =
    bridge.toColumn(SumSquares(bridge.toExpression(a)))
}
