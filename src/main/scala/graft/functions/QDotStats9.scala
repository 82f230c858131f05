package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Fused per-row quantized dot statistics against a reference vector:
  * `(x: array<float>, c: array<double>)` →
  * `struct<dq: bigint, mq: bigint>` with
  * dq = Σᵢ floor(xᵢ·cᵢ·10⁹), mq = Σᵢ floor(xᵢ²·10⁹) over
  * i < min(|x|, |c|).
  *
  * Each term quantizes to LONG BEFORE summing, so the sum is exact and
  * order-independent — bit-identical to the posexplode → join → two
  * SUM aggregates formulation it replaces in
  * [[graft.llm.Similarity.labelSeparation]] (r16: that form shuffled
  * dim× the corpus through a (g,pos) join just to compute a per-row
  * loop; this rides the scan inside whole-stage codegen).
  */
case class QDotStats9(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = QDotStats9.schema

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType))

  override def nullSafeEval(x: Any, c: Any): Any = QDotStats9.build(x, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, c) =>
      s"${ev.value} = graft.functions.QDotStats9.build($x, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "qdot_stats9"
}

object QDotStats9 {
  val schema: DataType = StructType(Seq(
    StructField("dq", LongType, nullable = false),
    StructField("mq", LongType, nullable = false)))

  def build(xa: Any, ca: Any): GenericInternalRow = {
    val x = xa.asInstanceOf[ArrayData]
    val c = ca.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), c.numElements())
    var dq = 0L; var mq = 0L; var i = 0
    while (i < n) {
      val xd = x.getFloat(i).toDouble
      dq += math.floor(xd * c.getDouble(i) * 1.0e9).toLong
      mq += math.floor(xd * xd * 1.0e9).toLong
      i += 1
    }
    new GenericInternalRow(Array[Any](dq, mq))
  }

  /** Column-API entry point. */
  def apply(x: Column, c: Column): Column =
    bridge.toColumn(QDotStats9(bridge.toExpression(x), bridge.toExpression(c)))
}
