package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** The four 16-bit dHash bands of a payload in ONE pass over the raw
  * bytes — the native form of [[graft.llm.Multimodal.dHash]]'s cell
  * grid. The Column-composed form rendered the payload to a hex STRING
  * and read each of the 72 cells with `substr` — and `UTF8String
  * .substring` walks the string from the front (UTF-8 is
  * variable-width, even on pure-ASCII hex), so the grid cost
  * O(72·bytes) per row (measured: q_phash 1.2 s at sf0.1). Here each
  * cell is one array read of the byte at offset ⌊i·(n−1)/71⌋.
  *
  * Value contract (identical to the hex form and the SQL oracle):
  * cell i = unsigned byte at ⌊i·(n−1)/71⌋; bit (r, c) set when
  * cell(r·9+c) > cell(r·9+c+1); band j packs rows 2j, 2j+1 at bit
  * (r%2)·8+c. Returns array<long> [b0, b1, b2, b3], each < 2¹⁶.
  * Empty payloads return null (the caller filters n_bytes > 0). */
case class DHashBands(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    DHashBands.build(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.DHashBands.build($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "dhash_bands"
}

object DHashBands {

  def apply(payload: Column): Column =
    bridge.toColumn(DHashBands(bridge.toExpression(payload)))

  /** Shared eval body; null for empty payloads. */
  def build(payload: Array[Byte]): ArrayData = {
    val n = payload.length
    if (n == 0) return null
    val cells = new Array[Int](72)
    var i = 0
    while (i < 72) {
      cells(i) = payload((i.toLong * (n - 1) / 71).toInt) & 0xFF
      i += 1
    }
    val bands = new Array[Any](4)
    var j = 0
    while (j < 4) {
      var b = 0L
      var rr = 0
      while (rr < 2) {
        val r = 2 * j + rr
        var c = 0
        while (c < 8) {
          if (cells(r * 9 + c) > cells(r * 9 + c + 1))
            b |= 1L << (rr * 8 + c)
          c += 1
        }
        rr += 1
      }
      bands(j) = b
      j += 1
    }
    new GenericArrayData(bands)
  }
}
