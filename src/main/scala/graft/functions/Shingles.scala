package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word w-shingles as a single native expression: overlapping windows of
  * `w` tokens joined by a single space; empty array when the document has
  * fewer than `w` tokens. Identical values to the HOF composition
  * (`transform(sequence(...), i -> array_join(slice(tokens, i+1, w)))`)
  * but one native pass instead of per-shingle lambda-chain evaluation —
  * the shingle build dominated the minhash pipeline once the signature
  * itself went native. Null tokens are skipped inside a window (the
  * `array_join` of the HOF form drops null elements and their separator).
  *
  * Codegen: a static-call `doGenCode` (the same [[Shingles.build]] body
  * the interpreted path runs) rather than CodegenFallback — the
  * generated projection calls the helper directly instead of routing
  * through a boxed `eval(InternalRow)` per row, keeping the shingle
  * pipelines (minhash banding, Jaccard, n-gram stats, contamination)
  * fully inside whole-stage codegen.
  */
case class Shingles(child: Expression, w: Int) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    Shingles.build(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Shingles.build($a, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingles"
}

object Shingles {
  def apply(tokens: Column, w: Int): Column =
    bridge.toColumn(Shingles(bridge.toExpression(tokens), w))

  /** Shared eval body: interpreted `nullSafeEval` and the generated
    * code both call this (single implementation — no codegen/eval
    * divergence possible). */
  def build(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - w) {
      val buf = new scala.collection.mutable.ArrayBuffer[UTF8String](2 * w - 1)
      var j = 0
      while (j < w) {
        val t = toks.getUTF8String(i + j)
        if (t != null) {
          if (buf.nonEmpty) buf += space
          buf += t
        }
        j += 1
      }
      out(i) = UTF8String.concat(buf.toSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
