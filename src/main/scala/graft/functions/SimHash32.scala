package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Width-bit SimHash (width ≤ 60) over a token array as a single native
  * expression.
  *
  * Bit b of the result is set iff the sum over tokens of ±1 (by bit b of
  * the token's md5-derived 60-bit hash, the base hash of
  * [[GraftFunctions.md5Long]]) is positive — identical values to the HOF
  * composition in [[GraftFunctions.simhash32]]'s oracle SQL, which
  * derives bit b with `(md5long(t) >> b) & 1`, but one md5 + one
  * width-counter update per token instead of a width-element array-zip
  * lambda chain per token (measured ~6× at sf0.1, width 32).
  *
  * A wider fingerprint is what banded dedup needs at scale: it lets band
  * width (= buckets per band, 2^(width/bands)) and band count (= the
  * hamming-distance recall guarantee, maxDist < bands) be chosen
  * independently.
  *
  * Empty array → 0L (all bit-sums are 0, no bit set) — same as the
  * aggregate-with-init-0 form. Null elements are skipped (they hash to
  * null in the HOF form and contribute no vote).
  */
case class SimHashN(child: Expression, width: Int) extends UnaryExpression with ExpectsInputTypes {
  require(width > 0 && width <= 60, s"simhash width must be in (0, 60], got $width")

  override def dataType: DataType = LongType

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    SimHashN.build(input.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashN.build($a, $width);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = s"simhash$width"
}

object SimHashN {
  def apply(toks: Column, width: Int): Column =
    bridge.toColumn(SimHashN(bridge.toExpression(toks), width))

  /** Shared eval body for interpreted and generated paths. */
  def build(arr: ArrayData, width: Int): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](width)
    val md = Md5Base.newDigest()
    var i = 0
    while (i < n) {
      val e = arr.getUTF8String(i)
      if (e != null) {
        val h = Md5Base.be64(md, e.getBytes) >>> 4 // top 60 bits — same base hash as md5Long
        var b = 0
        while (b < width) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < width) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Column factory of the 32-bit SimHash, `SimHashN(toks, 32)`. */
object SimHash32 {
  def apply(toks: Column): Column = SimHashN(toks, 32)
}
