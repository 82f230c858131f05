package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** md5Long of every word w-shingle of a token array, in one native
  * pass: value-identical to `transform(Shingles(tokens, w), g =>
  * md5Long(g))` — the digest consumes exactly the bytes of the
  * space-joined shingle STRING (null tokens skipped with their
  * separator, the [[Shingles]] rule), and each hash is the digest's
  * top 60 bits (the engine-wide md5Long convention, so SQL twins keep
  * using `CAST('0x'||substring(md5(gram),1,15) AS BIGINT)` on the
  * literal gram text).
  *
  * Why native: the posting-list family (winnowing, frequent-n-gram
  * masking, cross-source overlap, exact-substring seeds) explodes a
  * corpus-sized shingle stream and hashes every gram; the composed
  * form materializes each gram as a UTF8String, then routes it
  * through hex-string md5 → substring → conv. Here the digest updates
  * straight from the token byte ranges — no gram string, no hex
  * roundtrip — and the exploded stream carries 8-byte longs instead
  * of gram text. FunctionsSpec pins value parity against the composed
  * form.
  *
  * Empty result when the document has fewer than `w` tokens (the
  * Shingles boundary rule).
  */
case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.build(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleHashes.build($a, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = s"shingle_hashes($w)"
}

object ShingleHashes {

  private val SpaceByte = ' '.toByte

  def apply(tokens: Column, w: Int): Column =
    bridge.toColumn(ShingleHashes(bridge.toExpression(tokens), w))

  /** Shared eval body: interpreted `nullSafeEval` and the generated
    * code both call this. */
  def build(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val md = Md5Base.newDigest()
    val out = new Array[Any](n - w + 1)
    var i = 0
    while (i <= n - w) {
      md.reset()
      var first = true
      var j = 0
      while (j < w) {
        val t = toks.getUTF8String(i + j)
        if (t != null) {
          if (!first) md.update(SpaceByte)
          md.update(t.getBytes)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      var be = 0L
      var k = 0
      while (k < 8) { be = (be << 8) | (d(k) & 0xFFL); k += 1 }
      out(i) = java.lang.Long.valueOf(be >>> 4)
      i += 1
    }
    new GenericArrayData(out)
  }
}
