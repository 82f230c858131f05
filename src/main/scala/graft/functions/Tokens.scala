package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenizer as a single native expression — identical values
  * to the HOF composition `filter(split(text, " "), t => length(t) > 0)`
  * (split on every single 0x20 byte, drop empties; tabs/newlines are NOT
  * separators), optionally folding each token through the İ/Σ-safe
  * lowercase (`lower(translate(t, "İΣ", "iσ"))`) in the same pass.
  *
  * Why native: `split` + `filter` + (for folded callers) a `transform`
  * lambda are higher-order functions — CodegenFallback in Spark — so the
  * tokenize step of every text pipeline ran as interpreted per-element
  * lambda chains AND broke the enclosing whole-stage-codegen span. One
  * byte-scan pass replaces three array rebuilds; the 0x20 split is
  * UTF-8-safe (the byte never occurs inside a multibyte sequence), and
  * the fold takes a branch-free ASCII byte path, falling back to the
  * exact translate→toLowerCase op order for non-ASCII tokens (Σ→σ runs
  * BEFORE lowercase, so Java's final-sigma rule never fires — same as
  * the Column form; FunctionsSpec pins parity on adversarial inputs).
  *
  * Codegen: a static-call `doGenCode` (the same [[Tokens.build]] body the
  * interpreted path runs) rather than CodegenFallback, keeping token
  * pipelines fully inside whole-stage codegen.
  */
case class Tokens(child: Expression, fold: Boolean) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    Tokens.build(input.asInstanceOf[UTF8String], fold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.Tokens.build($t, $fold);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = if (fold) "tokens_folded" else "tokens"
}

object Tokens {
  def apply(text: Column, fold: Boolean): Column =
    bridge.toColumn(Tokens(bridge.toExpression(text), fold))

  /** Shared eval body: interpreted `nullSafeEval` and the generated code
    * both call this (single implementation — no codegen/eval divergence
    * possible). */
  def build(text: UTF8String, fold: Boolean): ArrayData = {
    val b = text.getBytes
    val n = b.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) {
          val tok = UTF8String.fromBytes(b, start, i - start)
          out += (if (fold) foldToken(b, start, i - start, tok) else tok)
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** İ/Σ-safe per-token lowercase, same op order as
    * `lower(translate(t, "İΣ", "iσ"))`: translate first, then lowercase.
    * ASCII tokens take a byte path (bit-equal to UTF8String's own ASCII
    * lowercase); anything else goes through the identical String ops. */
  private def foldToken(b: Array[Byte], off: Int, len: Int,
                        tok: UTF8String): UTF8String = {
    var ascii = true
    var i = off
    while (i < off + len) { if (b(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val o = new Array[Byte](len)
      var j = 0
      while (j < len) {
        val c = b(off + j)
        o(j) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        j += 1
      }
      UTF8String.fromBytes(o)
    } else {
      UTF8String.fromString(
        tok.toString.replace('İ', 'i').replace('Σ', 'σ').toLowerCase)
    }
  }
}
