package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native single-pass expression — the
  * canonical first step of text curation: decomposed sequences (e +
  * combining acute) and precomposed codepoints (é) must hash/dedup/shingle
  * identically, or every downstream content-hash operator silently treats
  * equal texts as distinct. Spark has no built-in normalizer; DuckDB's
  * `nfc_normalize` is the oracle twin (both implement Unicode Standard
  * Annex #15).
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and
  * true for virtually all real-world text — the quick-check skips the
  * decompose/recompose machinery unless actually needed.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.build(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NfcNormalize.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  def apply(text: Column): Column = bridge.toColumn(NfcNormalize(bridge.toExpression(text)))

  /** Shared eval body; returns the input reference untouched when the
    * string is already NFC (the overwhelmingly common case). */
  def build(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}
