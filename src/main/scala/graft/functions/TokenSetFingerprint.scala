package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical token-set fingerprint in one native pass: md5 of the sorted
  * distinct single-space tokens of the (already lowercased) input.
  *
  * Value-identical to the composed form
  * `md5(array_join(array_sort(array_distinct(tokens(text))), " "))` —
  * the sort uses UTF8String binary order, exactly what `array_sort` uses
  * and what the DuckDB oracle's `list_sort` produces on ASCII — but one
  * tokenize+TreeSet walk instead of four collection expressions, three of
  * which re-materialize the token array (the split+filter HOF itself is
  * interpreted per element). The empty token set fingerprints as md5("")
  * on both engines.
  *
  * Mirrors the reference's "any function in the pipeline" surface
  * (reference: src/kafka_streams_clojure/api.clj:157-159) for the
  * curation fingerprint use-case at codegen-adjacent speed.
  */
case class TokenSetFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    TokenSetFingerprint.build(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenSetFingerprint.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "token_set_fingerprint"
}

object TokenSetFingerprint {
  def apply(text: Column): Column =
    bridge.toColumn(TokenSetFingerprint(bridge.toExpression(text)))

  /** Shared eval body for interpreted and generated paths. */
  def build(input: UTF8String): UTF8String = {
    val s = input.toString
    // distinct tokens in UTF8String binary order (== array_sort order)
    val set = new java.util.TreeSet[UTF8String]()
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.charAt(i) != ' ') {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        set.add(UTF8String.fromString(s.substring(start, i)))
      } else i += 1
    }
    val sb = new java.lang.StringBuilder
    val it = set.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) sb.append(' ')
      sb.append(it.next().toString)
      first = false
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(sb.toString.getBytes("UTF-8"))
    val hex = new Array[Char](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = Character.forDigit((d(j) >> 4) & 0xF, 16)
      hex(2 * j + 1) = Character.forDigit(d(j) & 0xF, 16)
      j += 1
    }
    UTF8String.fromString(new String(hex))
  }
}
