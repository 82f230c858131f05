package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** n-gram-heuristic language ID in ONE pass over the string.
  *
  * The HOF formulation builds one ranked struct per candidate language,
  * each calling `filter(tokens(lower(text)))` — CollapseProject re-inlines
  * the token array into every consumer, so each document is tokenized
  * ~2×|languages| times (the same blow-up SURVEY §8 documents for md5).
  * This expression scans the words once, counts marker hits per profile,
  * and returns the argmax code directly.
  *
  * Value contract (identical to the HOF form and the SQL oracle):
  * score(lang) = |marker tokens| / max(|tokens|, 1) computed in DOUBLE;
  * winner = highest score, ties broken by SMALLEST language code. Tokens
  * are single-space-split non-empty runs, matched case-insensitively
  * (ASCII fold) against the marker lists.
  */
case class LangId(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any = LangId.build(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LangId.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lang_id"
}

object LangId {
  /** Marker-token profiles, sorted by language code (the tie-break order).
    * Same lists as [[graft.llm.TextAnalysis.langMarkers]]. */
  val Profiles: Array[(String, Array[String])] = Array(
    "de" -> Array("der", "die", "und", "das", "ist"),
    "en" -> Array("the", "and", "of", "to", "is"),
    "es" -> Array("el", "la", "que", "los", "es"),
    "fr" -> Array("le", "la", "et", "les", "est"))

  /** Case-insensitive (ASCII + 'İ'→'i') marker membership for a substring,
    * without allocating — same fold as [[TextCounts.isStopword]] (the
    * oracle's `lower(t) IN (...)` simple-maps U+0130 back into ASCII). */
  private[functions] def hasMarker(markers: Array[String], s: String,
                                   start: Int, len: Int): Boolean = {
    var m = 0
    while (m < markers.length) {
      val mk = markers(m)
      if (mk.length == len) {
        var j = 0
        var ok = true
        while (ok && j < len) {
          val c = s.charAt(start + j)
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar
                   else if (c == 'İ') 'i' else c
          if (lc != mk.charAt(j)) ok = false
          j += 1
        }
        if (ok) return true
      }
      m += 1
    }
    false
  }

  def apply(text: Column): Column = bridge.toColumn(LangId(bridge.toExpression(text)))

  /** Shared eval body for interpreted and generated paths. */
  def build(input: Any): UTF8String = {
    val s = input.toString
    val n = s.length
    val profiles = Profiles
    val counts = new Array[Long](profiles.length)
    var nWords = 0L
    var i = 0
    while (i < n) {
      if (s.charAt(i) != ' ') {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        val len = i - start
        nWords += 1
        var p = 0
        while (p < profiles.length) {
          if (hasMarker(profiles(p)._2, s, start, len)) counts(p) += 1
          p += 1
        }
      } else i += 1
    }
    val denom = math.max(nWords, 1L).toDouble
    // profiles are sorted by code: iterate in order keeping the first
    // strict maximum ⇒ highest score, ties to the smallest code — the
    // same pick as the oracle's ORDER BY score DESC, code
    var best = 0
    var bestScore = counts(0).toDouble / denom
    var p = 1
    while (p < profiles.length) {
      val sc = counts(p).toDouble / denom
      if (sc > bestScore) { best = p; bestScore = sc }
      p += 1
    }
    UTF8String.fromString(profiles(best)._1)
  }
}
