package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** All integer text statistics in ONE pass over the string.
  *
  * The HOF formulations (split + filter + aggregate chains) re-tokenize
  * the document once per metric — a quality-gated curation pipeline
  * tokenizes 5×. This expression walks the string once and returns a
  * struct of counts; the double-valued ratios/scores are derived from the
  * counts afterward in ordinary Column arithmetic, so the values (and the
  * SQL oracles) are unchanged.
  *
  * Field semantics (ASCII corpus; matches the HOF/oracle definitions):
  *  - n_chars: string length in characters
  *  - n_words / sum_word_len: single-space-split tokens with len > 0
  *  - n_stop: words whose lowercase form is in [[TextCounts.Stopwords]]
  *  - n_alnum / n_bpe: maximal [A-Za-z0-9] runs; Σ ceil(len/4)
  *  - n_punct: characters in the ASCII punctuation class (\p{Punct})
  */
case class TextCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = TextCounts.schema

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any = TextCounts.build(input)

  // static-call codegen: the generated projection invokes the same
  // helper the interpreted path runs — no boxed eval(InternalRow)
  // round-trip per row, no codegen/eval divergence possible
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextCounts.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "text_counts"
}

object TextCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_alnum", LongType, nullable = false),
    StructField("n_bpe", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false)))

  /** Same list as [[graft.llm.TextAnalysis.stopwords]]. */
  val Stopwords: Array[String] =
    Array("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Case-insensitive member check on a substring without allocating.
    * Folds ASCII plus U+0130 'İ'→'i' — the one non-ASCII uppercase whose
    * DuckDB simple lowercase lands back in ASCII, so the oracle's
    * `lower(t) IN (...)` would hit on "İN" while a pure-ASCII fold missed
    * (Σ→σ never reaches an ASCII stopword, no fold needed). */
  private[functions] def isStopword(s: String, start: Int, len: Int): Boolean = {
    var w = 0
    while (w < Stopwords.length) {
      val sw = Stopwords(w)
      if (sw.length == len) {
        var j = 0
        var ok = true
        while (ok && j < len) {
          val c = s.charAt(start + j)
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar
                   else if (c == 'İ') 'i' else c
          if (lc != sw.charAt(j)) ok = false
          j += 1
        }
        if (ok) return true
      }
      w += 1
    }
    false
  }

  def apply(text: Column): Column = bridge.toColumn(TextCounts(bridge.toExpression(text)))

  /** Shared eval body for interpreted and generated paths. */
  def build(input: Any): InternalRow = {
    val s = input.toString
    val n = s.length
    var nWords = 0L; var sumWordLen = 0L; var nStop = 0L
    var nAlnum = 0L; var nBpe = 0L; var nPunct = 0L
    // single-space word scan
    var i = 0
    while (i < n) {
      if (s.charAt(i) != ' ') {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        val len = i - start
        nWords += 1; sumWordLen += len
        if (isStopword(s, start, len)) nStop += 1
      } else i += 1
    }
    // alnum-run scan + punct count
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        var cc = c
        while (i < n && ((cc >= 'A' && cc <= 'Z') || (cc >= 'a' && cc <= 'z') || (cc >= '0' && cc <= '9'))) {
          i += 1
          if (i < n) cc = s.charAt(i)
        }
        val len = i - start
        nAlnum += 1; nBpe += (len + 3) / 4
      } else {
        if (c >= '!' && c <= '~' &&
          !((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))) nPunct += 1
        i += 1
      }
    }
    InternalRow(n.toLong, nWords, sumWordLen, nStop, nAlnum, nBpe, nPunct)
  }
}
