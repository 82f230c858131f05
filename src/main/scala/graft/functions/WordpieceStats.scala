package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Greedy longest-match subword tokenization stats in ONE pass — the
  * wordpiece/unigram-LM token counter the whitespace+BPE-ish heuristics
  * in [[TextCounts]] approximate: each word is consumed left-to-right,
  * at every position the LONGEST vocabulary piece that prefixes the
  * remainder is taken (no continuation-marker distinction — the
  * unigram-LM greedy variant), and a character no piece covers emits
  * one UNK and advances by one. Because every ASCII letter and digit
  * is in the vocabulary as a 1-char piece, UNK counts isolate exactly
  * the out-of-alphabet mass (punctuation runs, non-Latin scripts) —
  * the signal a tokenizer-budget audit wants separated.
  *
  * Input contract: the CALLER pre-folds the text (the engine-wide
  * lower+'İΣ'→'iσ' fold), this expression only splits on single
  * spaces and matches; the vocabulary is a shared literal
  * ([[WordpieceStats.Vocab]]) interpolated token-identically into the
  * DuckDB oracle's recursive-CTE twin, so both engines run the same
  * greedy automaton.
  *
  * Returns struct(n_words, n_tokens, n_unk): space-split non-empty
  * words, matched-piece count, UNK count — total emitted tokens is
  * n_tokens + n_unk; ratios derive afterward in Column arithmetic. */
case class WordpieceStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = WordpieceStats.schema

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any = WordpieceStats.build(input)

  // static-call codegen: generated and interpreted paths share one body
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordpieceStats.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "wordpiece_stats"
}

object WordpieceStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false)))

  /** The shared subword vocabulary: common English merges + every
    * lowercase letter and digit as 1-char fallback pieces. Greedy
    * longest-match needs no piece ordering in the LIST (the automaton
    * takes the max length at each position — ties are impossible, two
    * equal-length matching pieces would be the same string); the
    * oracle interpolates this exact list. */
  val Vocab: Array[String] = Array(
    "the", "ing", "tion", "and", "ent", "ion", "ter", "ment", "ness",
    "able", "ight", "ough", "con", "pro", "per", "com",
    "ed", "er", "es", "en", "an", "on", "at", "or", "is", "it",
    "al", "ar", "st", "te", "to", "of", "ou", "le", "he", "se",
    "ti", "nd", "ha", "as", "in", "re", "ng", "ve", "ra", "ro",
    "li", "ri", "ne", "me", "de", "co", "ex", "un", "ch", "sh",
    "th", "wh", "qu", "ck", "ll", "ss", "ee", "oo") ++
    (('a' to 'z') ++ ('0' to '9')).map(_.toString)

  /** The vocabulary as a DuckDB list literal — the oracle twin embeds
    * this string, so engine and oracle can never drift. */
  lazy val vocabSqlList: String =
    Vocab.map(p => s"'$p'").mkString("[", ", ", "]")

  /** Pieces bucketed by first char (ASCII), longest first — the greedy
    * automaton probes only its bucket, longest candidate wins. */
  private val byFirst: Array[Array[String]] = {
    val buckets = Array.fill(128)(List.empty[String])
    Vocab.foreach { p =>
      val c = p.charAt(0).toInt
      buckets(c) = p :: buckets(c)
    }
    buckets.map(_.sortBy(-_.length).toArray)
  }

  def apply(text: Column): Column =
    bridge.toColumn(WordpieceStats(bridge.toExpression(text)))

  /** Longest vocab piece prefixing s[pos, wordEnd), 0 if none. */
  private def longestMatch(s: String, pos: Int, wordEnd: Int): Int = {
    val c = s.charAt(pos).toInt
    if (c >= 128) return 0
    val cand = byFirst(c)
    var i = 0
    while (i < cand.length) {
      val p = cand(i)
      if (pos + p.length <= wordEnd) {
        var j = 1 // first char matched by bucket
        var ok = true
        while (ok && j < p.length) {
          if (s.charAt(pos + j) != p.charAt(j)) ok = false
          j += 1
        }
        if (ok) return p.length
      }
      i += 1
    }
    0
  }

  /** Shared eval body for interpreted and generated paths. */
  def build(input: Any): InternalRow = {
    val s = input.toString
    val n = s.length
    var nWords = 0L; var nTok = 0L; var nUnk = 0L
    var i = 0
    while (i < n) {
      if (s.charAt(i) != ' ') {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        val end = i
        nWords += 1
        var pos = start
        while (pos < end) {
          val m = longestMatch(s, pos, end)
          if (m > 0) { nTok += 1; pos += m }
          else { nUnk += 1; pos += 1 }
        }
      } else i += 1
    }
    InternalRow(nWords, nTok, nUnk)
  }
}
