package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-linear classifier statistics in one native pass: the token
  * count and the exact integer margin Σ clfWeight(md5₆₀(tok) mod B) of
  * the whitespace tokens of `child`, as a struct(n_toks, margin_q).
  *
  * Value-identical to the composed form
  * `aggregate(tokens(text), 0L, (acc, t) => acc + ((conv(substring(
  * md5(t),1,15),16,10) % B) * 2654435761 % 2001 - 1000))` with
  * B = [[graft.llm.Selection.ClfBuckets]] — the md5₆₀ is the digest's
  * top 60 bits ([[Md5Base.be64]] >>> 4, the engine-wide md5Long
  * convention) so the DuckDB oracle twin is unchanged — but it runs as
  * ONE codegen'd static call: the `aggregate` higher-order function is
  * CodegenFallback in Spark, so the scorer previously interpreted a
  * 4-node expression tree per token AND allocated a UTF8String per
  * token for the md5 leaf. Here the digest reads the token's byte range
  * straight out of the document's backing array. Measured at sf0.1:
  * q_calibration_bins 2.4 s → 1.2 s, q_quality_classifier 0.49 s →
  * 0.19 s isolated (FunctionsSpec pins value parity against the
  * composed form on adversarial inputs).
  *
  * Tokenization matches [[Tokens]] with fold = false: split on every
  * single 0x20 byte, drop empties — tabs/newlines are NOT separators
  * (reference's pipeline-function surface: the engine mirrors
  * src/kafka_streams_clojure/api.clj:157-159's "any fn in the
  * pipeline", with this scorer as the curation-classifier instance).
  */
case class ClfStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ClfStats.Schema

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    ClfStats.build(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ClfStats.build($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "clf_stats"
}

object ClfStats {

  val Schema: StructType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("margin_q", LongType, nullable = false)))

  def apply(text: Column): Column =
    bridge.toColumn(ClfStats(bridge.toExpression(text)))

  /** Shared eval body: interpreted `nullSafeEval` and the generated
    * code both call this (single implementation — no codegen/eval
    * divergence possible). */
  def build(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val n = b.length
    val md = Md5Base.newDigest()
    var nToks = 0L
    var margin = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) {
          md.reset()
          md.update(b, start, i - start)
          val d = md.digest()
          var be = 0L
          var j = 0
          while (j < 8) { be = (be << 8) | (d(j) & 0xFFL); j += 1 }
          // md5Long convention: top 60 bits (conv of the first 15 hex
          // chars); bucket in [0, 63] so the Weyl product stays < 2^38
          val bucket = (be >>> 4) % graft.llm.Selection.ClfBuckets
          margin += bucket * 2654435761L % 2001L - 1000L
          nToks += 1L
        }
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nToks, margin))
  }
}
