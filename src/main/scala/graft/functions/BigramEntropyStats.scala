package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document conditional bigram entropy H(next | current) over a
  * token array, in one native scan call: struct(n_bigrams,
  * n_distinct_bigrams, entropy_q) with entropy_q = Σ_{distinct uv}
  * floor(c_uv/N · ln(c_u/c_uv) · 10⁹) as an exact LONG
  * (N = |tokens| − 1; c_u counts u as a bigram head).
  *
  * Value-identical to the relational form — explode bigrams, count per
  * (doc, u, v), head-count window, quantize each term, per-doc sum —
  * term for term: the double chain per distinct bigram is
  * `(double)c_uv / (double)N * Math.log((double)c_u / (double)c_uv)
  * * 1e9` in exactly the operand order Spark's Column arithmetic and
  * the DuckDB oracle twin evaluate, and the summed terms are LONGS, so
  * accumulation order cannot matter. What changes is the PLAN: the
  * per-document statistic computes inside the scan projection instead
  * of paying a corpus-sized bigram explode plus three exchanges
  * ((doc,u,v) hash agg → (doc,u) window → doc fold) for math that
  * never needed to leave the row. Measured at sf0.1:
  * q_bigram_entropy 1.7 s → scan-bound (FunctionsSpec pins parity
  * against the relational form).
  *
  * Documents with fewer than 2 tokens return n_bigrams = 0 (callers
  * filter them, matching the relational form's size ≥ 2 gate).
  */
case class BigramEntropyStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BigramEntropyStats.Schema

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    BigramEntropyStats.build(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BigramEntropyStats.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bigram_entropy_stats"
}

object BigramEntropyStats {

  val Schema: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false),
    StructField("entropy_q", LongType, nullable = false)))

  def apply(tokens: Column): Column =
    bridge.toColumn(BigramEntropyStats(bridge.toExpression(tokens)))

  /** Shared eval body: interpreted `nullSafeEval` and the generated
    * code both call this. */
  def build(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n < 2)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    // per-head map of successor counts; UTF8String keys hash/compare
    // by bytes (the same equality `groupBy(doc, u, v)` uses)
    val heads = new java.util.HashMap[UTF8String,
      java.util.HashMap[UTF8String, Long]]()
    var i = 0
    while (i < n - 1) {
      val u = arr.getUTF8String(i)
      val v = arr.getUTF8String(i + 1)
      var m = heads.get(u)
      if (m == null) { m = new java.util.HashMap[UTF8String, Long](); heads.put(u, m) }
      m.put(v, m.getOrDefault(v, 0L) + 1L)
      i += 1
    }
    val nBigrams = (n - 1).toLong
    var nDistinct = 0L
    var tq = 0L
    val hit = heads.values().iterator()
    while (hit.hasNext) {
      val m = hit.next()
      // c_u = u's total mass as a bigram head
      var cu = 0L
      val cit = m.values().iterator()
      while (cit.hasNext) cu += cit.next()
      val vit = m.values().iterator()
      while (vit.hasNext) {
        val cuv = vit.next()
        // exact operand order of the relational form's Column chain
        tq += math.floor(cuv.toDouble / nBigrams.toDouble *
          Math.log(cu.toDouble / cuv.toDouble) * 1.0e9).toLong
        nDistinct += 1L
      }
    }
    new GenericInternalRow(Array[Any](nBigrams, nDistinct, tq))
  }
}
