package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies in ONE local pass:
  * `array<string>` tokens → `array<struct<term, tf>>`.
  *
  * Exists to make the TF stage of corpus statistics (TF-IDF, BM25)
  * SHUFFLE-FREE: the explode → groupBy(doc, term) formulation ships
  * every raw token through a (doc, term)-keyed exchange just to count
  * duplicates that all live in the SAME input row — this expression
  * counts them where they are, so the first exchange the pipeline
  * needs is the term-keyed one for document frequency (r15 VERDICT
  * item 2: q_tfidf 3 exchanges → 2). Values are identical to the
  * groupBy form (exact occurrence counts); emission order is
  * first-occurrence, which no consumer depends on (everything
  * downstream aggregates or re-sorts).
  */
case class TermCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = TermCounts.schema

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any = TermCounts.build(input)

  // static-call codegen (the TextCounts pattern): generated code and
  // interpreted eval share one helper, so they cannot diverge
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TermCounts.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "term_counts"
}

object TermCounts {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  def build(input: Any): ArrayData = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    // first-occurrence order keeps the output deterministic per row
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val c = counts.get(t)
      // clone on first sight: getUTF8String may return a view into a
      // reusable buffer; a retained key/output must own its bytes. A
      // NULL token is a term of its own, as in the groupBy form
      if (c == null) counts.put(if (t == null) null else t.clone(), Array(1L))
      else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def apply(tokens: Column): Column =
    bridge.toColumn(TermCounts(bridge.toExpression(tokens)))
}
