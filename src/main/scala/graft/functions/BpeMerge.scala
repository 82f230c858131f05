package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge application over a symbol sequence: every LEFTMOST
  * NON-OVERLAPPING occurrence of the adjacent pair (left, right)
  * collapses to the concatenated symbol — the inner step of the BPE
  * trainer ([[graft.llm.TextAnalysis.bpeTrain]]), applied per round to
  * the (word → symbols) vocabulary with that round's winning pair as
  * literal parameters (driver artifact, the centroid discipline).
  *
  * Greedy-leftmost semantics matter only when left = right ("aaaa" →
  * ["aa","aa"], never ["a","aa","a"]); the oracle twin reproduces the
  * same set via run-parity positions (a kept merge is an even offset
  * into its run of candidate positions), so both engines collapse
  * identical occurrences.
  */
case class BpeMerge(child: Expression, left: String, right: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def inputTypes = Seq(ArrayType(StringType))

  @transient private lazy val leftU8 = UTF8String.fromString(left)
  @transient private lazy val rightU8 = UTF8String.fromString(right)
  @transient private lazy val mergedU8 = UTF8String.fromString(left + right)

  override def nullSafeEval(input: Any): Any =
    BpeMerge.build(input.asInstanceOf[ArrayData], leftU8, rightU8, mergedU8)

  // merge symbols are corpus-derived strings — ship them as reference
  // objects, never as inlined Java string literals (escaping hazard)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("bpeLeft", leftU8, classOf[UTF8String].getName)
    val r = ctx.addReferenceObj("bpeRight", rightU8, classOf[UTF8String].getName)
    val m = ctx.addReferenceObj("bpeMerged", mergedU8, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BpeMerge.build($a, $l, $r, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_merge"
}

object BpeMerge {

  def apply(syms: Column, left: String, right: String): Column =
    bridge.toColumn(BpeMerge(bridge.toExpression(syms), left, right))

  /** Shared eval body: greedy leftmost scan, i advances 2 on a merge. */
  def build(syms: ArrayData, left: UTF8String, right: UTF8String,
            merged: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      if (i + 1 < n && s != null && s.equals(left)) {
        val nxt = syms.getUTF8String(i + 1)
        if (nxt != null && nxt.equals(right)) {
          out += merged.clone()
          i += 2
        } else { out += (if (s == null) null else s.clone()); i += 1 }
      } else { out += (if (s == null) null else s.clone()); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }
}
