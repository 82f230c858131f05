package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a single native Catalyst expression.
  *
  * Semantically identical to the composed higher-order-function form
  * (hash each element once with md5, then k affine permutations
  * `(a_i*h + b_i) mod P`, min per permutation — see
  * [[GraftFunctions.minhashCoeffs]]), but evaluated in ONE pass per row:
  * the HOF form is re-inlined by `CollapseProject` into every one of the
  * k `array_min` branches, re-hashing the whole array k times (measured
  * 16× md5 blow-up at sf0.1). SURVEY.md §7.3: drop to a custom Expression
  * exactly when the declarative form can't hit the needed constant factor.
  *
  * Value parity with the SQL oracle: md5Long(e) = first 15 hex digits of
  * md5 = top 60 bits of the digest = (first-8-bytes-BE >>> 4).
  *
  * Null/empty semantics match the HOF form: null input → null; empty
  * array → k null elements (array_min of empty is null); null ELEMENTS
  * are skipped (md5(null) → null, which array_min ignores) — an array of
  * only nulls therefore also yields k null elements.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def inputTypes = Seq(ArrayType(StringType))

  private lazy val coeffs = GraftFunctions.minhashCoeffs(k)
  private lazy val coeffA: Array[Long] = coeffs.map(_._1).toArray
  private lazy val coeffB: Array[Long] = coeffs.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.build(input.asInstanceOf[ArrayData], k, coeffA, coeffB)

  // static-call codegen: generated projections run the same helper the
  // interpreted path does (coefficient arrays travel as references)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coeffA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coeffB, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashSignature.build($a, $k, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  def apply(arr: Column, k: Int): Column =
    bridge.toColumn(MinHashSignature(bridge.toExpression(arr), k))

  /** Shared eval body for interpreted and generated paths. */
  def build(arr: ArrayData, k: Int, ca: Array[Long], cb: Array[Long]): ArrayData = {
    val P = GraftFunctions.HashP
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k)) // k nulls
    val md = Md5Base.newDigest()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = 0
    var i = 0
    while (i < n) {
      val e = arr.getUTF8String(i)
      if (e != null) {
        seen += 1
        // top 60 bits of the digest, as a non-negative long, mod P
        val h = (Md5Base.be64(md, e.getBytes) >>> 4) % P
        var c = 0
        while (c < k) {
          val v = (h * ca(c) + cb(c)) % P
          if (v < mins(c)) mins(c) = v
          c += 1
        }
      }
      i += 1
    }
    if (seen == 0) return new GenericArrayData(new Array[Any](k)) // k nulls
    new GenericArrayData(mins.map(Long.box(_): Any))
  }
}
