package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Karp–Rabin rolling fingerprint over a token array as one native pass:
  * h = (h*31 + (md5Long(token) mod P)) mod P in token order, P = 1e9+7 —
  * identical values to the HOF fold in
  * [[GraftFunctions.rollingFingerprint]]'s oracle (md5Long = top 60 bits
  * of the digest), one md5 per token instead of an interpreted
  * md5+conv+pmod lambda chain per token. Empty array → 0. A null element
  * nulls the whole fingerprint (the HOF fold's accumulator is
  * null-poisoned by md5(null)) rather than crashing.
  */
case class RollingHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  // null even for a non-null input array, when an element is null
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    RollingHash.build(input.asInstanceOf[ArrayData])

  // the helper returns a boxed Long (null when an element is null), so
  // the generated code must translate null into ev.isNull
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("rh")
      s"""
         |Object $r = graft.functions.RollingHash.build($a);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash"
}

object RollingHash {
  def apply(toks: Column): Column = bridge.toColumn(RollingHash(bridge.toExpression(toks)))

  /** Shared eval body; null when any element is null (the HOF fold's
    * accumulator is null-poisoned by md5(null)). */
  def build(arr: ArrayData): java.lang.Long = {
    val P = GraftFunctions.HashP
    val n = arr.numElements()
    val md = Md5Base.newDigest()
    var h = 0L
    var i = 0
    while (i < n) {
      val e = arr.getUTF8String(i)
      if (e == null) return null
      h = (h * 31 + (Md5Base.be64(md, e.getBytes) >>> 4) % P) % P
      i += 1
    }
    java.lang.Long.valueOf(h)
  }
}
