package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a `binary` payload in ONE pass over the
  * raw bytes — the native boundary scan of
  * [[graft.llm.Multimodal.cdcChunkStats]].
  *
  * Definitions, for a payload of n bytes b₀ … bₙ₋₁:
  *  - window hash at position i, for i in [window, n−1]: the fold
  *    a ← (a·K + bⱼ) % P from a = 0 over the `window` bytes
  *    j = i−window … i−1, with bⱼ read UNSIGNED (0..255);
  *  - cut: a chunk boundary falls before byte i when hash(i) % divisor
  *    = 0; the chunks are the slices between 0, the cuts and n;
  *  - chunk hash `ch`: the lowercase-hex md5 of the chunk's LOWERCASE
  *    HEX rendering (two ASCII digits per byte), `l` its byte length.
  *
  * A payload shorter than window + 1 bytes has no candidate position
  * and is one chunk; an empty payload has none. Null payload → null.
  *
  * Bit identity with the SQL form (`lower(hex(payload))`, then
  * `conv(substr(hex, 2j+1, 2), 16, 10)` per window byte, `md5(substring
  * (hex, …))` per chunk — the DuckDB oracle's form): `conv` of a
  * two-digit hex pair IS the unsigned byte value, every fold step stays
  * non-negative and below 2⁴²·K + 255 < 2⁶³, so Java `%` equals the
  * SQL modulo, and the md5 input is byte-for-byte the hex substring.
  * Same static-call codegen discipline as [[MediaDims]]: the generated
  * projection invokes the identical [[CdcChunks.build]] the interpreted
  * path runs. */
case class CdcChunks(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = CdcChunks.schema

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    CdcChunks.build(input.asInstanceOf[Array[Byte]], window, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CdcChunks.build($a, $window, $divisor);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = s"cdc_chunks($window, $divisor)"
}

object CdcChunks {
  val schema: ArrayType = ArrayType(StructType(Seq(
    StructField("ch", StringType, nullable = false),
    StructField("l", LongType, nullable = false))), containsNull = false)

  /** Window-hash fold constants: the qualityRules bounded-polynomial
    * discipline (TextAnalysis GramP) — per-step mod keeps the
    * accumulator < 2⁴², so acc·K + byte < 2⁶³, no Java wraparound; K
    * is small enough that every byte still perturbs all divisor
    * residues. */
  private val K = 1000003L
  private val P = 4398042316799L // prime < 2^42

  def apply(payload: Column, window: Int, divisor: Int): Column = {
    require(window > 0 && divisor > 0, s"window $window and divisor $divisor must be positive")
    bridge.toColumn(CdcChunks(bridge.toExpression(payload), window, divisor))
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** Shared eval body for interpreted and generated paths. */
  def build(b: Array[Byte], window: Int, divisor: Int): ArrayData = {
    val n = b.length
    // the md5 input of every chunk is a slice of this one rendering
    val hex = new Array[Byte](2 * n)
    var k = 0
    while (k < n) {
      hex(2 * k) = HexDigits((b(k) >> 4) & 0xF)
      hex(2 * k + 1) = HexDigits(b(k) & 0xF)
      k += 1
    }
    val md = Md5Base.newDigest()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def chunk(from: Int, until: Int): Unit = {
      md.update(hex, 2 * from, 2 * (until - from))
      val d = md.digest()
      val s = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        s(2 * j) = HexDigits((d(j) >> 4) & 0xF)
        s(2 * j + 1) = HexDigits(d(j) & 0xF)
        j += 1
      }
      out += InternalRow(UTF8String.fromBytes(s), (until - from).toLong)
    }
    var start = 0
    var i = window
    while (i < n) {
      var a = 0L
      var j = i - window
      while (j < i) { a = (a * K + (b(j) & 0xFF)) % P; j += 1 }
      if (a % divisor == 0) { chunk(start, i); start = i }
      i += 1
    }
    if (n > start) chunk(start, n)
    new GenericArrayData(out.toArray)
  }
}
