package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The deterministic test-corpus media payload of
  * [[graft.llm.Multimodal.syntheticPayload]] as one native expression:
  * REAL container header bytes chosen by residues of the `bigint` id,
  * then the utf-8 bytes of the `string` content. It replaces, bit for
  * bit, a tree of `lpad`/`hex`/`concat`/`when` expressions whose
  * definitions it keeps (the reference in `SyntheticPayloadSpec`).
  * With m the id, w = m % 1920 + 1 and h = (m · 7) % 1080 + 1 (SQL `%`, sign of the dividend), and each
  * header field the hex string `lpad(hex(x), digits, '0')` read back as
  * bytes (a negative x renders as 16 two's-complement digits, of which
  * `lpad` keeps the first `digits`):
  *  - m % 4 = 0, PNG: signature, IHDR length 13 and tag, w and h in
  *    8 digits, depth 08 (10 for odd m), then 06000000 DEADBEEF;
  *  - m % 4 = 1, JPEG: SOI; APP0 of length L = m % 8 + 16 and COM of
  *    length LC = m % 5 + 4, each with its 4-digit length and
  *    min(max(2·(len − 2), 0), 64) zero digits; SOF0 (length 11,
  *    precision 8, h and w in 4 digits, 1 component, 011100);
  *  - m % 4 = 2, GIF89a: w and h in 4 digits, byte-swapped, then
  *    (m % 8) · 16 in 2 digits and 0000;
  *  - otherwise, a NULL id included: no header.
  * A NULL content gives NULL. Under ANSI, m · 7 overflows as `*` does
  * (for |m| > 2⁶³ / 7 on the header residues); otherwise it wraps. The
  * content encodes as `encode(content, 'UTF-8')` does: its bytes when
  * they are valid utf-8, else re-encoded from the decoded string. Same
  * static-call codegen discipline as [[MediaDims]]: the generated
  * projection invokes the identical [[SyntheticPayload.build]]. */
case class SyntheticPayload(id: Expression, content: Expression,
                            failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = id
  override def right: Expression = content

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = content.nullable

  override def inputTypes = Seq(LongType, StringType)

  // the header is built before the content's NULL is seen, as the
  // tree's `concat` evaluates both parts
  override def eval(input: InternalRow): Any = {
    val m = id.eval(input)
    SyntheticPayload.build(m == null, if (m == null) 0L else m.asInstanceOf[Long],
      content.eval(input).asInstanceOf[UTF8String], failOnError)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = id.genCode(ctx)
    val c = content.genCode(ctx)
    ev.copy(code = code"""
      ${m.code}
      ${c.code}
      byte[] ${ev.value} = graft.functions.SyntheticPayload.build(
        ${m.isNull}, ${m.value}, ${c.isNull} ? null : ${c.value}, $failOnError);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(id = newLeft, content = newRight)

  override def prettyName: String = "synthetic_payload"
}

object SyntheticPayload {

  def apply(id: Column, content: Column): Column =
    bridge.toColumn(SyntheticPayload(bridge.toExpression(id), bridge.toExpression(content)))

  /** The bytes of `lpad(hex(x), digits, '0')`: the first `digits` of
    * x's hex rendering, zero-padded on the left. */
  private def field(x: Long, digits: Int): Long = {
    val len = if (x < 0) 16 else math.max(1, (67 - java.lang.Long.numberOfLeadingZeros(x)) / 4)
    if (len <= digits) x else x >>> (4 * (len - digits))
  }

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private val PngHead = hex("89504E470D0A1A0A0000000D49484452")
  private val PngTail = hex("06000000DEADBEEF")
  private val SofHead = hex("FFC0000B08")
  private val SofTail = hex("01011100")
  private val GifHead = hex("474946383961")

  /** A header under construction: at most 85 bytes (a JPEG with both
    * zero runs at their 32-byte cap). */
  private final class Header {
    val b = new Array[Byte](96)
    var n = 0
    def bytes(xs: Array[Byte]): Unit = { System.arraycopy(xs, 0, b, n, xs.length); n += xs.length }
    def byte(x: Long): Unit = { b(n) = x.toByte; n += 1 }
    def put(x: Long, digits: Int): Unit = {
      val v = field(x, digits)
      var i = digits / 2 - 1
      while (i >= 0) { b(n) = (v >>> (8 * i)).toByte; n += 1; i -= 1 }
    }
    /** `len` − 2 zero bytes, as the first 2·(len − 2) of 64 zero digits. */
    def zeros(len: Int): Unit = n += math.min(math.max(len - 2, 0), 32)
  }

  /** Shared eval body for interpreted and generated paths; NULL when
    * `content` is. */
  def build(idNull: Boolean, m: Long, content: UTF8String, failOnError: Boolean): Array[Byte] = {
    val hd = new Header
    val r = if (idNull) 3L else m % 4
    if (r == 0 || r == 1 || r == 2) {
      val w = m % 1920 + 1
      val h = (if (failOnError) Math.multiplyExact(m, 7L) else m * 7) % 1080 + 1
      if (r == 0) {
        hd.bytes(PngHead); hd.put(w, 8); hd.put(h, 8)
        hd.byte(if (m % 2 == 0) 0x08 else 0x10); hd.bytes(PngTail)
      } else if (r == 1) {
        val l = (m % 8 + 16).toInt; val lc = (m % 5 + 4).toInt
        hd.byte(0xFF); hd.byte(0xD8); hd.byte(0xFF); hd.byte(0xE0); hd.put(l, 4); hd.zeros(l)
        hd.byte(0xFF); hd.byte(0xFE); hd.put(lc, 4); hd.zeros(lc)
        hd.bytes(SofHead); hd.put(h, 4); hd.put(w, 4); hd.bytes(SofTail)
      } else {
        val fw = field(w, 4); val fh = field(h, 4)
        hd.bytes(GifHead); hd.byte(fw); hd.byte(fw >>> 8); hd.byte(fh); hd.byte(fh >>> 8)
        hd.put(m % 8 * 16, 2); hd.byte(0); hd.byte(0)
      }
    }
    if (content == null) return null
    val body =
      if (content.isValid) content.getBytes
      else content.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](hd.n + body.length)
    System.arraycopy(hd.b, 0, out, 0, hd.n)
    System.arraycopy(body, 0, out, hd.n, body.length)
    out
  }
}
