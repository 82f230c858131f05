package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Image-container header parse as a native expression: byte-level
  * PNG IHDR / JPEG SOFn / GIF logical-screen-descriptor decoding of an
  * opaque `binary` payload into (format, width, height, bit_depth) —
  * the metadata a curation pipeline actually filters on (resolution
  * gates) without any codec library and without ever leaving the scan.
  *
  * Formats:
  *  - PNG: 8-byte signature, then the IHDR chunk at a FIXED offset
  *    (spec: IHDR "must appear first") — width/height u32 big-endian at
  *    bytes 16/20, bit depth at 24.
  *  - JPEG: SOI then a variable-length SEGMENT SCAN — skip each
  *    marker's big-endian length until a SOFn frame header (C0-CF minus
  *    DHT C4 / JPG C8 / DAC CC), then precision u8, height u16, width
  *    u16. Standalone markers (RSTn/TEM) have no length field. The scan
  *    stops at SOS (DA): past it is entropy-coded data.
  *  - GIF: "GIF87a"/"GIF89a", then the logical screen descriptor —
  *    width/height u16 LITTLE-endian at bytes 6/8; bit depth is the
  *    colour-resolution field, bits 4-6 of the packed byte at 10, +1.
  *
  * Anything else (including truncated headers) → ("unknown", null ×3).
  * Null payload → null row. Same static-call codegen discipline as
  * [[TextCounts]]: the generated projection invokes the identical
  * [[MediaDims.build]] the interpreted path runs.
  */
case class MediaDims(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = MediaDims.schema

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    MediaDims.build(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MediaDims.build($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "media_dims"
}

object MediaDims {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("bit_depth", IntegerType, nullable = true)))

  def apply(payload: Column): Column =
    bridge.toColumn(MediaDims(bridge.toExpression(payload)))

  private val Unknown: InternalRow =
    InternalRow(UTF8String.fromString("unknown"), null, null, null)

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  @inline private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  private def row(fmt: String, w: Int, h: Int, d: Int): InternalRow =
    InternalRow(UTF8String.fromString(fmt), w, h, d)

  /** Shared eval body for interpreted and generated paths. */
  def build(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 6) return Unknown
    // --- PNG: signature + fixed-offset IHDR ---------------------------
    if (b.length >= 25 && (0 until 8).forall(i => u8(b, i) == PngSig(i))) {
      // bytes 12-15 must read "IHDR" (the chunk the spec pins first)
      if (u8(b, 12) == 'I' && u8(b, 13) == 'H' && u8(b, 14) == 'D' && u8(b, 15) == 'R') {
        val w = be32(b, 16); val h = be32(b, 20)
        if (w > 0 && h > 0) return row("png", w, h, u8(b, 24))
      }
      return Unknown
    }
    // --- JPEG: SOI + segment scan to SOFn -----------------------------
    if (u8(b, 0) == 0xFF && u8(b, 1) == 0xD8) {
      var i = 2
      while (i + 1 < b.length) {
        if (u8(b, i) != 0xFF) return Unknown // desynced scan
        val code = u8(b, i + 1)
        if (code == 0xFF) { i += 1 } // fill bytes before a marker
        else if (code == 0x01 || (code >= 0xD0 && code <= 0xD7)) {
          i += 2 // TEM / RSTn: standalone, no length field
        } else if (code == 0xDA) {
          return Unknown // SOS before any SOFn: entropy data follows
        } else {
          if (i + 3 >= b.length) return Unknown
          val segLen = be16(b, i + 2)
          if (segLen < 2) return Unknown
          val isSof = code >= 0xC0 && code <= 0xCF &&
            code != 0xC4 && code != 0xC8 && code != 0xCC
          if (isSof) {
            if (i + 8 >= b.length) return Unknown
            val prec = u8(b, i + 4)
            val h = be16(b, i + 5); val w = be16(b, i + 7)
            if (w > 0 && h > 0) return row("jpeg", w, h, prec)
            return Unknown
          }
          i += 2 + segLen
        }
      }
      return Unknown
    }
    // --- GIF: magic + little-endian logical screen descriptor ---------
    if (b.length >= 11 && u8(b, 0) == 'G' && u8(b, 1) == 'I' && u8(b, 2) == 'F' &&
        u8(b, 3) == '8' && (u8(b, 4) == '7' || u8(b, 4) == '9') && u8(b, 5) == 'a') {
      val w = le16(b, 6); val h = le16(b, 8)
      val depth = ((u8(b, 10) >> 4) & 0x7) + 1
      if (w > 0 && h > 0) return row("gif", w, h, depth)
      return Unknown
    }
    Unknown
  }
}
