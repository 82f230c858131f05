package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bit identity of the native SyntheticPayload against the built-in
  * expression tree it replaced — kept here verbatim as the reference —
  * under both the interpreted and the generated evaluation paths, with
  * ANSI arithmetic on and off. */
class SyntheticPayloadSpec extends SparkSpec {

  /** The `lpad`/`hex`/`concat`/`when` payload tree. */
  private def reference(id: Column, content: Column): Column = {
    val m = id
    val w = (m % 1920 + 1).cast("int")
    val h = ((m * 7) % 1080 + 1).cast("int")
    val w32 = lpad(hex(w), 8, "0"); val h32 = lpad(hex(h), 8, "0")
    val w16 = lpad(hex(w), 4, "0"); val h16 = lpad(hex(h), 4, "0")
    val png = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      w32, h32, when(m % 2 === 0, lit("08")).otherwise(lit("10")),
      lit("06000000" + "DEADBEEF"))
    val L = (m % 8 + 16).cast("int"); val LC = (m % 5 + 4).cast("int")
    val zeros = lit("0" * 64)
    val app0 = concat(lit("FFE0"), lpad(hex(L), 4, "0"),
      zeros.substr(lit(1), (L - 2) * 2))
    val com = concat(lit("FFFE"), lpad(hex(LC), 4, "0"),
      zeros.substr(lit(1), (LC - 2) * 2))
    val sof = concat(lit("FFC0" + "000B" + "08"), h16, w16, lit("01" + "011100"))
    val jpeg = concat(lit("FFD8"), app0, com, sof)
    val wLe = concat(substring(w16, 3, 2), substring(w16, 1, 2))
    val hLe = concat(substring(h16, 3, 2), substring(h16, 1, 2))
    val gif = concat(lit("474946383961"), wLe, hLe,
      lpad(hex((m % 8) * 16), 2, "0"), lit("0000"))
    val hdr = when(m % 4 === 0, png).when(m % 4 === 1, jpeg)
      .when(m % 4 === 2, gif).otherwise(lit(""))
    concat(unhex(hdr), encode(content, "UTF-8"))
  }

  /** Ids at every residue, both signs (where `lpad` truncates a
    * negative field), the long extremes and the ANSI overflow edge of
    * m · 7; NULL. */
  private val safeIds: Seq[java.lang.Long] =
    ((-130L to 130L) ++ Seq(1919L, 1920L, 1921L, -1919L, -1920L, -1921L, 4000L, -4001L,
      Long.MaxValue, Long.MinValue + 1, Long.MinValue + 3, Long.MaxValue / 7,
      -(Long.MaxValue / 7), -(Long.MaxValue / 7) + 1, Long.MaxValue / 7 + 2))
      .map(java.lang.Long.valueOf) :+ null
  /** Ids whose m · 7 overflows on a header residue (PNG, JPEG, GIF). */
  private val overflowIds: Seq[java.lang.Long] =
    Seq(Long.MinValue, -(Long.MaxValue / 7) - 3, Long.MaxValue - 2, Long.MaxValue / 7 + 5)
      .map(java.lang.Long.valueOf)

  /** Texts: ASCII, non-ASCII, empty, NULL and invalid utf-8 (FF, a
    * truncated 2-byte sequence). */
  private val texts: Seq[(String, Array[Byte])] = Seq(
    ("plain text", null), ("Héllo 日本語 🙂", null), ("", null), (null, null),
    (null, Array(0xFF, 0x41, 0xC3).map(_.toByte)))

  /** (id, content) rows, every id with every text; RDD-backed, so no
    * local relation folds the projection on the driver. */
  private def frame(ids: Seq[java.lang.Long]): DataFrame = {
    val rows = for (i <- ids; (t, raw) <- texts) yield Row(i, t, raw)
    val schema = StructType.fromDDL("id BIGINT, text STRING, raw BINARY")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(col("id"), coalesce(col("text"), col("raw").cast("string")).as("content"))
  }

  private def payloads(df: DataFrame, p: (Column, Column) => Column): Seq[String] =
    df.select(col("id"), col("content"), p(col("id"), col("content")).as("p")).collect()
      .map(r => r.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body
    finally saved.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
    test(s"$mode, ANSI: the native payload equals the expression tree; overflow fails both") {
      withFactoryMode(mode) {
        withAnsi(on = true) {
          val want = payloads(frame(safeIds), reference)
          assert(want.size == safeIds.size * texts.size)
          assert(payloads(frame(safeIds), SyntheticPayload(_, _)) == want)
          for (i <- overflowIds) {
            intercept[Exception](payloads(frame(Seq(i)), reference))
            intercept[Exception](payloads(frame(Seq(i)), SyntheticPayload(_, _)))
          }
        }
      }
    }

    test(s"$mode, non-ANSI: m · 7 wraps in both, Long.MinValue included") {
      withFactoryMode(mode) {
        withAnsi(on = false) {
          val ids = safeIds ++ overflowIds
          assert(payloads(frame(ids), SyntheticPayload(_, _)) == payloads(frame(ids), reference))
        }
      }
    }
  }
}
