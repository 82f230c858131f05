package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Byte-level pins for the MediaDims header parser — including layouts
  * the synthetic corpus never produces (GIF87a, fill bytes and RST
  * markers mid-stream, SOS before SOF, truncations, a text string that
  * aliases the GIF magic). */
class MediaDimsSpec extends SparkSpec {
  import spark.implicits._

  private def parse(bytes: Array[Int]): (String, Option[Int], Option[Int], Option[Int]) = {
    val b = bytes.map(_.toByte)
    val r = Seq(Tuple1(b)).toDF("p")
      .select(MediaDims(col("p")).as("d"))
      .select("d.format", "d.width", "d.height", "d.bit_depth")
      .collect()(0)
    (r.getString(0),
      if (r.isNullAt(1)) None else Some(r.getInt(1)),
      if (r.isNullAt(2)) None else Some(r.getInt(2)),
      if (r.isNullAt(3)) None else Some(r.getInt(3)))
  }

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  test("PNG: IHDR width/height u32 BE, bit depth byte") {
    val b = PngSig ++ Array(0, 0, 0, 13) ++ "IHDR".map(_.toInt) ++
      Array(0, 0, 1, 0x40, /*w=320*/ 0, 0, 0, 0xF0, /*h=240*/ 16, 6, 0, 0, 0)
    assert(parse(b) === (("png", Some(320), Some(240), Some(16))))
  }

  test("PNG: signature without IHDR, or truncated, is unknown") {
    assert(parse(PngSig ++ Array(0, 0, 0, 13) ++ "IDAT".map(_.toInt) ++
      Array.fill(13)(0))._1 === "unknown")
    assert(parse(PngSig)._1 === "unknown")
  }

  test("JPEG: segment scan skips APP0/COM/RST/fill bytes to SOF2") {
    val b = Array(0xFF, 0xD8) ++
      Array(0xFF, 0xE0, 0x00, 0x06, 1, 2, 3, 4) ++ // APP0 len 6
      Array(0xFF, 0xFF) ++ // fill byte before marker
      Array(0xFF, 0xD0) ++ // RST0: standalone, no length
      Array(0xFF, 0xFE, 0x00, 0x03, 9) ++ // COM len 3
      Array(0xFF, 0xC2, 0x00, 0x0B, 8, 0x01, 0x00, /*h=256*/ 0x02, 0x80, /*w=640*/ 1, 1, 0x11, 0)
    assert(parse(b) === (("jpeg", Some(640), Some(256), Some(8))))
  }

  test("JPEG: SOS before any SOF, DHT is not a SOF, truncations") {
    // C4 (DHT) must be skipped, then SOS ends the scan → unknown
    val sos = Array(0xFF, 0xD8) ++ Array(0xFF, 0xC4, 0x00, 0x04, 0, 0) ++
      Array(0xFF, 0xDA, 0x00, 0x02)
    assert(parse(sos)._1 === "unknown")
    assert(parse(Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00))._1 === "unknown")
    // desynced: expected marker byte is not FF
    assert(parse(Array(0xFF, 0xD8, 0x00, 0xC0, 0x00, 0x0B))._1 === "unknown")
  }

  test("GIF: 87a and 89a, little-endian dims, colour-resolution depth") {
    def gif(ver: Char, w: Int, h: Int, packed: Int) =
      s"GIF8${ver}a".map(_.toInt).toArray ++
        Array(w & 0xFF, w >> 8, h & 0xFF, h >> 8, packed, 0, 0)
    assert(parse(gif('9', 1920, 1080, 0x70)) === (("gif", Some(1920), Some(1080), Some(8))))
    assert(parse(gif('7', 2, 3, 0xA5)) === (("gif", Some(2), Some(3), Some(3))))
    assert(parse("GIF88a1234567890".map(_.toInt).toArray)._1 === "unknown")
  }

  test("text that aliases the GIF magic parses as its bytes say") {
    // a document literally starting "GIF89a..." IS indistinguishable from
    // a GIF header at the byte level — the parser reads what the bytes
    // encode ('12' little-endian etc.), by design
    val (fmt, w, h, _) = parse("GIF89a123456 text".map(_.toInt).toArray)
    assert(fmt === "gif")
    assert(w === Some(('2'.toInt << 8) | '1'.toInt))
    assert(h === Some(('4'.toInt << 8) | '3'.toInt))
  }

  test("null, empty and tiny payloads are unknown; null payload is null row") {
    assert(parse(Array(1, 2, 3, 4, 5))._1 === "unknown")
    assert(parse("hello plain text".map(_.toInt).toArray)._1 === "unknown")
    val r = Seq(Tuple1(null: Array[Byte])).toDF("p")
      .select(MediaDims(col("p")).as("d")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("parser agrees with the synthetic corpus formula for every residue") {
    val docs = spark.range(0, 64).toDF("doc_id").withColumn("text", lit("body"))
    val parsed = docs.select(col("doc_id"),
        MediaDims(graft.llm.Multimodal.syntheticPayload(col("doc_id"), col("text"))).as("d"))
      .select(col("doc_id"), col("d.format"), col("d.width"), col("d.height"), col("d.bit_depth"))
      .collect()
    parsed.foreach { r =>
      val m = r.getLong(0)
      val expFmt = (m % 4) match {
        case 0 => "png"; case 1 => "jpeg"; case 2 => "gif"; case _ => "unknown"
      }
      assert(r.getString(1) === expFmt, s"doc $m")
      if (expFmt != "unknown") {
        assert(r.getInt(2) === (m % 1920 + 1).toInt, s"width doc $m")
        assert(r.getInt(3) === ((m * 7) % 1080 + 1).toInt, s"height doc $m")
      }
    }
  }

  test("cdcChunkStats: partition exact, alignment-robust sharing, sub-window single chunk") {
    // deterministic pseudo-random 200-byte payload; B = A with one byte
    // prepended — fixed-size blocking would share NOTHING, CDC must
    // share every chunk after the first boundary
    val a = Array.tabulate(200)(i => ((i * 131 + 7) % 251).toByte)
    val b = (0x55.toByte +: a.toSeq).toArray
    val tiny = Array[Byte](1, 2, 3) // shorter than the 8-byte window
    val media = Seq((1L, a), (2L, b), (3L, tiny)).toDF("media_id", "payload")
    // both regimes: the single-task default and the cluster branch
    for (threshold <- Seq(graft.llm.Multimodal.SmallCdcMaxBytes, 0L)) {
      val got = graft.llm.Multimodal.cdcChunkStats(media, smallInputThreshold = threshold)
        .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      // chunk lengths partition the payload exactly
      assert(got(1L)._2 == 200L && got(2L)._2 == 201L && got(3L)._2 == 3L)
      assert(got(3L)._3 == 1L && got(3L)._4 == 0L, "sub-window payload is one unshared chunk")
      // alignment robustness: most of A's mass is shared with B despite
      // the 1-byte shift (only the prefix before the first boundary differs)
      assert(got(1L)._4 > 0L, "shifted twin must share chunks")
      assert(got(1L)._5 >= got(1L)._2 / 2,
        s"CDC must share most of the shifted payload, got ${got(1L)._5} of ${got(1L)._2}")
    }
  }

  test("cdcChunkStats: the single-task regime equals the cluster branch row for row on edge rows") {
    // a NULL and an empty payload (no chunks), sub-window payloads
    // shared by ids 5 and 7, a NULL media_id twice (one group), its
    // payload also id 8's (a NULL id never makes a chunk shared), id 2
    // twice with one payload (one id: nothing shared between its copies
    // beyond what id 1's shifted twin shares)
    val a = Array.tabulate(200)(i => ((i * 131 + 7) % 251).toByte)
    val b = (0x55.toByte +: a.toSeq).toArray
    val c = Array.tabulate(90)(i => ((i * 17 + 3) % 253).toByte)
    val tiny = Array[Byte](1, 2, 3)
    val rows: Seq[(java.lang.Long, Array[Byte])] = Seq(
      (1L, a), (2L, b), (2L, b), (3L, null), (4L, Array.emptyByteArray), (5L, tiny),
      (7L, tiny), (8L, c), (null, c), (null, tiny.take(2)), (9L, c.take(5)))
    val media = rows.toDF("media_id", "payload")
    def run(frame: org.apache.spark.sql.DataFrame, threshold: Long) =
      graft.llm.Multimodal.cdcChunkStats(frame, smallInputThreshold = threshold)
        .as[(Option[Long], Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val small = run(media, graft.llm.Multimodal.SmallCdcMaxBytes)
    assert(small == run(media, 0L))
    val got = small.map(r => r._1 -> r).toMap
    assert(got.keySet == Set(None, Some(1L), Some(2L), Some(5L), Some(7L), Some(8L), Some(9L)))
    assert(got(Some(2L))._2 == 402L && got(None)._2 == 92L)
    assert(got(Some(5L))._4 == 1L && got(Some(7L))._4 == 1L)
    assert(got(Some(8L))._4 == 0L && got(None)._4 == 0L)
    val empty = media.filter(col("media_id") > 100L)
    assert(run(empty, graft.llm.Multimodal.SmallCdcMaxBytes).isEmpty && run(empty, 0L).isEmpty)
  }

  test("energyScan frames, gates and totals exact integer energies") {
    import spark.implicits._
    // 20 bytes of 128 (zero energy) then 4 bytes of 228 (dev 100):
    // frames of 16 → frame0 all-128 (e=0, silent), frame1 = 4×128 +
    // 4×228 → e = 4·100² = 40000 (loud at threshold 20000)
    val quietLoud = (Array.fill[Byte](20)(128.toByte) ++
      Array.fill[Byte](4)(228.toByte))
    val media = Seq((1L, quietLoud), (2L, Array.emptyByteArray))
      .toDF("media_id", "payload")
    val r = graft.llm.Multimodal.energyScan(media)
      .orderBy("media_id").collect()
    assert(r(0).getAs[Long]("n_frames") == 2L &&
      r(0).getAs[Long]("n_silent") == 1L &&
      r(0).getAs[Long]("energy_q") == 40000L &&
      r(0).getAs[Double]("silence_ratio") == 0.5)
    assert(r(1).getAs[Long]("n_frames") == 0L &&
      r(1).isNullAt(r(1).fieldIndex("silence_ratio")))
  }
}
