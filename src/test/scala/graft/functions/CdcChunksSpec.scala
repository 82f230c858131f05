package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bit identity of the native CdcChunks scan against the built-in
  * expression form it replaced (lowercase hex rendering, an `aggregate`
  * window fold of `conv(substr)` bytes, `filter`ed cut positions, an
  * `md5(substring)` per chunk) — kept here verbatim as the reference,
  * so the check needs no DuckDB — under both the interpreted and the
  * generated evaluation paths. */
class CdcChunksSpec extends SparkSpec {

  private val ChunkK = 1000003L
  private val ChunkP = 4398042316799L // prime < 2^42

  /** The built-in-expression chunk array `c` per `id` of `df`. */
  private def reference(df: DataFrame, window: Int, divisor: Int): DataFrame = {
    val ph = df.select(col("id"), lower(hex(col("payload"))).as("ph"),
      octet_length(col("payload")).cast("long").as("n_bytes"))
    def winHash(i: Column): Column = aggregate(
      sequence(lit(0L), lit(window - 1L)),
      lit(0L),
      (a, j) => (a * ChunkK +
        conv(col("ph").substr(((i - window + 1L + j) * 2L - 1L).cast("int"),
          lit(2)), 16, 10).cast("long")) % ChunkP)
    val cuts = concat(
      array(lit(0L)),
      filter(
        when(col("n_bytes") - 1L >= window,
          sequence(lit(window.toLong), col("n_bytes") - 1L))
          .otherwise(array().cast("array<long>")),
        i => winHash(i) % divisor === 0L),
      array(col("n_bytes")))
    val chunks = expr(
      "transform(sequence(0, size(cuts) - 2), " +
        "k -> named_struct(" +
        "'ch', md5(substring(ph, CAST(2*cuts[k] + 1 AS INT), " +
        "CAST(2*(cuts[k+1] - cuts[k]) AS INT))), " +
        "'l', cuts[k+1] - cuts[k]))")
    // the old chunk table dropped zero-length slices after the explode
    // and never saw a NULL payload
    ph.select(col("id"), col("ph"), cuts.as("cuts"))
      .select(col("id"), when(col("ph").isNotNull, filter(chunks, c => c("l") > 0L)).as("c"))
  }

  private val a = Array.tabulate(200)(i => ((i * 131 + 7) % 251).toByte)
  private def rnd(n: Int): Array[Byte] = a.take(n)

  /** (id, payload) rows, each a boundary case of the scan. */
  private val payloads: Seq[(Long, Array[Byte])] = Seq(
    1L -> rnd(7), 2L -> rnd(8), 3L -> rnd(9), // window-1, window, window+1
    4L -> Array.fill[Byte](64)(0x00), // hash 0: a cut at every position
    5L -> Array.fill[Byte](64)(0xFF.toByte), // signed-byte handling
    6L -> a, 7L -> (0x55.toByte +: a.toSeq).toArray, // the shifted twin
    8L -> null, 9L -> Array.emptyByteArray)

  private def frame: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    // an RDD-backed frame: a local relation would be folded on the
    // driver by the optimizer and never reach either evaluation path
    spark.createDataFrame(spark.sparkContext.parallelize(
      payloads.map { case (i, p) => Row(i, p) }, 2), schema)
  }

  private def chunksOf(df: DataFrame): Map[Long, Option[Seq[(String, Long)]]] =
    df.collect().map { r =>
      r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(x => (x.getString(0), x.getLong(1))))
    }.toMap

  for ((window, divisor) <- Seq((8, 32), (4, 4))) {
    test(s"window $window, divisor $divisor: native scan equals the built-in form, " +
        "interpreted and generated") {
      val expected = withFactoryMode("NO_CODEGEN") {
        chunksOf(reference(frame, window, divisor))
      }
      assert(expected(8L).isEmpty && expected(9L).contains(Nil))
      assert(expected(4L).get.size == 64 - window + 1, "all-zero payload cuts everywhere")
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) withFactoryMode(mode) {
        val got = chunksOf(frame.select(col("id"), CdcChunks(col("payload"), window, divisor)))
        payloads.foreach { case (id, _) =>
          assert(got(id) == expected(id), s"payload $id under $mode")
        }
      }
    }
  }
}
