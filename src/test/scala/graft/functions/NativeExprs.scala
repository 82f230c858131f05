package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Every native expression of `graft.functions`, built through its
  * Column factory, with the type it accepts for each input — and one
  * frame holding a column of each of those types. Shared by
  * [[InputTypesSpec]] (what resolves) and [[CodegenParitySpec]]
  * (interpreted and generated evaluation agree). */
object NativeExprs {

  /** `build` takes one column per entry of `inputs`; an `aggregate` is
    * evaluated per `k` group of [[frame]]. */
  final case class Native(
      name: String,
      inputs: Seq[DataType],
      build: Seq[Column] => Column,
      aggregate: Boolean = false)

  val Toks: DataType = ArrayType(StringType)
  val Floats: DataType = ArrayType(FloatType)
  val Doubles: DataType = ArrayType(DoubleType)

  val all: Seq[Native] = Seq(
    Native("bigram_entropy_stats", Seq(Toks), c => BigramEntropyStats(c(0))),
    Native("bpe_merge", Seq(Toks), c => BpeMerge(c(0), "a", "b")),
    Native("cdc_chunks", Seq(BinaryType), c => CdcChunks(c(0), 4, 4)),
    Native("clf_stats", Seq(StringType), c => ClfStats(c(0))),
    Native("cosine_similarity", Seq(Floats, Floats), c => CosineSimilarity(c(0), c(1))),
    Native("dhash_bands", Seq(BinaryType), c => DHashBands(c(0))),
    Native("is_finite_vec", Seq(Floats), c => FiniteVector(c(0))),
    Native("gram_matrix_q", Seq(Floats), c => GramMatrixQ(c(0), 3), aggregate = true),
    Native("lang_id", Seq(StringType), c => LangId(c(0))),
    Native("media_dims", Seq(BinaryType), c => MediaDims(c(0))),
    Native("media_energy_stats", Seq(BinaryType), c => MediaEnergyStats(c(0), 4, 100L)),
    Native("minhash_signature", Seq(Toks), c => MinHashSignature(c(0), 4)),
    Native("nfc_normalize", Seq(StringType), c => NfcNormalize(c(0))),
    Native("qdot_stats9", Seq(Floats, Doubles), c => QDotStats9(c(0), c(1))),
    Native("rolling_hash", Seq(Toks), c => RollingHash(c(0))),
    Native("shingle_hashes", Seq(Toks), c => ShingleHashes(c(0), 2)),
    Native("shingles", Seq(Toks), c => Shingles(c(0), 2)),
    Native("simhash32", Seq(Toks), c => SimHash32(c(0))),
    Native("simhash16", Seq(Toks), c => SimHashN(c(0), 16)),
    Native("sum_squares", Seq(Floats), c => SumSquares(c(0))),
    Native("synthetic_payload", Seq(LongType, StringType), c => SyntheticPayload(c(0), c(1))),
    Native("term_counts", Seq(Toks), c => TermCounts(c(0))),
    Native("text_counts", Seq(StringType), c => TextCounts(c(0))),
    Native("token_hash_buckets", Seq(StringType), c => TokenHashBuckets(c(0), 7, 13L)),
    Native("token_set_fingerprint", Seq(StringType), c => TokenSetFingerprint(c(0))),
    Native("tokens", Seq(StringType), c => Tokens(c(0), fold = true)),
    Native("top_k_score_ids", Seq(DoubleType, LongType), c => TopKScoreIds(c(0), c(1), 2),
      aggregate = true),
    Native("wordpiece_stats", Seq(StringType), c => WordpieceStats(c(0))))

  /** The [[frame]] column holding each accepted input type. */
  val columnOf: Map[DataType, String] = Map(
    StringType -> "s", Toks -> "toks", Floats -> "vf", Doubles -> "vd",
    BinaryType -> "b", DoubleType -> "d", LongType -> "l")

  private val png: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n', 0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0, 0, 0, 0, 0x80, 8, 2).map(_.toByte)

  /** (id, k, s, toks, vf, vd, b, d, l) rows: all NULL, all empty, then
    * non-ASCII and combining-mark text, NULL array elements, NaN,
    * signed zero and infinity, an image header and high bytes. */
  private val rows: Seq[Row] = Seq(
    Row(1, 0, null, null, null, null, null, null, null),
    Row(2, 0, "", Seq(), Seq(), Seq(), Array.emptyByteArray, Double.NaN, 1L),
    Row(3, 1, "Héllo wörld, 日本語 🙂 naïve café", Seq("é", "日本", null, "a"),
      Seq(1.5f, -0.0f, Float.NaN), Seq(0.5, -2.0), png, -0.0, 2L),
    Row(4, 1, "The the  a\tb\nab. é Ωmega ab", Seq("a", "b", "a", "b", "ab"),
      Seq(1f, 2f, 3f, 4f), Seq(1.0, 2.0, 3.0), Array.tabulate[Byte](90)(i => (i * 37).toByte),
      1.5, 3L),
    Row(5, 0, "Ünïcödé", Seq("x"), Seq(Float.PositiveInfinity), Seq(Double.NaN),
      Array.fill[Byte](8)(0xFF.toByte), 1.5, 3L))

  /** RDD-backed over 2 partitions: a local relation would be folded on
    * the driver by the optimizer and never reach either evaluation
    * path. */
  def frame(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", IntegerType),
      StructField("s", StringType), StructField("toks", Toks),
      StructField("vf", Floats), StructField("vd", Doubles),
      StructField("b", BinaryType), StructField("d", DoubleType),
      StructField("l", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** `n` over `args`, one rendered row per `id` (or per `k` group for
    * an aggregate), sorted by that key. A binary value renders as hex,
    * so the rendering tells every value apart, NaN and -0.0 included. */
  def evaluate(df: DataFrame, n: Native, args: Seq[Column]): Seq[String] = {
    val out =
      if (n.aggregate) df.groupBy("k").agg(n.build(args).as("v"))
      else df.select(df("id"), n.build(args).as("v"))
    out.collect().toSeq.sortBy(_.getInt(0)).map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x
    }.mkString("[", ",", "]"))
  }
}
