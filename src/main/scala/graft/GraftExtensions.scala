package graft

import graft.functions.{BigramEntropyStats, BpeMerge, ClfStats, CosineSimilarity, DHashBands, LangId, MediaDims, MediaEnergyStats, MinHashSignature, NfcNormalize, RollingHash, ShingleHashes, Shingles, SimHashN, TextCounts, TokenHashBuckets, TokenSetFingerprint, WordpieceStats}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-surface registration for graft's native expressions.
  *
  * Two entry points:
  *  - config `spark.sql.extensions=graft.GraftExtensions` (session build
  *    time — the standard extension-library hook);
  *  - [[GraftExtensions.register]] for an already-running session
  *    (registers into its FunctionRegistry directly).
  *
  * After registration the engine's Catalyst expressions are callable from
  * SQL: `cosine_similarity(a, b)`, `minhash_signature(arr, k)`,
  * `simhash32(tokens)`, `shingles(tokens, w)` — the same operators the
  * Column API exposes, so `spark.sql(...)` users get the full surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.entries.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** (name, info, builder) triples — shared by both registration paths. */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => MinHashSignature(args(0), intLit(args(1), "minhash_signature k"))),
    (FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHashN].getName, "simhash32"),
      (args: Seq[Expression]) => SimHashN(args(0), 32)),
    (FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (args: Seq[Expression]) => Shingles(args(0), intLit(args(1), "shingles w"))),
    (FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => RollingHash(args(0))),
    (FunctionIdentifier("text_counts"),
      new ExpressionInfo(classOf[TextCounts].getName, "text_counts"),
      (args: Seq[Expression]) => TextCounts(args(0))),
    (FunctionIdentifier("token_set_fingerprint"),
      new ExpressionInfo(classOf[TokenSetFingerprint].getName, "token_set_fingerprint"),
      (args: Seq[Expression]) => TokenSetFingerprint(args(0))),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalize(args(0))),
    (FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "lang_id"),
      (args: Seq[Expression]) => LangId(args(0))),
    (FunctionIdentifier("media_dims"),
      new ExpressionInfo(classOf[MediaDims].getName, "media_dims"),
      (args: Seq[Expression]) => MediaDims(args(0))),
    (FunctionIdentifier("clf_stats"),
      new ExpressionInfo(classOf[ClfStats].getName, "clf_stats"),
      (args: Seq[Expression]) => ClfStats(args(0))),
    (FunctionIdentifier("bigram_entropy_stats"),
      new ExpressionInfo(classOf[BigramEntropyStats].getName, "bigram_entropy_stats"),
      (args: Seq[Expression]) => BigramEntropyStats(args(0))),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0), intLit(args(1), "shingle_hashes w"))),
    (FunctionIdentifier("token_hash_buckets"),
      new ExpressionInfo(classOf[TokenHashBuckets].getName, "token_hash_buckets"),
      (args: Seq[Expression]) => TokenHashBuckets(args(0),
        intLit(args(1), "token_hash_buckets salt"),
        longLit(args(2), "token_hash_buckets mod"))),
    (FunctionIdentifier("wordpiece_stats"),
      new ExpressionInfo(classOf[WordpieceStats].getName, "wordpiece_stats"),
      (args: Seq[Expression]) => WordpieceStats(args(0))),
    (FunctionIdentifier("bpe_merge"),
      new ExpressionInfo(classOf[BpeMerge].getName, "bpe_merge"),
      (args: Seq[Expression]) => BpeMerge(args(0),
        strLit(args(1), "bpe_merge left"), strLit(args(2), "bpe_merge right"))),
    (FunctionIdentifier("dhash_bands"),
      new ExpressionInfo(classOf[DHashBands].getName, "dhash_bands"),
      (args: Seq[Expression]) => DHashBands(args(0))),
    (FunctionIdentifier("media_energy_stats"),
      new ExpressionInfo(classOf[MediaEnergyStats].getName, "media_energy_stats"),
      (args: Seq[Expression]) => MediaEnergyStats(args(0),
        intLit(args(1), "media_energy_stats frame_bytes"),
        longLit(args(2), "media_energy_stats threshold"))))

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
