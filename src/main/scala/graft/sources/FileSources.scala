package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

/** Schema-explicit JSONL / CSV sources and sinks — the ingest formats a
  * training-data pipeline actually receives (web-scrape dumps arrive as
  * JSONL, tabular metadata as CSV), beside the parquet tables in
  * [[Tables]]. The reference's only source is Kafka topics
  * (reference: src/kafka_streams_clojure/api.clj:57-60); file formats are
  * part of the engine's batch superset.
  *
  * Design rules for lake scale:
  *  - Schema is REQUIRED, never inferred: inference is a full extra read
  *    of the input, and a drifting inferred schema silently changes
  *    downstream query semantics between runs.
  *  - Malformed records are CAPTURED, not fatal: PERMISSIVE mode routes
  *    unparseable lines into a corrupt-record column — the file-source
  *    twin of `Xform.safeFlatMap`'s dead-letter contract, so one bad line
  *    in a billion can't kill the job.
  *  - Both formats split by line, so reads parallelize across executors
  *    without coordination (unlike multiline JSON).
  */
object FileSources {

  val CorruptCol = "_corrupt_record"

  /** Line-delimited JSON with an explicit schema. Rows that fail to parse
    * land with all data columns null and the raw line in [[CorruptCol]];
    * [[corruptRecords]]/[[wellFormed]] split them. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(withCorruptCol(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** CSV with an explicit schema. Same PERMISSIVE + corrupt-column
    * contract as [[jsonl]]. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(withCorruptCol(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** Streaming twin of [[jsonl]]: watch a directory for new JSONL files —
    * the continuous-ingest front door of a training-data pipeline
    * (scrapers drop files, the stream picks them up exactly once via the
    * checkpoint's file log). Same explicit-schema + dead-letter contract;
    * `maxFilesPerTrigger` bounds per-micro-batch work so one giant drop
    * can't produce an unbounded batch. */
  def jsonlStream(spark: SparkSession, path: String, schema: StructType,
                  maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(withCorruptCol(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(path)

  /** The rows that parsed cleanly, with the bookkeeping column dropped. */
  def wellFormed(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** One-pass ingest split: (clean rows, dead-letter lines). Spark
    * disallows corrupt-column-only queries over raw file scans
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the parse is persisted once
    * and both sides read from it — which is also the right shape at
    * scale: parse each input byte exactly once, then fan out. Callers
    * unpersist via the returned handle's `unpersist()` after both sides
    * are consumed (or write both out in the same job). */
  def partitionValid(df: DataFrame): (DataFrame, DataFrame, () => Unit) = {
    val parsed = df.persist()
    (wellFormed(parsed),
      parsed.filter(col(CorruptCol).isNotNull).select(col(CorruptCol)),
      () => { parsed.unpersist(blocking = false); () })
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** ORC with an explicit schema — the columnar interchange format beside
    * parquet (warehouses hand data over as ORC as often as parquet). ORC
    * is self-describing and binary, so there is no PERMISSIVE
    * line-capture tier: a corrupt stripe fails the read, which is the
    * correct posture for a format with checksummed footers. Projection
    * and predicate pushdown work as for parquet. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** XML with an explicit schema (Spark 4's built-in xml source — the
    * spark-xml module merged into spark-sql). Web-archive and feed dumps
    * (WARC sidecars, RSS/Atom, Wikipedia exports) arrive as XML; rowTag
    * selects the repeating record element. Same PERMISSIVE dead-letter
    * contract as [[jsonl]] — one malformed record lands in
    * [[CorruptCol]] instead of failing the job. Note XML is NOT
    * line-splittable: one file = one input split, so at lake scale the
    * ingest layout must shard into many files (which archive dumps do). */
  def xml(spark: SparkSession, path: String, rowTag: String,
          schema: StructType): DataFrame =
    spark.read
      .schema(withCorruptCol(schema))
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .xml(path)

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag).xml(path)

  private def withCorruptCol(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, StringType, nullable = true)
}
