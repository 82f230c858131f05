package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped + windowed aggregation (SURVEY.md §2.3).
  *
  * The reference declares (roadmap) but does not implement windowed
  * aggregates and KTable changelog views (reference: README.md:30-34, 69);
  * its store protocol implies a materializing topology
  * (reference: api.clj:102-152). Here they are first-class:
  * hash-aggregate with map-side partial aggregation (Spark's default — one
  * shuffle on the group keys, partials combined before the exchange, which
  * is what makes these plans hold at 100 TB).
  */
object Aggregates {

  /** Re-key + grouped aggregation — the `key-value-mapper` → `groupByKey`
    * → aggregate path (reference: api.clj:96-100). The shuffle on `keys`
    * is the analogue of Kafka Streams' repartition topic. */
  def grouped(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Tumbling event-time window aggregation: [[hopping]] with the slide
    * equal to the size (Spark builds the same `TimeWindow`). Serves a
    * watermarked stream unchanged, e.g. through
    * [[graft.streaming.Streaming.tumblingChained]]. */
  def tumbling(df: DataFrame, ts: Column, size: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    hopping(df, ts, size, size, keys, aggs)

  /** Hopping (sliding) window aggregation. */
  def hopping(df: DataFrame, ts: Column, size: String, slide: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(ts, size, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Session window aggregation (gap-based). */
  def session(df: DataFrame, ts: Column, gap: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(ts, gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** KTable/changelog view: latest value per key by event time
    * (reference roadmap: README.md:33-34, 69). `max_by` over the
    * (ts, tieBreak...) struct — a hash-aggregate with map-side combine,
    * NOT a window: no per-partition sort, partial top-1s merge before the
    * single shuffle, and skewed keys reduce map-side first. The struct
    * order makes the pick total, so ties are deterministic (largest
    * tieBreak wins, matching ORDER BY ts DESC, tieBreak DESC LIMIT 1). */
  def latestByKey(df: DataFrame, keys: Seq[Column], ts: Column, tieBreak: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(max_by(struct(df.columns.toIndexedSeq.map(col): _*), struct(ts +: tieBreak: _*)).as("__latest"))
      .select(col("__latest.*"))

  /** Grouping-sets family — free in Spark, absent in the reference
    * (SURVEY.md §2.4). */
  def rollupAgg(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.rollup(keys: _*).agg(aggs.head, aggs.tail: _*)

  def cubeAgg(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.cube(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Top-k per group — agg-side alternative to a global sort. */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** SCD2 (slowly-changing-dimension type-2) history: collapse an event
    * log into per-key validity intervals of `attr` — the warehouse twin
    * of [[latestByKey]] (which keeps only each key's LAST state, this
    * keeps ALL states with their lifetimes). Kimball's type-2 dimension
    * build, expressed as the changelog compaction the reference's
    * KTable family implies (README.md:33-34) but never materializes.
    *
    * Per key, ordered by (ts, tieBreak): a run starts where attr
    * differs (null-safe) from its predecessor; runs become rows
    * (key, version, attr, valid_from, valid_to, n_events) with
    * valid_to = next run's valid_from and NULL on the open (current)
    * run. Consecutive-duplicate events collapse into their run — the
    * `dedupe` discipline keyed per entity.
    *
    * Plan: one key-partitioned window pass (lag + running sum — no
    * global sort), a (key, version) hash aggregate, and a second
    * key-partitioned window for the interval close. Scale-safe: every
    * exchange is keyed by the entity key; version counts are bounded by
    * each key's event count. */
  def scd2(df: DataFrame, key: Column, ts: Column, attr: Column,
           tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__ts"), col("__tb"))
    val runs = df.select(key.as("__k"), ts.as("__ts"), attr.as("__a"),
        tieBreak.as("__tb"))
      .withColumn("__chg",
        when(row_number().over(w) === 1, lit(1))
          .when(!(col("__a") <=> lag(col("__a"), 1).over(w)), lit(1))
          .otherwise(lit(0)))
      .withColumn("__ver", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val iv = Window.partitionBy(col("key")).orderBy(col("version"))
    runs.groupBy(col("__k").as("key"), col("__ver").as("version"))
      .agg(min(col("__ts")).as("valid_from"),
        // attr is constant within a run by construction — min() is the
        // engine-neutral way to surface it (NULL runs stay NULL)
        min(col("__a")).as("attr"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(iv))
      .select(col("key"), col("version"), col("attr"),
        col("valid_from"), col("valid_to"), col("n_events"))
  }

  /** RFM segmentation: per entity, recency (latest epoch-day),
    * frequency (order count) and monetary (cents mass), each quantile-
    * bucketed 1..`buckets` — the classic warehouse customer-value
    * grid, the three-axis companion of a single quality score.
    *
    * Exactness: all three metrics are exact integers; buckets come
    * from the exact rank formula (buckets·(rank−1)) div n + 1 under
    * deterministic (metric, entity) order — never ntile(), whose
    * remainder distribution is engine-defined. Higher metric ⇒ higher
    * bucket on every axis (recency buckets the DAY, so later = higher
    * — no inversion step).
    *
    * Shape: the corpus collapses in ONE map-combined per-entity agg;
    * the three rank windows run over the ENTITY table. They are
    * global sorts of that table — exact quantiles need a total order
    * (the madOutliers trade); the lake-scale variant swaps the ranks
    * for approx_percentile cut points at the cost of exactness. */
  def rfm(df: DataFrame, entity: Column, ts: Column, amount: Column,
          buckets: Int = 5): DataFrame = {
    val b = lit(buckets.toLong)
    val per = df.filter(entity.isNotNull && ts.isNotNull)
      .select(entity.as("e"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("d"),
        floor(amount * lit(100) + lit(0.5)).cast("long").as("c"))
      .groupBy(col("e"))
      .agg(max(col("d")).as("recency_day"), count(lit(1)).as("frequency"),
        sum(col("c")).as("monetary_c"))
    // NULLS FIRST pinned explicitly: Spark's ascending default is
    // nulls-first, DuckDB's is nulls-last — an all-NULL monetary
    // entity would land in opposite buckets AND shift every other
    // rank (adversarial-gate find); worst bucket for missing data is
    // the defensible reading
    def bucket(metric: String): Column =
      call_function("div",
        b * (row_number().over(Window.orderBy(col(metric).asc_nulls_first,
          col("e"))).cast("long") - lit(1L)),
        count(lit(1)).over(Window.partitionBy())) + lit(1L)
    per
      .withColumn("r", bucket("recency_day"))
      .withColumn("f", bucket("frequency"))
      .withColumn("m", bucket("monetary_c"))
      .withColumn("segment", concat(col("r").cast("string"),
        col("f").cast("string"), col("m").cast("string")))
  }
}
