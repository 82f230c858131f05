package graft.agg

import graft.SparkSpec
import graft.graph.Graph
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the trend/recommendation wave. */
class TrendSpec extends SparkSpec {
  import spark.implicits._

  private def us(day: Long, off: Long = 0L) = day * 86400000000L + off

  test("rollingAnomaly flags a spike against the trailing baseline only") {
    // key k: 7 quiet days of 10 events, then a day of 100
    val rows = (0L until 7L).flatMap(d =>
      (1L to 10L).map(i => ("k", us(d, i)))) ++
      (1L to 100L).map(i => ("k", us(7L, i)))
    val df = rows.toDF("k", "u")
      .select(col("k"), timestamp_micros(col("u")).as("ts"))
    val m = TimeSeries.rollingAnomaly(df, col("k"), col("ts"))
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    val spike = m(7L)
    assert(spike.getAs[Boolean]("anomaly"))
    assert(spike.getAs[Long]("n_win") == 7L)
    assert(math.abs(spike.getAs[Double]("mean_win") - 10.0) < 1e-12)
    // constant baseline → zero variance → NULL z, but the integer flag fires
    assert(spike.isNullAt(spike.fieldIndex("z")))
    assert(!m(3L).getAs[Boolean]("anomaly")) // quiet day, flat baseline
    assert(!m(0L).getAs[Boolean]("anomaly")) // no baseline at all
  }

  test("crossCorr finds the planted lag") {
    // clicks on days 0..9 with counts 1,2,..; purchases = same shape
    // shifted +2 days → corr at lag 2 is exactly 1
    val clicks = (0L until 10L).flatMap(d =>
      (1L to (d + 1L)).map(i => ("click", us(d, i))))
    val buys = (0L until 10L).flatMap(d =>
      (1L to (d + 1L)).map(i => ("purchase", us(d + 2L, i))))
    val df = (clicks ++ buys).toDF("t", "u")
      .select(col("t"), timestamp_micros(col("u")).as("ts"))
    val m = TimeSeries.crossCorr(df, col("t"), col("ts"),
        "click", "purchase", 3)
      .collect().map(r => r.getAs[Long]("lag") ->
        Option(r.get(r.fieldIndex("corr"))).map(_.asInstanceOf[Double]))
      .toMap
    assert(math.abs(m(2L).get - 1.0) < 1e-12)
    assert(m(0L).get < 1.0)
    graft.core.Caches.release()
  }

  test("holt tracks a pure linear trend exactly") {
    // x_t = 100 + 10t (cents: value = 1.0 + 0.1t) — Holt locks on:
    // level = last value, trend = step
    val df = (0L until 20L).map(t => ("k", us(0L, t + 1), t,
        1.0 + 0.1 * t))
      .toDF("k", "u", "id", "v")
      .select(col("k"), timestamp_micros(col("u")).as("ts"), col("id"),
        col("v"))
    val r = TimeSeries.holt(df, col("k"), col("ts"), col("id"), col("v"))
      .head()
    assert(math.abs(r.getAs[Double]("level") - (1.0 + 0.1 * 19)) < 1e-9)
    assert(math.abs(r.getAs[Double]("trend") - 0.1) < 1e-9)
    assert(math.abs(r.getAs[Double]("forecast1") - (1.0 + 0.1 * 20)) < 1e-9)
  }

  test("holt singleton key yields NULLs, not an error") {
    val df = Seq(("k", us(0L, 1), 1L, 5.0)).toDF("k", "u", "id", "v")
      .select(col("k"), timestamp_micros(col("u")).as("ts"), col("id"),
        col("v"))
    val r = TimeSeries.holt(df, col("k"), col("ts"), col("id"), col("v"))
      .head()
    assert(r.getAs[Long]("n") == 1L)
    assert(r.isNullAt(r.fieldIndex("level")))
  }

  test("rfm buckets by exact rank: top quintile gets 5 on each axis") {
    val df = (1L to 10L).map { c =>
      // customer c: c orders... simplified to one row per customer with
      // amount c*10, day c — strictly increasing on every axis
      (c, us(c), c * 10.0)
    }.toDF("cust", "u", "amt")
      .select(col("cust"), timestamp_micros(col("u")).as("ts"), col("amt"))
    val m = Aggregates.rfm(df, col("cust"), col("ts"), col("amt"))
      .collect().map(r => r.getAs[Long]("e") -> r).toMap
    assert(m(10L).getAs[Long]("r") == 5L && m(10L).getAs[Long]("m") == 5L)
    assert(m(1L).getAs[Long]("r") == 1L && m(1L).getAs[Long]("m") == 1L)
    // frequency all-ties → deterministic rank by entity id: c10 last
    assert(m(10L).getAs[String]("segment") == "555")
    assert(m(1L).getAs[String]("segment") == "111")
  }

  test("cooccurrenceTopK cosine matches set counts; hub contexts excluded") {
    // baskets: c1={a,b}, c2={a,b}, c3={a,c}, hub={a,b,c,d} excluded at 3
    val e = Seq(("c1", "a"), ("c1", "b"), ("c2", "a"), ("c2", "b"),
      ("c3", "a"), ("c3", "c"),
      ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")).toDF("c", "i")
    val m = Graph.cooccurrenceTopK(e, col("c"), col("i"), 10, 3L)
      .collect().map(r => (r.getAs[String]("item_a"),
        r.getAs[String]("item_b")) -> r).toMap
    val ab = m(("a", "b"))
    assert(ab.getAs[Long]("n_both") == 2L)
    assert(ab.getAs[Long]("n_a") == 3L && ab.getAs[Long]("n_b") == 2L)
    assert(math.abs(ab.getAs[Double]("cosine") - 2.0 / math.sqrt(6.0)) < 1e-12)
    assert(ab.getAs[Long]("rank") == 1L)
    assert(!m.contains(("a", "d"))) // only co-occurs in the excluded hub
    graft.core.Caches.release()
  }
}
