package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r17 cardinality guard (DriverFold): every guarded driver fold
  * must produce BIT-identical results from its fold arm (domain-sized
  * relation collected, tail arithmetic on the driver) and its
  * distributed tail arm (the pre-r16 Spark-side form, taken when the
  * relation exceeds the cap). The arms are switched here via the
  * DriverFold.cap test seam; equality is asserted on raw collected
  * values (doubles compared by bit pattern, so "close" is not enough).
  */
class GuardedFoldSpec extends SparkSpec {
  import spark.implicits._

  /** Run `q` under the fold arm (huge cap) and the distributed arm
    * (cap 0), canonicalize rows, assert identical sets. */
  private def bothArms(q: => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) = {
    def canon(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
        case f: java.lang.Float  => java.lang.Float.floatToIntBits(f)
        case x => x
      }).toSet
    val saved = DriverFold.cap
    try {
      DriverFold.cap = 1000000
      val folded = canon(q)
      DriverFold.cap = 0
      val distributed = canon(q)
      (folded, distributed)
    } finally DriverFold.cap = saved
  }

  test("mannKendall: fold and distributed arms are bit-identical (ties, single-day keys)") {
    def ts(day: Int): java.sql.Timestamp =
      new java.sql.Timestamp(day * 86400000L)
    val rows =
      // key "up": strictly rising daily counts over 4 days
      (0 until 4).flatMap(d => Seq.fill(d + 1)(("up", ts(d)))) ++
      // key "tied": equal counts (all-tie variance path)
      (0 until 3).flatMap(d => Seq.fill(2)(("tied", ts(d)))) ++
      // key "solo": one day only — must be DROPPED by both arms
      Seq(("solo", ts(1))) ++
      // key "down": falling counts
      (0 until 3).flatMap(d => Seq.fill(3 - d)(("down", ts(d))))
    val df = rows.toDF("k", "ts")
    val (fold, dist) = bothArms(
      graft.agg.TimeSeries.mannKendall(df, col("k"), col("ts")))
    assert(fold == dist)
    assert(fold.nonEmpty && !fold.exists(_.head == "solo"))
  }

  test("domainReweight: fold and distributed arms are bit-identical (NULL domain row)") {
    val rows = Seq(("a", 1000L), ("a", 3000L), ("b", 500L),
      ("b", 700L), ("b", 900L), (null, 2000L), ("c", 10000L))
    val df = rows.toDF("g", "lq")
    val (fold, dist) = bothArms(
      graft.llm.Selection.domainReweight(df, col("g"), col("lq"), eta = 1.0))
    assert(fold == dist && fold.size == 4)
  }

  test("psiFromValueCounts: fold and distributed arms are bit-identical (sparse buckets)") {
    val rows = (1L to 40L).map(v => (v, v % 3 == 0L)) ++
      (30L to 60L).map(v => (v, false))
    val df = rows.toDF("x", "r")
    val counts = graft.agg.RobustStats.psiValueCounts(df, col("x"), col("r"))
    val (fold, dist) = bothArms(
      graft.agg.RobustStats.psiFromValueCounts(counts, 10))
    assert(fold == dist && fold.size == 10)
  }

  test("lorenz: fold and distributed arms are bit-identical (heavy ties)") {
    val rows = Seq.fill(20)(1L) ++ Seq.fill(5)(100L) ++ Seq(0L, 0L, 7L)
    val df = rows.toDF("x")
    val (fold, dist) = bothArms(
      graft.agg.RobustStats.lorenz(df, col("x"), points = 10))
    assert(fold == dist && fold.size == 10)
  }

  test("lorenz: fold and distributed arms are bit-identical (masses beyond Long.MaxValue)") {
    // v·cnt and (cumcnt − k)·v exceed a long: both arms must stay exact
    val big = Long.MaxValue / 2
    val df = (Seq.fill(3)(big) ++ Seq(1L, 5L)).toDF("x")
    val (fold, dist) = bothArms(
      graft.agg.RobustStats.lorenz(df, col("x"), points = 10))
    assert(fold == dist && fold.size == 10)
  }

  test("conformalInterval: fold and distributed arms are bit-identical") {
    // the InferenceSpec fixture: exact fit, planted residual offsets
    val train = (1L to 30L).map(i => (i * 5 + 2, 10 * i + (i % 4), i, i % 4))
    val calib = (0L until 9L).map(j => (j * 5, 10 * 7 + 2 + j, 7L, 2L))
    val test0 = Seq((1L, 10L * 3 + 1 + 5, 3L, 1L),
      (6L, 10L * 3 + 1 + 50, 3L, 1L))
    val df = (train ++ calib ++ test0).toDF("k", "y", "a", "b")
    // threshold 0: the folds live in the cluster branch
    val (fold, dist) = bothArms(
      graft.agg.Inference.conformalInterval(df, col("y"), col("a"),
        col("b"), col("k") % 5 >= 2, col("k") % 5 === 0, smallInputThreshold = 0L))
    assert(fold == dist && fold.size == 1)
  }

  test("the boundary is exact: n rows fold at cap=n, distribute at cap=n-1") {
    val df = Seq(1L, 1L, 2L, 3L).toDF("v") // 3 distinct values
    val g = df.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val saved = DriverFold.cap
    try {
      DriverFold.cap = 3
      assert(DriverFold.collectBounded(g).map(_.length).contains(3))
      DriverFold.cap = 2
      assert(DriverFold.collectBounded(g).isEmpty)
    } finally DriverFold.cap = saved
  }

  test("unimaxAlloc rejects group-key types with no explicit ordering") {
    // two equal caps force the tie-breaking key comparator to run
    val df = Seq((Array[Byte](1), 5L), (Array[Byte](2), 5L)).toDF("g", "t")
    val e = intercept[Exception] {
      graft.llm.Selection.unimaxAlloc(df, col("g"), col("t"),
        budget = 10L, maxEpochs = 2L).collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]))
  }
}
