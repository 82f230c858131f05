package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the inference/integrity/seasonality wave
  * (the sf0.01 oracle gate covers engine parity; these pin the MATH). */
class InferenceSpec extends SparkSpec {
  import spark.implicits._

  test("welchT matches the hand-computed two-sample statistic") {
    // slice A = {1,2,3} (mean 2, var 1), slice B = {4,6} (mean 5, var 2)
    val df = Seq((1L, true), (2L, true), (3L, true), (4L, false),
      (6L, false)).toDF("x", "a")
    val r = Inference.welchT(df, col("x"), col("a")).head()
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 2L)
    assert(math.abs(r.getAs[Double]("mean1") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("var2") - 2.0) < 1e-12)
    val se2 = 1.0 / 3 + 2.0 / 2
    assert(math.abs(r.getAs[Double]("t_stat") - (-3.0 / math.sqrt(se2))) < 1e-12)
    val dfw = se2 * se2 /
      ((1.0 / 3) * (1.0 / 3) / 2 + (2.0 / 2) * (2.0 / 2) / 1)
    assert(math.abs(r.getAs[Double]("df_welch") - dfw) < 1e-12)
  }

  test("welchT degenerate slice yields NULL t") {
    val df = Seq((1L, true), (4L, false), (6L, false)).toDF("x", "a")
    val r = Inference.welchT(df, col("x"), col("a")).head()
    assert(r.isNullAt(r.fieldIndex("t_stat")))
    assert(r.isNullAt(r.fieldIndex("df_welch")))
  }

  test("anovaF matches the hand-computed F") {
    // groups: a={1,2,3} b={2,4} — cents 100,200,300 / 200,400
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0),
      ("b", 4.0)).toDF("g", "v")
    val r = Inference.anovaF(df, col("g"), col("v")).head()
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 5L)
    // SSB = (600²/3 + 600²/2 − 1200²/5)/1e4 = (120000+180000−288000)/1e4
    assert(math.abs(r.getAs[Double]("ss_between") - 1.2) < 1e-6)
    // SSW = (140000+200000 − 300000)/1e4 = 4.0
    assert(math.abs(r.getAs[Double]("ss_within") - 4.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("f_stat") - (1.2 / 1) / (4.0 / 3)) < 1e-5)
  }

  test("mutualInfo of independent columns is ~0 and NMI guards zero entropy") {
    val indep = Seq(("s1", "en"), ("s1", "de"), ("s2", "en"), ("s2", "de"))
      .toDF("s", "l")
    val r = Inference.mutualInfo(indep, col("s"), col("l"))
    assert(math.abs(r.select(max("mi")).head().getDouble(0)) < 1e-6)
    // single-value b column: Hb = 0 → NULL nmi
    val degen = Seq(("s1", "en"), ("s2", "en")).toDF("s", "l")
    val d = Inference.mutualInfo(degen, col("s"), col("l")).head()
    assert(d.isNullAt(d.fieldIndex("nmi")))
  }

  test("mutualInfo of perfectly dependent columns equals the entropy") {
    val dep = Seq(("s1", "en"), ("s1", "en"), ("s2", "de"), ("s2", "de"))
      .toDF("s", "l")
    val r = Inference.mutualInfo(dep, col("s"), col("l")).head()
    assert(math.abs(r.getAs[Double]("mi") - math.log(2)) < 1e-6)
    assert(math.abs(r.getAs[Double]("nmi") - 1.0) < 1e-6)
  }

  test("integrity audit flags orphans, dups, nulls and domain breaks") {
    val child = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val rows = Integrity.audit(Seq(
      Integrity.fkOrphans("fk", child, col("fk"), parent, col("pk")),
      Integrity.dupKeys("pk", Seq(1L, 1L, 2L).toDF("k"), col("k")),
      Integrity.nullCount("nn",
        Seq(Some(1L), None, None).toDF("c"), col("c")),
      Integrity.domainCheck("dom",
        Seq(Some(5.0), Some(-1.0), None).toDF("v"), col("v") > 0)))
      .collect().map(r => r.getAs[String]("check") ->
        ((r.getAs[Long]("n_violations"), r.getAs[Long]("n_total"),
          r.getAs[Boolean]("ok")))).toMap
    assert(rows("fk") == ((1L, 3L, false)))
    assert(rows("pk") == ((1L, 3L, false)))
    assert(rows("nn") == ((2L, 3L, false)))
    assert(rows("dom") == ((2L, 3L, false))) // NULL predicate = violation
  }

  test("seasonality index is the exact cross-product ratio") {
    // key k: 2 events on epoch day 0 (Thu, dow 4), 1 on day 1 (Fri, dow 5)
    val df = Seq(("k", 10L), ("k", 20L), ("k", 86400000000L))
      .toDF("k", "us").select(col("k"),
        timestamp_micros(col("us")).as("ts"))
    val m = TimeSeries.seasonality(df, col("k"), col("ts"))
      .collect().map(r => r.getAs[Long]("dow") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("n_events"),
          r.getAs[Double]("idx")))).toMap
    assert(m(4L) == ((1L, 2L, 2.0 * 2 / (1 * 3))))
    assert(m(5L) == ((1L, 1L, 1.0 * 2 / (1 * 3))))
  }

  test("srm flags a biased split and passes a fair one") {
    // 6 even units vs 2 odd: chi2 = 2·(2)²/4 = 2 < 3.84 (no flag);
    // 9 even vs 1 odd: chi2 = 2·(4)²/5 = 6.4 > 3.84 (flag)
    val fairDf = (Seq(2L, 4L, 6L, 8L, 10L, 12L) ++ Seq(1L, 3L))
      .toDF("u")
    val r1 = Inference.srm(fairDf, col("u"), 2, 3.841458820694124)
      .select(max(col("srm"))).head().getBoolean(0)
    assert(!r1)
    val biased = ((1L to 9L).map(_ * 2) :+ 1L).toDF("u")
    val r2 = Inference.srm(biased, col("u"), 2, 3.841458820694124)
      .select(max(col("srm")), max(col("chi2"))).head()
    assert(r2.getBoolean(0))
    assert(math.abs(r2.getDouble(1) - 6.4) < 1e-6)
  }

  test("cuped removes covariate-explained variance from the means") {
    // units 1..4: pre-period value x_u = u, post y_u = 2·u (perfectly
    // explained) → θ = 2 and every adjusted mean equals ȳ
    val rows = (1L to 4L).flatMap { u =>
      Seq((u, 0L, u.toDouble),            // day 0 (pre)
        (u, 10L, 2.0 * u))                // day 10 (post)
    }
    val df = rows.toDF("u", "day", "v")
      .select(col("u"), timestamp_micros(col("day") * 86400000000L)
        .as("ts"), col("v"))
    val out = Inference.cuped(df, col("u"), col("ts"), col("v"))
      .collect().map(r => r.getAs[Long]("variant") -> r).toMap
    val yBar = (2.0 + 4 + 6 + 8) / 4
    out.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("theta") - 2.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("mean_y_adj") - yBar) < 1e-9)
    }
    // unadjusted means differ between variants; adjusted ones agree
    assert(math.abs(out(0L).getAs[Double]("mean_y") -
      out(1L).getAs[Double]("mean_y")) > 0.5)
    graft.core.Caches.release()
  }

  test("dupClusterStats histogram accounts for every document") {
    val docs = Seq("a", "a", "a", "b", "b", "c").toDF("text")
    val m = graft.llm.Dedup.dupClusterStats(docs, col("text"))
      .collect().map(r => r.getAs[Long]("size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("frac_docs")))).toMap
    assert(m(3L) == ((1L, 3L, 0.5)))
    assert(m(2L) == ((1L, 2L, 2.0 / 6.0)))
    assert(m(1L) == ((1L, 1L, 1.0 / 6.0)))
  }

  test("gaps counts SLA breaches and handles single-event keys") {
    val df = Seq(("a", 1L, 0L), ("a", 2L, 1000L), ("a", 3L, 5000L),
      ("b", 4L, 42L)).toDF("k", "id", "us")
      .select(col("k"), col("id"), timestamp_micros(col("us")).as("ts"))
    val m = TimeSeries.gaps(df, col("k"), col("ts"), col("id"), 2000L)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = m("a")
    assert(a.getAs[Long]("n_gaps") == 2L)
    assert(a.getAs[Long]("max_gap_us") == 4000L)
    assert(a.getAs[Long]("n_over_sla") == 1L)
    assert(math.abs(a.getAs[Double]("mean_gap_us") - 2500.0) < 1e-9)
    val b = m("b")
    assert(b.getAs[Long]("n_gaps") == 0L)
    assert(b.isNullAt(b.fieldIndex("max_gap_us")))
    assert(b.isNullAt(b.fieldIndex("mean_gap_us")))
  }

  test("ols2 recovers an exact linear law with R² = 1; collinear features give NULLs") {
    // y = 2 + 3a + 5b exactly on 5 non-degenerate points
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L))
      .map { case (a, b) => (2L + 3L * a + 5L * b, a, b) }
    val r = Inference.ols2(pts.toDF("y", "a", "b"),
      col("y"), col("a"), col("b")).head()
    assert(r.getAs[Long]("n") == 5L)
    assert(math.abs(r.getAs[Double]("b0") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b1") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b2") - 5.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-12)
    // b == a makes the normal matrix singular → NULL βs and R²
    val sing = Seq((1L, 1L, 1L), (2L, 2L, 2L), (5L, 3L, 3L), (9L, 4L, 4L))
      .toDF("y", "a", "b")
    val s = Inference.ols2(sing, col("y"), col("a"), col("b")).head()
    Seq("b0", "b1", "b2", "r2").foreach(c =>
      assert(s.isNullAt(s.fieldIndex(c)), c))
  }

  test("isotonicCalibration pools adjacent violators to the weighted mean") {
    // bin 0 rate 1.0 (2/2) > bin 1 rate 0.5 (1/2) — PAV pools both
    // to 3/4; a monotone third bin (rate 1.0) stays untouched
    val rows = Seq(
      (0.1, true), (0.2, true),          // bin 0
      (0.55, true), (0.6, false),        // bin 1
      (0.95, true), (0.99, true))        // bin 2 (bins = 3 → width 1/3)
      .toDF("s", "l")
    val out = Inference.isotonicCalibration(rows.toDF("s", "l"),
        col("s"), col("l"), bins = 3)
      .orderBy("bin").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getDouble(2)).toSeq == Seq(1.0, 0.5, 1.0)) // raw
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.75, 0.75, 1.0)) // iso
    // iso curve is monotone non-decreasing by construction
    val iso = out.map(_.getDouble(3))
    assert(iso.zip(iso.tail).forall { case (x, y) => x <= y })
  }

  test("conformalInterval: exact calibration quantile and held-out coverage") {
    // train (m >= 2): y = 10a + b exactly → fit is exact, residuals on
    // other slices are their planted offsets. calib (m = 0): offsets
    // 0..8 cents → k = ceil(0.9 * 10) = 9 → qhat = 8 (9th smallest).
    // test (m = 1): offsets 5 and 50 → coverage 1/2.
    val train = (1L to 30L).map(i => (i * 5 + 2, 10 * i + (i % 4), i, i % 4))
    val calib = (0L until 9L).map(j => (j * 5, 10 * 7 + 2 + j, 7L, 2L))
    val test = Seq((1L, 10L * 3 + 1 + 5, 3L, 1L),
      (6L, 10L * 3 + 1 + 50, 3L, 1L))
    val df = (train ++ calib ++ test).toDF("k", "y", "a", "b")
    // both regimes: the single-task default and the cluster branch
    for (threshold <- Seq(graft.graph.SmallGraph.MaxInputBytes, 0L)) {
      val r = Inference.conformalInterval(df, col("y"), col("a"), col("b"),
        col("k") % 5 >= 2, col("k") % 5 === 0, smallInputThreshold = threshold).head()
      assert(r.getAs[Long]("n_train") == 30L)
      assert(r.getAs[Long]("n_calib") == 9L)
      assert(r.getAs[Long]("n_test") == 2L)
      assert(math.abs(r.getAs[Double]("qhat") - 8.0) < 1e-5)
      assert(math.abs(r.getAs[Double]("coverage") - 0.5) < 1e-12)
      // degenerate fit (collinear train) → NULL qhat/coverage
      val sing = Seq((2L, 1L, 1L, 1L), (7L, 2L, 2L, 2L), (12L, 3L, 3L, 3L),
        (17L, 9L, 4L, 4L), (0L, 5L, 5L, 5L), (1L, 6L, 6L, 6L))
        .toDF("k", "y", "a", "b")
      val d = Inference.conformalInterval(sing, col("y"), col("a"), col("b"),
        col("k") % 5 >= 2, col("k") % 5 === 0, smallInputThreshold = threshold).head()
      assert(d.isNullAt(d.fieldIndex("qhat")) &&
        d.isNullAt(d.fieldIndex("coverage")))
    }
  }

  test("conformalInterval: the single-task regime equals the cluster branch bit for bit on edge rows") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("y", "a", "b").map(StructField(_, LongType)) ++
      Seq("t", "c").map(StructField(_, BooleanType)))
    def frame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def run(df: org.apache.spark.sql.DataFrame, threshold: Long): Seq[Seq[Any]] =
      Inference.conformalInterval(df, col("y"), col("a"), col("b"), col("t"), col("c"),
        smallInputThreshold = threshold).collect().toSeq.map(_.toSeq.map {
          case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
          case x => x
        })
    def both(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val small = run(df, graft.graph.SmallGraph.MaxInputBytes)
      assert(small == run(df, 0L) && small.size == 1)
      small.head
    }
    // the fixture above: exact train fit, calib offsets 0..8, test
    // offsets 5 and 50 (the second test row by a NULL calib flag); rows
    // with a NULL y, a, b or train flag are in no slice
    val train = (1L to 30L).map(i => Row(10 * i + (i % 4), i, i % 4, true, false))
    val calib = (0L until 9L).map(j => Row(10 * 7 + 2 + j, 7L, 2L, false, true))
    val test = Seq(Row(36L, 3L, 1L, false, false), Row(81L, 3L, 1L, false, null))
    val nulls = Seq(Row(null, 1L, 1L, true, false), Row(5L, null, 1L, false, true),
      Row(5L, 1L, null, false, false), Row(5L, 1L, 1L, null, true))
    val full = both(frame(train ++ calib ++ test ++ nulls))
    assert(full.take(3) == Seq(30L, 9L, 2L) &&
      full(4) == java.lang.Double.doubleToLongBits(0.5))
    // no calib rows: NULL n_calib, q̂ and coverage
    assert(both(frame(train ++ test)) == Seq(30L, null, 2L, null, null))
    // no non-train rows
    assert(both(frame(train)) == Seq(30L, null, null, null, null))
    // no usable fit: fewer than 3 train rows, then det = 0 (collinear)
    assert(both(frame(train.take(2) ++ calib ++ test)) == Seq(2L, 0L, 0L, null, null))
    val collinear = Seq(Row(1L, 1L, 1L, true, false), Row(2L, 2L, 2L, true, false),
      Row(3L, 3L, 3L, true, false), Row(9L, 4L, 4L, true, false))
    assert(both(frame(collinear ++ calib ++ test)) == Seq(4L, 0L, 0L, null, null))
    // empty, statically (a local relation) and at run time
    assert(both(frame(Nil)) == Seq(0L, 0L, 0L, null, null))
    assert(both(frame(train).filter(col("y") < 0L)) == Seq(0L, 0L, 0L, null, null))
    // a LONG product past 2^63 (a·a) raises on both branches
    val overflow = frame(train :+ Row(1L, 4000000000L, 1L, true, false))
    Seq(graft.graph.SmallGraph.MaxInputBytes, 0L).foreach { threshold =>
      val e = intercept[Exception](run(overflow, threshold))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"threshold $threshold: $e")
    }
  }

  test("wasserstein1 equals the hand-computed CDF area; empty slice is NULL") {
    // A = {0, 2}, B = {1, 3} → W₁ = 1 (pair 0→1, 2→3)
    val df = Seq((0L, true), (2L, true), (1L, false), (3L, false))
      .toDF("x", "a")
    val r = RobustStats.wasserstein1(df, col("x"), col("a")).head()
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Double]("w1") == 1.0)
    val e = RobustStats.wasserstein1(
      Seq((0L, true), (2L, true)).toDF("x", "a"), col("x"), col("a"))
      .head()
    assert(e.isNullAt(e.fieldIndex("w1")))
  }

  test("brier scores exactly: perfect forecast 0/skill 1, coin-flip skill 0") {
    val perfect = Seq((1.0, true), (0.0, false)).toDF("p", "y")
    val rp = Inference.brier(perfect, col("p"), col("y")).head()
    assert(rp.getAs[Double]("brier") == 0.0 &&
      rp.getAs[Double]("base_rate") == 0.5 &&
      rp.getAs[Double]("uncertainty") == 0.25 &&
      rp.getAs[Double]("brier_skill") == 1.0)
    val coin = Seq((0.5, true), (0.5, false)).toDF("p", "y")
    val rc = Inference.brier(coin, col("p"), col("y")).head()
    assert(rc.getAs[Double]("brier") == 0.25 &&
      rc.getAs[Double]("brier_skill") == 0.0)
    // degenerate base rate: skill undefined, not infinite
    val degen = Seq((0.9, true), (0.8, true)).toDF("p", "y")
    val rd = Inference.brier(degen, col("p"), col("y")).head()
    assert(rd.isNullAt(rd.fieldIndex("brier_skill")))
  }

  test("powerAnalysis sizes the experiment from exact power sums") {
    // arm0 = {1, 3} (mean 2, cents ssq 20000), arm1 = {2, 6} (mean 4,
    // ssq 80000): δ = 2.0, pooled var = 100000/2/1e4 = 5.0,
    // n_req = ceil(2·(z.975+z.8)²·5/4)
    val df = Seq((10L, 1.0), (12L, 3.0), (11L, 2.0), (13L, 6.0))
      .toDF("u", "v")
    val r = Inference.powerAnalysis(df, col("u"), col("v"),
      col("u") % 2 === 1).head()
    assert(r.getAs[Long]("n0") == 2L && r.getAs[Long]("n1") == 2L)
    assert(r.getAs[Double]("observed_delta") == 2.0)
    assert(r.getAs[Double]("var_pooled") == 5.0)
    val expected = math.ceil(2.0 * Inference.PowerZSum2 * 5.0 / 4.0).toLong
    assert(r.getAs[Long]("n_required_per_arm") == expected)
    assert(!r.getAs[Boolean]("powered_now"))
  }

  test("powerAnalysis zero effect or degenerate arm yields NULL sizing") {
    val zero = Seq((10L, 2.0), (12L, 2.0), (11L, 2.0), (13L, 2.0))
      .toDF("u", "v")
    val rz = Inference.powerAnalysis(zero, col("u"), col("v"),
      col("u") % 2 === 1).head()
    assert(rz.isNullAt(rz.fieldIndex("n_required_per_arm")))
    val tiny = Seq((10L, 1.0), (11L, 2.0)).toDF("u", "v")
    val rt = Inference.powerAnalysis(tiny, col("u"), col("v"),
      col("u") % 2 === 1).head()
    assert(rt.isNullAt(rt.fieldIndex("var_pooled")))
  }

  test("kruskalWallis matches the hand-computed H on a tie-free fixture") {
    // a = {1, 3} (ranks 1, 3 → R = 4), b = {2, 4} (ranks 2, 4 → R = 6):
    // Σ R²/n = 16/2 + 36/2 = 26 (both exact under the integer div),
    // H = 12·26/(4·5) − 3·5 = 0.6; no ties → H' = H
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0))
      .toDF("g", "v")
    val rows = Inference.kruskalWallis(df, col("g"), col("v"))
      .orderBy("g").collect()
    assert(rows.map(_.getAs[Long]("rank_sum2")).toSeq == Seq(8L, 12L))
    val r = rows.head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("k") == 2L)
    assert(math.abs(r.getAs[Double]("h") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("h_tie_corrected") - 0.6) < 1e-12)
  }

  test("kruskalWallis all-tied domain zeroes H and NULLs the correction") {
    // one distinct value across both groups: midrank 2 for all three,
    // H = 0 exactly; tie mass eats the whole domain → correction ≤ 0
    val df = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("g", "v")
    val r = Inference.kruskalWallis(df, col("g"), col("v"))
      .orderBy("g").head()
    assert(r.getAs[Double]("h") == 0.0)
    assert(r.isNullAt(r.fieldIndex("h_tie_corrected")))
  }

  test("kruskalWallis single group yields NULL H") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val r = Inference.kruskalWallis(df, col("g"), col("v")).head()
    assert(r.isNullAt(r.fieldIndex("h")))
  }

  test("fleissKappa matches the hand-computed 3-rater statistic") {
    // per-doc positive votes p = 3, 0, 2, 1:
    // a_i = p(p−1)+(3−p)(2−p) = 6, 6, 2, 2 → Σa = 16, Σp = 6, N = 4
    // P̄ = 16/24 = 2/3, p₁ = 6/12 = 1/2, P_e = 1/2, κ = (2/3−1/2)/(1/2) = 1/3
    val df = Seq(
      (true, true, true), (false, false, false),
      (true, true, false), (true, false, false)
    ).toDF("r1", "r2", "r3")
    val r = Inference.fleissKappa(df, Seq(col("r1"), col("r2"), col("r3")))
      .head()
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("s_votes") == 6L)
    assert(r.getAs[Long]("s_agree") == 16L)
    assert(math.abs(r.getAs[Double]("kappa") - 1.0 / 3.0) < 1e-12)
  }

  test("fleissKappa: unanimous raters (P_e = 1) yield NULL kappa; NULL votes count 0") {
    val una = Seq((true, true, true), (true, true, true)).toDF("r1", "r2", "r3")
    val r = Inference.fleissKappa(una, Seq(col("r1"), col("r2"), col("r3")))
      .head()
    assert(r.isNullAt(r.fieldIndex("kappa")))
    // a NULL rater verdict is a 0-vote, not a dropped row
    val withNull = Seq((Some(true), true, true), (None, false, false))
      .toDF("r1", "r2", "r3")
    val rn = Inference.fleissKappa(withNull,
      Seq(col("r1"), col("r2"), col("r3"))).head()
    assert(rn.getAs[Long]("n_docs") == 2L)
    assert(rn.getAs[Long]("s_votes") == 3L)
  }
}
