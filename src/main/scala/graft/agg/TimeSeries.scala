package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization — resampling an irregular event stream
  * onto a fixed per-key time grid with forward fill (the gap-filling
  * step every metrics/feature pipeline runs before windowed models:
  * "value of X for every user for every hour, carrying the last
  * observation forward").
  *
  * Method: bucket = epoch-micros integer-divided by the bucket width
  * (pure integer math — both engines compute `unix_micros div width`,
  * no timestamp arithmetic to diverge on); per (key, bucket) keep the
  * LAST observation (argmax by (ts, value) — ties on ts break to the
  * larger value, deterministically; NULL values are dropped first: a
  * null observation is not an observation); explode each key's
  * [min_bucket, max_bucket] span into the dense grid; left-join the
  * observations and forward-fill with `last(ignoreNulls)` over an
  * unbounded-preceding row frame. The first grid bucket per key is an
  * observed bucket by construction, so no leading nulls exist.
  *
  * Scale posture: one hash-agg shuffle on (key, bucket) for the
  * per-bucket argmax (map-side combined), one shuffle of the
  * grid/observation join on the same key pair, and the fill window
  * sorts per key — the unavoidable co-location for any
  * carry-forward. Grid size is bounded by keys × span/width; pick the
  * bucket width so that product stays sane (hourly for month-scale
  * spans), exactly the knob a 100 TB metrics pipeline tunes.
  *
  * Returns (k, bucket, v_fill, observed 0/1). */
object TimeSeries {

  /** Hard per-key grid bound: observations past `b0 + maxBuckets - 1`
    * are DISCARDED before the span explode. One junk far-future
    * timestamp (the adversarial corpus plants year-2255 events) would
    * otherwise turn a key's hourly grid into millions of rows — the
    * only unbounded construct the round-10 audit found in the whole
    * engine. 100 000 hourly buckets ≈ 11.4 years, far beyond any sane
    * metrics span. Dropping the observation (rather than only capping
    * the sequence) keeps the invariant "the grid ends at an observed
    * bucket" — forward fill has no trailing synthetic stretch and every
    * lerp gap stays interior — and is mirrored bit-for-bit in the
    * DuckDB oracle (window `min(bucket) OVER (PARTITION BY k)` +
    * the same filter), so parity is exact whether or not it fires. */
  val DefaultMaxBuckets = 100000L

  def resampleForwardFill(df: DataFrame, key: Column, ts: Column,
                          value: Column, bucketMicros: Long,
                          maxBuckets: Long = DefaultMaxBuckets): DataFrame = {
    val (obs, grid) = observationsAndGrid(df, key, ts, value, bucketMicros, maxBuckets)
    val w = Window.partitionBy(col("k")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("k", "bucket"), "left")
      .select(col("k"), col("bucket"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("v_fill"),
        when(col("v_obs").isNotNull, 1L).otherwise(0L).as("observed"))
  }

  /** Linear-interpolation variant: an unobserved bucket gets
    * vp + (vn − vp) · (b − bp)/(bn − bp) between its neighboring
    * observations; observed buckets keep their exact value. Every gap is
    * INTERIOR by construction (the grid spans each key's first..last
    * observed bucket), so both neighbors always exist. The arithmetic is
    * the same IEEE double op sequence on both engines — no rounding, no
    * tolerance.
    *
    * Plan shape: segment endpoints come from a `lead` window over the
    * OBSERVATIONS (small — one row per observed bucket), the grid runs
    * ONE forward-fill window (the previous observed bucket `bp`), and
    * segments attach by an equi-join on (k, bp) — window work scales
    * with observations, not grid size (an earlier form ran two full
    * IGNORE-NULLS window passes over the dense grid, 2× slower). */
  def resampleInterpolate(df: DataFrame, key: Column, ts: Column,
                          value: Column, bucketMicros: Long,
                          maxBuckets: Long = DefaultMaxBuckets): DataFrame = {
    val (obs, grid) = observationsAndGrid(df, key, ts, value, bucketMicros, maxBuckets)
    val wLead = Window.partitionBy(col("k")).orderBy(col("bucket"))
    val seg = obs.select(col("k"), col("bucket").as("bp"), col("v_obs").as("vp"),
      lead(col("bucket"), 1).over(wLead).as("bn"),
      lead(col("v_obs"), 1).over(wLead).as("vn"))
    val wPrev = Window.partitionBy(col("k")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("k", "bucket"), "left")
      .withColumn("bp",
        last(when(col("v_obs").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev))
      .join(seg, Seq("k", "bp"))
      .select(col("k"), col("bucket"),
        when(col("v_obs").isNotNull, col("v_obs"))
          .otherwise(col("vp") + (col("vn") - col("vp")) *
            ((col("bucket") - col("bp")).cast("double") /
              (col("bn") - col("bp")).cast("double"))).as("v_fill"),
        when(col("v_obs").isNotNull, 1L).otherwise(0L).as("observed"))
  }

  /** Shared core: per-(key, bucket) last observations and the dense
    * per-key grid. */
  private def observationsAndGrid(df: DataFrame, key: Column, ts: Column,
                                  value: Column, bucketMicros: Long,
                                  maxBuckets: Long): (DataFrame, DataFrame) = {
    // exact integral division: (u - u mod w) div w stays in LONG end to
    // end (the numerator is an exact multiple of w, so truncating
    // division IS floor division for any sign). An earlier form divided
    // through DOUBLE, exact only while |numerator| < 2^53 — a junk
    // far-future timestamp (> year ~2255 in epoch micros) would silently
    // land one bucket off the oracle's integer `//`.
    def bucketOf(u: Column): Column =
      call_function("div", u - pmod(u, lit(bucketMicros)), lit(bucketMicros))
    // a null observation is not an observation, and a grid for the null
    // key or an un-timestamped event is meaningless — all three drop
    // tracked persist: the observation table feeds the span/grid, the
    // segment window and the grid join (2-3 consumers) and is small
    // (one row per observed bucket) — the posting-list trade, opposite
    // of an exploded stream
    // clamp window: an unordered min-over-k window rides the same
    // per-key co-location the grid/fill steps need anyway; observations
    // past the window are junk by definition (see DefaultMaxBuckets)
    val wk = Window.partitionBy(col("k"))
    val obs = graft.core.Caches.track(df
      .filter(value.isNotNull && key.isNotNull && ts.isNotNull)
      .select(key.as("k"), bucketOf(unix_micros(ts)).as("bucket"),
        unix_micros(ts).as("tsu"), value.as("v"))
      .groupBy(col("k"), col("bucket"))
      .agg(max_by(col("v"), struct(col("tsu"), col("v"))).as("v_obs"))
      .withColumn("b0k", min(col("bucket")).over(wk))
      .filter(col("bucket") <= col("b0k") + lit(maxBuckets - 1))
      .drop("b0k"))
    val grid = obs.groupBy(col("k"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
    (obs, grid)
  }

  /** Per-key lag-1 autocorrelation of an event stream ordered by
    * (ts, id) — the "is this metric trending or white noise?" probe.
    *
    * The value is integerized to LONG cents, lag pairs come from one
    * window pass, and the Pearson correlation over (xₜ, xₜ₊₁) follows
    * the q_corr exact-power-sum discipline: n, Σx, Σy as LONG,
    * Σxy/Σx²/Σy² in DECIMAL(38,0) (overflow headroom at lake scale),
    * with the covariance/denominator doubles computed once post-agg in
    * a fixed operation order. A zero-variance side (constant series)
    * short-circuits to NULL — Spark 4 ANSI raises DIVIDE_BY_ZERO even
    * on DOUBLE division where DuckDB yields NULL, so the guard is
    * shared CASE text on both engines.
    *
    * Shape: the lag window and the aggregation share the key
    * partitioning — one shuffle total. */
  def autocorrLag1(df: DataFrame, key: Column, ts: Column, id: Column,
                   value: Column): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("tsu"), col("id"))
    // a null observation is not an observation (house rule, see
    // observationsAndGrid) — unfiltered it would pair with neighbors
    // and inflate n while the sums skip it
    val pairs = df
      .filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("tsu"), id.as("id"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("y"))
      .withColumn("x", lag(col("y"), 1).over(w))
      .filter(col("x").isNotNull)
    val a = pairs.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    val den =
      sqrt(col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("n")) *
      sqrt(col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double") / col("n"))
    a.select(col("k"), col("n"),
      when(den === 0.0, lit(null).cast("double"))
        .otherwise((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n")) / den)
        .as("corr_lag1"))
  }

  /** CUSUM changepoint per key (Page 1954 / the offline max-drift
    * form): the single most likely level-shift point of each series —
    * the monitor a continuously-ingested pipeline runs per source to
    * answer "WHEN did this metric move", the companion of the
    * which-distribution alarms (PSI, KS, KL).
    *
    * Statistic: over the (ts, id)-ordered series, the cumulative sum
    * C_i drifts from the global trend line i·S/n by
    * D_i = C_i − i·S/n; the changepoint is argmax |D_i| (earliest
    * (ts, id) on ties) and max|D_i| estimates the shift mass. All
    * comparisons run on the EXACT integer numerator
    * |C_i·n − i·S| (values quantized to cents; products in
    * DECIMAL(38,0) — with C_i ~ n·10⁴ cents the LONG product
    * overflows at lake scale, the gini/autocorr lesson), so the
    * argmax is engine-exact; the emitted drift and the left/right
    * segment means divide once at the end. Single-observation
    * segments make mean_right NULL at i = n (ANSI guard, both
    * engines).
    *
    * Shape: one key-partitioned sort carries the row number and both
    * cumulative/total sums; the argmax is a second window ORDER on
    * the same partitioning (sort, no extra exchange) — two sorts, one
    * shuffle, O(1) state per key. */
  def cusumChangepoint(df: DataFrame, key: Column, ts: Column, id: Column,
                       value: Column): DataFrame = {
    val wcum = Window.partitionBy(col("k")).orderBy(col("t"), col("id"))
    val wall = Window.partitionBy(col("k"))
    val v = df
      .filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"), id.as("id"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
      .withColumn("i", row_number().over(wcum).cast("long"))
      .withColumn("ci", sum(col("c")).over(wcum))
      .withColumn("n", count(lit(1)).over(wall))
      .withColumn("s", sum(col("c")).over(wall))
    val drift =
      abs(col("ci").cast("decimal(38,0)") * col("n") -
        col("i").cast("decimal(38,0)") * col("s"))
    val wmax = Window.partitionBy(col("k"))
      .orderBy(col("dnum").desc, col("t"), col("id"))
    v.withColumn("dnum", drift)
      .withColumn("rk", row_number().over(wmax))
      .filter(col("rk") === 1)
      .select(col("k"), col("n"), col("t").as("cp_t"),
        col("i").as("cp_index"),
        (col("dnum").cast("double") /
          (col("n").cast("double") * lit(100.0))).as("max_drift"),
        (col("ci").cast("double") / col("i").cast("double") / lit(100.0))
          .as("mean_left"),
        when(col("i") === col("n"), lit(null).cast("double"))
          .otherwise((col("s") - col("ci")).cast("double") /
            (col("n") - col("i")).cast("double") / lit(100.0))
          .as("mean_right"))
  }

  /** Exponentially-weighted moving average per key — the smoothed
    * "current level" of each series, the estimator behind every
    * alerting baseline ("is the latest reading far from where the
    * series has settled?"). Emits the final EWMA beside the last raw
    * observation so the residual is one subtraction away.
    *
    * Determinism: EWMA is inherently sequential (y_i depends on
    * y_{i-1}), so both engines run the IDENTICAL left fold
    * y ← y + (x − y)/alphaDen over the (ts, id)-ordered series,
    * seeded with the first observation — same op sequence on doubles
    * ⇒ bit-equal results, no closed-form reordering. alphaDen = 4
    * (α = 0.25) keeps every step a dyadic-rational op.
    *
    * Shape: one key-partitioned collect of the series (the saxWord
    * regime: per-key series must be BOUNDED — at lake scale feed this
    * windowed slices, e.g. per (key, day), not an unbounded history;
    * the fold itself is O(n) with O(1) state and is exactly what
    * `flatMapGroupsWithState` carries in the streaming twin). */
  def ewma(df: DataFrame, key: Column, ts: Column, id: Column,
           value: Column, alphaDen: Int = 4): DataFrame = {
    val v = df.filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"), id.as("id"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    v.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("t"), col("id"), col("c"))))
          .as("arr"))
      .select(col("k"), col("n"),
        (element_at(col("arr"), -1).getField("c").cast("double") /
          lit(100.0)).as("last_value"),
        (aggregate(
          slice(col("arr"), lit(2), greatest(size(col("arr")) - 1, lit(0))),
          element_at(col("arr"), 1).getField("c").cast("double"),
          (acc, e) => acc +
            (e.getField("c").cast("double") - acc) / lit(alphaDen.toDouble))
          / lit(100.0)).as("ewma"))
  }

  /** Theil–Sen robust trend slope per key over the DAILY event-count
    * series — "is this source's volume trending, and how fast?", with
    * the estimator that shrugs off outlier days (up to ~29% corrupted
    * points) where an OLS fit would chase them. The volume-trend
    * member of the drift family (PSI/KS ask distribution, CUSUM asks
    * when, this asks how fast).
    *
    * Exactness: the daily counts are exact integers on an integer
    * epoch-day axis; each pairwise slope (c₂−c₁)/(d₂−d₁) is ONE
    * double division both engines compute identically, and the median
    * is (min+max)/2.0 over the one or two exact middle order
    * statistics — no percentile interpolation, no double summation.
    *
    * Shape: the pair join runs on the per-key DAY table — O(days²)
    * per key, bounded by the time range, NOT the corpus (a year is
    * ~66k pairs); the corpus only feeds one (key, day) count agg.
    * Keys with a single active day have no pair and drop out. */
  def theilSen(df: DataFrame, key: Column, ts: Column): DataFrame = {
    val days = df.filter(ts.isNotNull)
      .select(key.as("k"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("d"))
      .groupBy(col("k"), col("d")).agg(count(lit(1)).as("c"))
    val slopes = days.as("l").join(days.as("r"),
        col("l.k") === col("r.k") && col("l.d") < col("r.d"))
      .select(col("l.k").as("k"),
        ((col("r.c") - col("l.c")).cast("double") /
          (col("r.d") - col("l.d")).cast("double")).as("slope"))
    val wk = Window.partitionBy(col("k"))
    val wo = Window.partitionBy(col("k")).orderBy(col("slope"))
    slopes
      .withColumn("rn", row_number().over(wo).cast("long"))
      .withColumn("np", count(lit(1)).over(wk).cast("long"))
      .filter(col("rn") === call_function("div", col("np") + lit(1L), lit(2L)) ||
        col("rn") === call_function("div", col("np") + lit(2L), lit(2L)))
      .groupBy(col("k"))
      .agg(max(col("np")).as("n_pairs"),
        ((min(col("slope")) + max(col("slope"))) / lit(2.0))
          .as("slope_per_day"))
  }

  /** First-order Markov transition matrix of event types per user
    * stream — "after a click, what happens next?": the behavioral
    * fingerprint behind funnel design, bot screens (machine traffic
    * has degenerate transition rows) and session simulators. The
    * event-stream analogue of the text bigram-entropy signal.
    *
    * Transitions pair each event with its predecessor in the user's
    * (ts, id) order (the autocorrLag1 lag discipline; a user's first
    * event has none). Counts and row marginals are exact integers;
    * each probability is ONE final division. NULL user/ts/type rows
    * are not observations.
    *
    * Shape: one user-keyed sort window for the lag, then a
    * map-combined agg on the ≤ |types|² transition keys and a tiny
    * self-agg for the marginals — the corpus shuffles once. */
  def markovTransitions(df: DataFrame, user: Column, ts: Column, id: Column,
                        typ: Column): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("id"))
    val pairs = df
      .filter(user.isNotNull && ts.isNotNull && typ.isNotNull)
      .select(user.as("u"), unix_micros(ts).as("t"), id.as("id"),
        typ.as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val marginals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    counts.join(broadcast(marginals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  /** SAX (symbolic aggregate approximation, Lin et al. DMKD'07) word
    * per key: the series' time span is cut into `frames` equal frames
    * (PAA), each frame's mean level is rank-quantized into `alpha`
    * symbols a.., and the symbols concatenate in time order into one
    * short word — the shape signature that makes time series
    * groupable/joinable like strings.
    *
    * Exactness: frame assignment is pure integer µs math
    * ((t−t₀)·frames div (t₁−t₀+1)); symbols come from the RANK of the
    * frame mean (ntile-style (alpha·(rk−1)) div n_frames), not from
    * z-normalized breakpoints, so no sqrt/σ enters. The rank orders by
    * the double mean Σc/cnt — both engines compute that one division
    * identically — with frame index as the tie-break.
    *
    * Shape: two shuffles (key windows for the span, (key, frame)
    * hash-agg), then a per-key collect of ≤`frames` structs. */
  def saxWord(df: DataFrame, key: Column, ts: Column, value: Column,
              frames: Int = 16, alpha: Int = 4): DataFrame = {
    val wk = Window.partitionBy(col("k"))
    // a null observation is not an observation — it would count in the
    // frame's cnt while its value skips the sum, diluting the mean
    val framed = df
      .filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
      .withColumn("t0", min(col("t")).over(wk))
      .withColumn("t1", max(col("t")).over(wk))
      .select(col("k"),
        call_function("div", (col("t") - col("t0")) * lit(frames.toLong),
          col("t1") - col("t0") + lit(1L)).as("frame"),
        col("c"))
    val means = framed.groupBy(col("k"), col("frame"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("cnt"))
    val ranked = means
      .withColumn("rk", row_number().over(Window.partitionBy(col("k"))
        .orderBy(col("s").cast("double") / col("cnt"), col("frame"))))
      .withColumn("nb", count(lit(1)).over(wk))
      .select(col("k"), col("frame"),
        call_function("chr", lit(97L) + call_function("div",
          lit(alpha.toLong) * (col("rk").cast("long") - lit(1L)),
          col("nb"))).as("sym"))
    ranked.groupBy(col("k"))
      .agg(count(lit(1)).as("n_buckets"),
        array_join(transform(
          array_sort(collect_list(struct(col("frame"), col("sym")))),
          e => e.getField("sym")), "").as("sax_word"))
  }

  /** Classical additive seasonal decomposition of the daily-count
    * series per key: trend (centered ±`halfWindow`-day moving
    * average), day-of-week seasonal component (mean detrended value
    * per weekday), and the residual — the triage view that separates
    * "we grew", "it's Sunday", and "something happened" in one pass.
    *
    * Determinism: the trend is the exact-integer ratio s/n over the
    * RANGE window (observed days only; edges use the clamped partial
    * window on both engines); each day's detrended value quantizes
    * floor(·10⁶) LONG before the per-weekday mean (order-free), and
    * the residual c − trend − seasonal is ONE final expression.
    * Weekdays via the engine-neutral (epoch_day + 4) mod 7.
    *
    * Shape: one (key, day) count, one RANGE window and one ≤7·keys
    * re-agg joined back broadcast — day-table work throughout. */
  def seasonalDecompose(df: DataFrame, key: Column, ts: Column,
                        halfWindow: Int = 3): DataFrame = {
    val daily = dailyCounts(df, key, ts)
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rangeBetween(-halfWindow.toLong, halfWindow.toLong)
    val trend = sum(col("c")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    val detrended = graft.core.Caches.track(daily
      .withColumn("trend", trend)
      .withColumn("dow", (col("day") + lit(4L)) % lit(7L))
      .withColumn("dtq",
        floor((col("c").cast("double") - col("trend")) * lit(1.0e6))
          .cast("long")))
    val seasonal = detrended.groupBy(col("k"), col("dow"))
      .agg((sum(col("dtq")).cast("double") / lit(1.0e6) /
        count(lit(1)).cast("double")).as("seasonal"))
    detrended.join(broadcast(seasonal), Seq("k", "dow"))
      .select(col("k"), col("day"), col("dow"), col("c"), col("trend"),
        col("seasonal"),
        (col("c").cast("double") - col("trend") - col("seasonal"))
          .as("residual"))
  }

  /** Mann–Kendall trend test per key over the daily-count series —
    * the SIGNIFICANCE companion of [[theilSen]]'s slope: S = Σ_{i<j}
    * sign(c_j − c_i) over day order, tie-corrected variance, and the
    * continuity-corrected z. A monotone drift that never breaks a 3σ
    * daily band still drives |z| up; this is the slow-leak alarm.
    *
    * Exactness: S and the variance NUMERATOR 18·var = n(n−1)(2n+5) −
    * Σ t(t−1)(2t+5) are exact integers (DECIMAL(38,0) — n³ terms);
    * z = (S∓1)/√(var_num/18) is ONE final double with the S = 0 and
    * n < 2 guards. Ties group by the daily-count VALUE.
    *
    * Shape: ONE corpus job — the (key, day) count (map-combined,
    * day-table-sized output bounded by keys × calendar days, never the
    * corpus). S, n, the tie numerator and z then fold into driver
    * arithmetic on the collected day table (the labelSeparation
    * discipline; the previous Spark-side form paid 4 jobs / 12 stages:
    * day-table persist + pair self-join + 2 re-aggs + a 2-join
    * assembly). Equivalence: S is an exact integer sum of ±1 terms
    * (order-free — the driver pair loop enumerates the same i<j set
    * the join produced), n/tie_sum/var_num18 are exact integer
    * arithmetic, and z is the ONE final double chain both engines
    * share, evaluated on those integers.
    *
    * Guard (r17): keys × days is DATA-dependent, so the fold is gated
    * on [[graft.core.DriverFold]] — above the cap the pre-fold
    * distributed form (pair self-join over the persisted day table)
    * runs instead, with bit-identical results. EAGER under the cap:
    * the corpus job executes at DataFrame-construction time. */
  def mannKendall(df: DataFrame, key: Column, ts: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val daysDf = df.filter(key.isNotNull && ts.isNotNull)
      .select(key.as("k"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("d"))
      .groupBy(col("k"), col("d")).agg(count(lit(1)).as("c"))
    graft.core.DriverFold.collectBounded(daysDf) match {
      case Some(rows) =>
        val days = rows.map(r => (r.get(0), r.getLong(1), r.getLong(2)))
        val byK = scala.collection.mutable.LinkedHashMap
          .empty[Any, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
        days.foreach { case (k, d, c) =>
          byK.getOrElseUpdate(k,
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) += ((d, c))
        }
        // a key with a single observed day produced NO pair-join row in the
        // join form, so its INNER assembly dropped the key — replicate that
        // (adversarial-gate find: 5 rows vs the oracle's 1 without it)
        val out = byK.iterator.filter(_._2.size >= 2).map { case (k, dc) =>
          val n = dc.size.toLong
          var s = 0L
          var i = 0
          while (i < dc.size) { // the l.d < r.d pair set, exact ±1 sum
            var j = 0
            while (j < dc.size) {
              if (dc(i)._1 < dc(j)._1)
                s += java.lang.Long.signum(dc(j)._2 - dc(i)._2).toLong
              j += 1
            }
            i += 1
          }
          val tieSum = dc.groupBy(_._2).valuesIterator.map { g =>
            val t = BigInt(g.size)
            t * (t - 1) * (2 * t + 5)
          }.sum
          val varNum = BigInt(n) * BigInt(n - 1) * BigInt(2 * n + 5) - tieSum
          // decimal(38,0) → double matches BigDecimal.doubleValue
          val varD = new java.math.BigDecimal(varNum.bigInteger).doubleValue / 18.0
          val z =
            if (s > 0L) (s.toDouble - 1.0) / math.sqrt(varD)
            else if (s < 0L) (s.toDouble + 1.0) / math.sqrt(varD)
            else 0.0
          val zOrNull: Any = if (n < 2L || varNum <= 0) null else z
          // the pre-fold decimal(38,0)→long Spark cast returned NULL on
          // overflow in non-ANSI mode; toLong would silently truncate
          val varNumLong: Any = if (varNum.isValidLong) varNum.toLong else null
          Row(k, n, s, varNumLong, zOrNull)
        }.toSeq
        val schema = StructType(Seq(
          StructField("k", daysDf.schema("k").dataType),
          StructField("n", LongType), StructField("s_stat", LongType),
          StructField("var_num18", LongType), StructField("z", DoubleType)))
        spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      case None => // distributed tail: the pre-r16 pair self-join form
        val days = graft.core.Caches.track(daysDf)
        val s = days.as("l").join(days.as("r"),
            col("l.k") === col("r.k") && col("l.d") < col("r.d"))
          .select(col("l.k").as("k"),
            signum(col("r.c") - col("l.c")).cast("long").as("sg"))
          .groupBy(col("k")).agg(sum(col("sg")).as("s_stat"))
        val n = days.groupBy(col("k")).agg(count(lit(1)).as("n"))
        val ties = days.groupBy(col("k"), col("c"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("k"))
          .agg(sum((col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .cast("decimal(38,0)")).as("tie_sum"))
        val varNum = (col("n") * (col("n") - 1L) *
          (lit(2L) * col("n") + 5L)).cast("decimal(38,0)") - col("tie_sum")
        val varD = varNum.cast("double") / lit(18.0)
        val z = when(col("s_stat") > 0L,
            (col("s_stat").cast("double") - lit(1.0)) / sqrt(varD))
          .when(col("s_stat") < 0L,
            (col("s_stat").cast("double") + lit(1.0)) / sqrt(varD))
          .otherwise(lit(0.0))
        n.join(s, Seq("k")).join(ties, Seq("k"))
          .select(col("k"), col("n"), col("s_stat"),
            varNum.cast("long").as("var_num18"),
            when(col("n") < 2L || varNum <= 0L, lit(null).cast("double"))
              .otherwise(z).as("z"))
    }
  }

  /** Kaplan–Meier survival curve for the `fromType` → `toType`
    * conversion delay, right-censored at the corpus horizon: per
    * event-day t, the at-risk count, the conversions at t, and the
    * product-limit survival estimate S(t) = Π_{u ≤ t} (1 − d_u/n_u) —
    * "how long until a signup purchases", with users who never
    * converted contributing exactly the censoring information a naive
    * mean-of-converters silently throws away.
    *
    * Determinism: durations are integer days; per-day d/n are exact
    * integers (at-risk via one cumulative window over the DAY table);
    * S(t) folds the day-ordered factor array sequentially (the EWMA
    * rule — a product's rounding depends on order, so the spec IS the
    * fold), each factor the shared (n−d)/n double. O(D²) fold work on
    * a D≈horizon-days array — bounded by the calendar, not the
    * corpus.
    *
    * Shape: one user-keyed agg (first from / first to after it), one
    * duration-day agg + cumulative window, one ≤D-element collect
    * broadcast back over the day rows. */
  def kaplanMeier(df: DataFrame, user: Column, ts: Column, typ: Column,
                  fromType: String, toType: String): DataFrame = {
    val v = df.filter(user.isNotNull && ts.isNotNull && typ.isNotNull)
      .select(user.as("u"), unix_micros(ts).as("t"), typ.as("typ"))
    val horizon = v.agg(max(col("t")).as("maxT"))
    val perUser = v.groupBy(col("u"))
      .agg(min(when(col("typ") === fromType, col("t"))).as("t0"),
        min(when(col("typ") === toType, col("t"))).as("t1raw"))
      .filter(col("t0").isNotNull)
      .withColumn("t1",
        when(col("t1raw") >= col("t0"), col("t1raw")))
      .crossJoin(broadcast(horizon))
      .select(
        call_function("div",
          coalesce(col("t1"), col("maxT")) - col("t0"),
          lit(86400000000L)).as("dur"),
        col("t1").isNotNull.as("event"))
    val byDay = perUser.groupBy(col("dur"))
      .agg(count(lit(1)).as("n_at"),
        sum(when(col("event"), 1L).otherwise(0L)).as("d"))
    val w = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // n_total rides the SAME single-partition window pass as the
    // at-risk prefix (byDay is day-domain-sized), and the sequential
    // product-limit fold explodes straight out of the one collected
    // factor array — the old shape broadcast TWO 1-row artifacts
    // (totals, factors) back onto the risk rows, a chain of two extra
    // broadcast jobs on a sub-second audit (4 jobs → 2; 1.10 → 0.6 s).
    // slice(fs, 1, pos+1) of the dur-sorted array ≡ the old
    // filter(dur ≤ row.dur) — dur is the groupBy key, hence unique —
    // so the double product chain is bit-identical.
    val risk = byDay
      .withColumn("n_total", sum(col("n_at")).over(wAll))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("n_at")).over(w), lit(0L)))
      .filter(col("d") > 0L)
      .select(col("dur"), col("n_risk"), col("d"))
    risk
      .agg(array_sort(collect_list(struct(col("dur"), col("n_risk"),
        col("d")))).as("fs"))
      .select(col("fs"), posexplode(col("fs")))
      .select(col("col.dur").as("t_day"), col("col.n_risk").as("n_risk"),
        col("col.d").as("n_events"),
        aggregate(
          slice(col("fs"), lit(1), col("pos") + lit(1)),
          lit(1.0),
          (acc, e) => acc *
            ((e.getField("n_risk") - e.getField("d")).cast("double") /
              e.getField("n_risk").cast("double"))).as("survival"))
  }

  /** Per-transition latency profile: for each consecutive
    * (from_type → to_type) step in a user's event stream, the gap
    * distribution — count, mean, lower median, max in µs. The TIME
    * companion of [[markovTransitions]]' probabilities: the chain says
    * where users go next, this says how long they linger first.
    *
    * Exactness: gaps are exact µs integers under the (ts, id) order;
    * the lower median is rank selection (the madOutliers rule — no
    * interpolated double), the mean divides once.
    *
    * Shape: one user-keyed lag window, then one (from,to)-keyed rank
    * window + agg on the same partitioning. */
  def transitionLatency(df: DataFrame, user: Column, ts: Column,
                        id: Column, typ: Column): DataFrame = {
    val wu = Window.partitionBy(col("u")).orderBy(col("t"), col("id"))
    val pairs = df
      .filter(user.isNotNull && ts.isNotNull && typ.isNotNull)
      .select(user.as("u"), unix_micros(ts).as("t"), id.as("id"),
        typ.as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(wu))
      .withColumn("from_t", lag(col("t"), 1).over(wu))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("to_type"),
        (col("t") - col("from_t")).as("dt"), col("t"), col("id"))
    val wp = Window.partitionBy(col("from_type"), col("to_type"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        wp.orderBy(col("dt"), col("t"), col("id"))))
      .withColumn("n", count(lit(1)).over(wp))
    ranked.groupBy(col("from_type"), col("to_type"))
      .agg(max(col("n")).as("n"),
        (sum(col("dt")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_gap_us"),
        max(when(col("rn") === call_function("div", col("n") + lit(1L),
          lit(2L)), col("dt"))).as("median_gap_us"),
        max(col("dt")).as("max_gap_us"))
  }

  /** Rolling-window volume anomaly per key: for each (key, day), flag
    * the daily event count against the TRAILING `windowDays`-day
    * baseline (current day excluded — a spike must not inflate its own
    * baseline): anomaly iff |c − mean| > k·σ over ≥ 3 baseline days.
    *
    * Exactness: the flag never touches a double — (c·n − s)² >
    * k²·(q·n − s²) is the σ-test cleared of divisions, evaluated in
    * DECIMAL(38,0)/HUGEINT (daily counts at lake scale square past
    * LONG); the z-score (c·n − s)/√(q·n − s²) = (c − mean)/σ_pop is
    * ONE final double expression. Days with no baseline emit NULL
    * z / false.
    *
    * Shape: one (key, day) count agg + one RANGE window on the same
    * key partitioning — two exchanges over the DAY table, never the
    * corpus. */
  def rollingAnomaly(df: DataFrame, key: Column, ts: Column,
                     windowDays: Int = 7, k: Int = 3): DataFrame =
    rollingAnomalyFromDaily(dailyCounts(df, key, ts), windowDays, k)

  /** The (k, day, c) daily-count relation [[rollingAnomaly]] windows —
    * public so the streaming ledger twin
    * ([[graft.streaming.Streaming.mergeDailyCountLedgerIdempotent]])
    * shares the exact key/day semantics. Additive across disjoint row
    * sets — what makes the streaming merge exact. */
  def dailyCounts(df: DataFrame, key: Column, ts: Column): DataFrame =
    dayRows(df, key, ts).groupBy(col("k"), col("day")).agg(count(lit(1)).as("c"))

  /** One (k, day) row per event: [[dailyCounts]] before its count. */
  private[graft] def dayRows(df: DataFrame, key: Column, ts: Column): DataFrame =
    df.filter(key.isNotNull && ts.isNotNull)
      .select(key.as("k"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("day"))

  /** [[rollingAnomaly]] from a (k, day, c) daily table (corpus-built
    * or ledger-built — identical results either way). */
  def rollingAnomalyFromDaily(daily: DataFrame, windowDays: Int = 7,
                              k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rangeBetween(-windowDays.toLong, -1L)
    val stats = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("q", sum((col("c") * col("c")).cast("decimal(38,0)"))
        .over(w))
    // decimal-FIRST multiplication: (c·n − s) fits LONG (a window sum
    // of daily counts) but its square and s² do not at lake scale
    val lhs = (col("c") * col("n_win") - col("s")).cast("decimal(38,0)") *
      (col("c") * col("n_win") - col("s")).cast("decimal(38,0)")
    val rhs = lit(k.toLong * k.toLong) *
      (col("q") * col("n_win") - col("s").cast("decimal(38,0)") * col("s"))
    val varNum = (col("q").cast("double") * col("n_win").cast("double") -
      col("s").cast("double") * col("s").cast("double"))
    stats.select(col("k"), col("day"), col("c"), col("n_win"),
      when(col("n_win") === 0L, lit(null).cast("double"))
        .otherwise(col("s").cast("double") / col("n_win").cast("double"))
        .as("mean_win"),
      when(col("n_win") === 0L || varNum <= lit(0.0),
        lit(null).cast("double"))
        .otherwise((col("c") * col("n_win") - col("s")).cast("double") /
          sqrt(varNum)).as("z"),
      (col("n_win") >= 3L && lhs > rhs).as("anomaly"))
  }

  /** Cross-correlation between two event types' daily-count series at
    * lags 0..`maxLag` days — "do purchases follow clicks, and with
    * what delay?": corr(x_d, y_{d+lag}) over the days where both
    * series observe, the lead–lag scan that picks the lag for any
    * downstream regression.
    *
    * Exactness: both series are exact integer daily counts sharing ONE
    * (day) aggregation pass; per-lag power sums accumulate in
    * DECIMAL(38,0) (the q_corr discipline) and each correlation is
    * ONE final double expression with the zero-variance NULL guard.
    *
    * Shape: one corpus count agg; the lag explode and self-join run on
    * the DAY table (≤ maxLag+1 replicas of thousands of rows). */
  def crossCorr(df: DataFrame, typ: Column, ts: Column,
                typeA: String, typeB: String, maxLag: Int = 7): DataFrame = {
    val counts = graft.core.Caches.track(df
      .filter(ts.isNotNull && (typ === typeA || typ === typeB))
      .select(call_function("div", unix_micros(ts), lit(86400000000L))
        .as("day"), typ.as("typ"))
      .groupBy(col("day"))
      .agg(sum(when(col("typ") === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("typ") === typeB, 1L).otherwise(0L)).as("cb")))
    val probes = counts
      .withColumn("lag", explode(sequence(lit(0L), lit(maxLag.toLong))))
      .select(col("lag"), (col("day") + col("lag")).as("day2"),
        col("ca").as("x"))
    val joined = probes.join(
      counts.select(col("day").as("day2"), col("cb").as("y")), Seq("day2"))
    val a = joined.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    val nd = col("n").cast("double")
    val den = sqrt(col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / nd) *
      sqrt(col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double") / nd)
    a.select(col("lag"), col("n"),
      when(den === lit(0.0), lit(null).cast("double"))
        .otherwise((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / nd) / den)
        .as("corr"))
  }

  /** Holt double exponential smoothing (level + trend) per key — the
    * [[ewma]] companion that tracks a TRENDING series without the
    * systematic lag a level-only smoother develops: level
    * l ← α·x + (1−α)(l + b), trend b ← β(l′ − l) + (1−β)b, seeded
    * l₀ = x₀, b₀ = x₁ − x₀, folded over observations 2..n.
    *
    * Determinism: inherently sequential (the EWMA argument) — both
    * engines run the IDENTICAL left fold over the (ts, id)-ordered
    * series with dyadic-rational α = β = 1/alphaDen, so every
    * intermediate double matches bit-for-bit. Keys with fewer than 2
    * observations have no trend seed → NULL level/trend/forecast.
    *
    * Shape: the ewma/saxWord regime — one key-partitioned bounded
    * collect; at lake scale feed windowed slices. */
  def holt(df: DataFrame, key: Column, ts: Column, id: Column,
           value: Column, alphaDen: Int = 4): DataFrame = {
    val ad = alphaDen.toDouble
    val v = df.filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"), id.as("id"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    val g = v.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("t"), col("id"), col("c"))))
          .as("arr"))
    // 0-based get(): NULL (not an ANSI index error) on a 1-element
    // array — the n < 2 guard below owns that case
    val x0 = get(col("arr"), lit(0)).getField("c").cast("double")
    val x1 = get(col("arr"), lit(1)).getField("c").cast("double")
    def lvl(acc: Column, x: Column): Column =
      x / lit(ad) + (acc.getField("l") + acc.getField("b")) *
        (lit(1.0) - lit(1.0) / lit(ad))
    val folded = aggregate(
      slice(col("arr"), lit(2), greatest(size(col("arr")) - 1, lit(0))),
      struct(x0.as("l"), (x1 - x0).as("b")),
      (acc, e) => {
        val x = e.getField("c").cast("double")
        struct(lvl(acc, x).as("l"),
          ((lvl(acc, x) - acc.getField("l")) / lit(ad) +
            acc.getField("b") * (lit(1.0) - lit(1.0) / lit(ad))).as("b"))
      })
    g.select(col("k"), col("n"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise(folded.getField("l") / lit(100.0)).as("level"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise(folded.getField("b") / lit(100.0)).as("trend"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise((folded.getField("l") + folded.getField("b")) /
          lit(100.0)).as("forecast1"))
  }

  /** Day-of-week seasonal index per key: for each weekday d, the ratio
    * of the mean daily event count on d to the overall mean daily
    * count — the profile a capacity planner reads ("Sundays run at
    * 40%") and the denominator any deseasonalized anomaly rule needs.
    *
    * Exactness: the weekday is pure integer epoch math —
    * (epoch_days + 4) mod 7 with 0 = Sunday (1970-01-01 was a
    * Thursday) — NEVER an engine dayofweek() call, whose numbering
    * conventions differ (Spark 1=Sunday, DuckDB 0=Sunday) and whose
    * timezone handling can shift boundary events. The index
    * (s_d/n_d)/(S/N) is computed as the exact integer cross-product
    * ratio s_d·N / (n_d·S) in ONE final double expression.
    *
    * Shape: one (key, day) count, one ≤7-key re-agg per key, one
    * broadcast of the per-key totals — scan-bound. Days with zero
    * events carry no row in the daily table; the day COUNT n_d only
    * counts observed days, which is the honest denominator when the
    * observation window is unknown. */
  def seasonality(df: DataFrame, key: Column, ts: Column): DataFrame = {
    val daily = df.filter(key.isNotNull && ts.isNotNull)
      .select(key.as("k"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("d"))
      .groupBy(col("k"), col("d")).agg(count(lit(1)).as("c"))
    val byDow = daily
      .select(col("k"), ((col("d") + lit(4L)) % lit(7L)).as("dow"), col("c"))
      .groupBy(col("k"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
    val totals = byDow.groupBy(col("k"))
      .agg(sum(col("n_days")).as("nn"), sum(col("n_events")).as("ss"))
    byDow.join(broadcast(totals), Seq("k"))
      .select(col("k"), col("dow"), col("n_days"), col("n_events"),
        ((col("n_events") * col("nn")).cast("double") /
          (col("n_days") * col("ss")).cast("double")).as("idx"))
  }

  /** Inter-arrival gap audit per key: count, max and mean gap between
    * consecutive events, plus how many gaps exceed `slaMicros` — the
    * "did the feed stall?" monitor (a max gap over the SLA is a
    * delivery incident even when volumes look right).
    *
    * Exactness: gaps are exact µs integer differences under the
    * deterministic (ts, id) order; the mean divides once. Keys with a
    * single event have no gaps → zero row counts and NULL mean/max.
    *
    * Shape: one lag window + one agg on the same key partitioning —
    * a single shuffle. */
  def gaps(df: DataFrame, key: Column, ts: Column, id: Column,
           slaMicros: Long): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("id"))
    df.filter(key.isNotNull && ts.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"), id.as("id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .groupBy(col("k"))
      .agg(count(col("gap")).as("n_gaps"),
        max(col("gap")).as("max_gap_us"),
        sum(when(col("gap") > lit(slaMicros), 1L).otherwise(0L))
          .as("n_over_sla"),
        when(count(col("gap")) === 0L, lit(null).cast("double"))
          .otherwise(sum(col("gap")).cast("double") /
            count(col("gap")).cast("double")).as("mean_gap_us"))
  }

  /** Pettitt rank-based changepoint test per key — the nonparametric
    * companion of [[cusumChangepoint]]: CUSUM locates a LEVEL shift in
    * the raw values (and a few junk outliers can drag it); Pettitt
    * works on ranks, so it finds the split point K maximizing
    * |U_t| = |Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j)| — robust to heavy tails
    * and monotone transforms.
    *
    * Exactness: U_t folds WITHOUT the quadratic pair sum via the rank
    * identity Σ_j sgn(x_i − x_j) = rank_asc(i) − rank_desc(i) (min
    * ranks on both sides — ties contribute 0 exactly), so
    * U_t = Σ_{i≤t} (r_asc − r_desc): two value-rank windows + one
    * time-ordered cumulative sum, all exact integers (|U| ≤ n²/4 —
    * LONG-safe to ~6·10⁹ rows per key). The argmax over t = 1..n−1
    * breaks ties toward the earliest time. `stat_arg` = 6U²/(n³+n²)
    * is the dimensionless exponent of the test's significance
    * approximation p ≈ 2e^(−arg), emitted UN-exponentiated: exp is
    * libm territory (the Benford-literal rule), monotone in the
    * statistic anyway, and the caller thresholds arg > −ln(α/2).
    *
    * Shape: three key-partitioned windows + one filterable argmax
    * rank — one shuffle on the key. */
  def pettitt(df: DataFrame, key: Column, ts: Column, id: Column,
              value: Column): DataFrame = {
    val v = df.filter(ts.isNotNull && value.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("t"), id.as("id"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    val wasc = Window.partitionBy(col("k")).orderBy(col("c"))
    val wdesc = Window.partitionBy(col("k")).orderBy(col("c").desc)
    val wt = Window.partitionBy(col("k")).orderBy(col("t"), col("id"))
    val wall = Window.partitionBy(col("k"))
    val u = v
      .withColumn("s", rank().over(wasc).cast("long") -
        rank().over(wdesc).cast("long"))
      .withColumn("i", row_number().over(wt).cast("long"))
      .withColumn("u", sum(col("s")).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wall))
      .filter(col("i") < col("n")) // U_n ≡ 0: t ranges over 1..n−1
    val wmax = Window.partitionBy(col("k"))
      .orderBy(abs(col("u")).desc, col("t"), col("id"))
    u.withColumn("rk", row_number().over(wmax))
      .filter(col("rk") === 1)
      .select(col("k"), col("n"), col("t").as("cp_t"),
        col("i").as("cp_index"), abs(col("u")).as("u_stat"),
        (lit(6.0) * col("u").cast("double") * col("u").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") +
            col("n").cast("double") * col("n").cast("double")))
          .as("stat_arg"))
  }
}
