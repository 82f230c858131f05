package graft.agg

import graft.graph.SmallGraph
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Two-sample / k-sample inference tests — the "is this slice actually
  * different?" layer on top of the drift monitors in [[RobustStats]]:
  * Welch's unequal-variance t-test (mean location, the parametric
  * companion of Mann–Whitney), one-way ANOVA (does the group factor
  * explain variance at all?), and categorical mutual information
  * (how much does knowing the source tell you about the label mix —
  * the information-theoretic effect size beside Cramér's V).
  *
  * Numeric discipline (the q_corr/q_chi2 house rules): inputs
  * integerize up front, every accumulation is an exact integer sum
  * (LONG / DECIMAL(38,0) — order-independent, so 32-way partial aggs
  * hash-match a single-threaded oracle), per-group double terms are
  * quantized floor(·10⁶ or ·10⁹) to LONG before any cross-group sum,
  * and each emitted double is ONE final expression mirrored
  * token-for-token in the DuckDB twin.
  *
  * Reference lineage: the reference folds aggregates only through
  * transducers (api.clj:49-55) and declares richer aggregation as
  * roadmap (README.md:30-34); these are the hypothesis-test members of
  * that family.
  */
object Inference {

  /** (z_{0.975} + z_{0.8})² for [[powerAnalysis]] — ONE shared
    * shortest-round-trip double, embedded identically in the oracle
    * twin (its decimal rendering is the contract, not the libm calls
    * that produced the z quantiles). */
  val PowerZSum2: Double = {
    val z = 1.959963984540054 + 0.8416212335729143
    z * z
  }

  /** Welch's unequal-variance two-sample t-test over an integer metric
    * column, split by a boolean slice predicate.
    *
    * Exactness: per-slice n, Σx (LONG) and Σx² (DECIMAL(38,0)) are
    * exact integer sums; means, sample variances, the t statistic and
    * the Welch–Satterthwaite df are each ONE final double expression.
    * A slice with n ≤ 1 has no sample variance → NULL t/df; zero
    * pooled standard error (both slices constant) → NULL t/df.
    *
    * Shape: one map-side-combined 1-row aggregate — scan-bound. */
  def welchT(df: DataFrame, x: Column, inFirst: Column): DataFrame = {
    val s = df.filter(x.isNotNull).select(x.cast("long").as("x"),
      when(inFirst, lit(1L)).otherwise(lit(0L)).as("f"))
    val a = s.agg(
      sum(col("f")).as("n1"), sum(lit(1L) - col("f")).as("n2"),
      sum(col("f") * col("x")).as("s1"),
      sum((lit(1L) - col("f")) * col("x")).as("s2"),
      sum((col("f") * col("x") * col("x")).cast("decimal(38,0)")).as("q1"),
      sum(((lit(1L) - col("f")) * col("x") * col("x")).cast("decimal(38,0)"))
        .as("q2"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val m1 = col("s1").cast("double") / n1d
    val m2 = col("s2").cast("double") / n2d
    val v1 = (col("q1").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n1d) /
      (n1d - lit(1.0))
    val v2 = (col("q2").cast("double") -
      col("s2").cast("double") * col("s2").cast("double") / n2d) /
      (n2d - lit(1.0))
    val se2 = v1 / n1d + v2 / n2d
    val degenerate = col("n1") <= 1L || col("n2") <= 1L
    a.select(col("n1"), col("n2"),
      when(col("n1") === 0L, lit(null).cast("double")).otherwise(m1)
        .as("mean1"),
      when(col("n2") === 0L, lit(null).cast("double")).otherwise(m2)
        .as("mean2"),
      when(degenerate, lit(null).cast("double")).otherwise(v1).as("var1"),
      when(degenerate, lit(null).cast("double")).otherwise(v2).as("var2"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(when(se2 <= lit(0.0), lit(null).cast("double"))
          .otherwise((m1 - m2) / sqrt(se2))).as("t_stat"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(when(se2 <= lit(0.0), lit(null).cast("double"))
          .otherwise(se2 * se2 /
            ((v1 / n1d) * (v1 / n1d) / (n1d - lit(1.0)) +
             (v2 / n2d) * (v2 / n2d) / (n2d - lit(1.0))))).as("df_welch"))
  }

  /** One-way ANOVA F over a money column grouped by a categorical
    * factor: SSB/(k−1) over SSW/(N−k).
    *
    * Exactness: values quantize to LONG cents; per-group n_g, Σc and
    * Σc² accumulate as exact integers. The only cross-group sum —
    * Σ_g (Σc_g)²/n_g — quantizes per group as the EXACT integer
    * division ⌊(Σc_g)²·10⁴ / n_g⌋ in DECIMAL(38,0) (never through a
    * double: floor(double) lands in LONG and a lake-scale cents mass
    * squares past it — found by the sf1 gate), so SSB and SSW fold
    * from exact integer totals in any accumulation order, and the
    * final /10⁴ rescale returns value² units. k ≤ 1 or N ≤ k → NULL F
    * (no between/within df); SSW = 0 (all groups constant) → NULL F.
    *
    * Shape: one map-side-combined groupBy on the factor + a 1-row
    * re-agg of the ≤k group rows — scan-bound at any scale. */
  def anovaF(df: DataFrame, group: Column, value: Column): DataFrame = {
    val v = df.filter(group.isNotNull && value.isNotNull)
      .select(group.as("g"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    val g = v.groupBy(col("g")).agg(
      count(lit(1)).as("n_g"), sum(col("c")).as("s_g"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("q_g"))
    // div returns LONG: the quotient n_g·mean²·10⁴ must fit it
    // (~10¹⁰ rows/group at 10⁴-cent means; past that drop the ·10⁴
    // scale — coarser exact quantization, same determinism)
    val termq = call_function("div",
      col("s_g").cast("decimal(38,0)") * col("s_g") * lit(10000L),
      col("n_g"))
    val t = g.select(col("n_g"), col("s_g"), col("q_g"), termq.as("tq"))
      .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
        sum(col("tq").cast("decimal(38,0)")).as("tqs"))
    val nd = col("n").cast("double")
    val ssb = (col("tqs").cast("double") / lit(10000.0) -
      col("s").cast("double") * col("s").cast("double") / nd) / lit(1.0e4)
    val ssw = (col("q").cast("double") -
      col("tqs").cast("double") / lit(10000.0)) / lit(1.0e4)
    val kd = col("k").cast("double")
    val f = (ssb / (kd - lit(1.0))) / (ssw / (nd - kd))
    t.select(col("k"), col("n"), ssb.as("ss_between"), ssw.as("ss_within"),
      when(col("k") <= 1L || col("n") <= col("k"),
        lit(null).cast("double"))
        .otherwise(when(ssw <= lit(0.0), lit(null).cast("double"))
          .otherwise(f)).as("f_stat"))
  }

  /** Mutual information + normalized MI between two categorical
    * columns — the information-theoretic "how predictive is source of
    * lang" score beside [[RobustStats.chi2Independence]]'s
    * significance test. Natural-log nats.
    *
    * Exactness: cell and marginal counts are exact integers; each
    * cell's p·ln(p·n/(p_a·p_b)) term and each marginal's −p·ln(p)
    * entropy term quantize to floor(·10⁹) LONG before their window
    * sums (the PSI discipline), so MI, H_a, H_b — and NMI =
    * MI/√(H_a·H_b) — fold exactly in any order. Zero cells contribute
    * exactly 0 to MI (lim p→0 p·ln p = 0), so only observed cells get
    * rows — unlike chi², absence carries no term. A degenerate factor
    * (single value ⇒ zero entropy) → NULL nmi.
    *
    * Shape: one (a,b) groupBy; marginals, totals and entropies all
    * fold by window over the |a|·|b|-cell matrix — one job,
    * scan-bound. */
  def mutualInfo(df: DataFrame, ac: Column, bc: Column): DataFrame = {
    val s = df.filter(ac.isNotNull && bc.isNotNull)
      .select(ac.as("a"), bc.as("b"))
    val cells = s.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_obs"))
    def entq(nc: Column, n: Column): Column =
      floor(-(nc.cast("double") / n.cast("double")) *
        log(nc.cast("double") / n.cast("double")) * lit(1.0e9)).cast("long")
    // everything after the (a, b) count folds by WINDOW over the
    // |a|·|b|-cell relation: marginals per partition, totals and both
    // entropies over the whole (tiny) matrix — each distinct margin's
    // entropy term counts once via a first-row-in-partition flag. The
    // former marginal-aggregate + three-broadcast form ran five jobs
    // and needed the cells cached; this is one job, no cache
    // (measured 1.1 s → 0.4 s isolated at sf0.1; identical values)
    val miTermq = floor((col("n_obs").cast("double") /
        col("n_total").cast("double")) *
      log(col("n_obs").cast("double") * col("n_total").cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double"))) *
      lit(1.0e9)).cast("long")
    val wall = Window.partitionBy()
    val withTotals = cells
      .withColumn("n_a", sum(col("n_obs"))
        .over(Window.partitionBy(col("a"))))
      .withColumn("n_b", sum(col("n_obs"))
        .over(Window.partitionBy(col("b"))))
      .withColumn("n_total", sum(col("n_obs")).over(wall))
      .withColumn("__fa", row_number()
        .over(Window.partitionBy(col("a")).orderBy(col("b"))))
      .withColumn("__fb", row_number()
        .over(Window.partitionBy(col("b")).orderBy(col("a"))))
      .withColumn("haq", sum(when(col("__fa") === 1,
        entq(col("n_a"), col("n_total"))).otherwise(0L)).over(wall))
      .withColumn("hbq", sum(when(col("__fb") === 1,
        entq(col("n_b"), col("n_total"))).otherwise(0L)).over(wall))
      .withColumn("tq", miTermq)
    val mi = sum(col("tq")).over(Window.partitionBy()).cast("double") /
      lit(1.0e9)
    val hprod = (col("haq").cast("double") / lit(1.0e9)) *
      (col("hbq").cast("double") / lit(1.0e9))
    withTotals.select(col("a"), col("b"), col("n_obs"), col("n_a"),
      col("n_b"), col("n_total"),
      (col("tq").cast("double") / lit(1.0e9)).as("mi_term"),
      mi.as("mi"),
      when(col("haq") <= 0L || col("hbq") <= 0L, lit(null).cast("double"))
        .otherwise(mi / sqrt(hprod)).as("nmi"))
  }

  /** Classifier calibration audit (reliability diagram + ECE): scores
    * bucket into `bins` equal-width [0,1) bins (clamped at the ends),
    * and each bin reports its mean confidence vs its observed positive
    * rate; the Expected Calibration Error is the bin-mass-weighted
    * |accuracy − confidence| total — "when the quality scorer says
    * 0.8, is it right 80% of the time?", the audit run before any
    * score threshold is trusted as a probability.
    *
    * Exactness: per-row scores quantize floor(·10⁹) LONG before the
    * bin sums (mean confidence is an exact-integer ratio); per-bin
    * ECE terms quantize floor(·10⁹) before the window total (the PSI
    * discipline). Empty bins carry no mass and need no spine.
    *
    * Shape: one map-combined ≤bins-key agg + a ≤bins-row window —
    * scan-bound; the score/label expressions fuse into the scan
    * projection. */
  def calibration(df: DataFrame, score: Column, label: Column,
                  bins: Int = 10): DataFrame = {
    val bin = least(greatest(floor(score * lit(bins)).cast("long"),
      lit(0L)), lit(bins.toLong - 1L))
    val s = df.filter(score.isNotNull && label.isNotNull)
      .select(bin.as("bin"),
        floor(score * lit(1.0e9)).cast("long").as("sq"),
        when(label, 1L).otherwise(0L).as("pos"))
    val g = s.groupBy(col("bin")).agg(count(lit(1)).as("n"),
      sum(col("sq")).as("sqs"), sum(col("pos")).as("npos"))
    val t = g.agg(sum(col("n")).as("n_total"))
    val conf = col("sqs").cast("double") / lit(1.0e9) /
      col("n").cast("double")
    val acc = col("npos").cast("double") / col("n").cast("double")
    val term = abs(acc - conf) *
      (col("n").cast("double") / col("n_total").cast("double"))
    g.crossJoin(broadcast(t))
      .withColumn("tq", floor(term * lit(1.0e9)).cast("long"))
      .select(col("bin"), col("n"), conf.as("mean_score"),
        acc.as("frac_pos"),
        (col("tq").cast("double") / lit(1.0e9)).as("ece_term"),
        (sum(col("tq")).over(Window.partitionBy()).cast("double") /
          lit(1.0e9)).as("ece"))
  }

  /** Brier score of a probabilistic scorer against a binary label —
    * the PROPER scoring rule beside [[calibration]]'s ECE (ECE can be
    * gamed by a constant base-rate forecast; the Brier score cannot),
    * plus the climatological uncertainty ō(1−ō) and the Brier skill
    * score 1 − BS/UNC (> 0 ⇔ the scorer beats always-predicting the
    * base rate — the single go/no-go number for shipping a scorer).
    *
    * Exactness: scores quantize to the 10⁻⁶ grid; each row's
    * (s_q − 10⁶·y)² is an EXACT integer (≤ 10¹²), summed in
    * DECIMAL(38,0) — order-independent at any scale — and the three
    * emitted doubles are each ONE final expression over exact integer
    * totals. Returns one row: (n, base_rate, brier, uncertainty,
    * brier_skill); skill is NULL when the base rate is degenerate
    * (UNC = 0 — skill is undefined, not infinite). */
  def brier(df: DataFrame, score: Column, label: Column): DataFrame = {
    val s = df.filter(score.isNotNull && label.isNotNull)
      .select(floor(score * lit(1000000.0) + lit(0.5)).cast("long")
        .as("sq"),
        when(label, 1L).otherwise(0L).as("y"))
    val t = s.agg(count(lit(1)).as("n"), sum(col("y")).as("npos"),
      sum(((col("sq") - lit(1000000L) * col("y")) *
        (col("sq") - lit(1000000L) * col("y"))).cast("decimal(38,0)"))
        .as("se"))
    val nd = col("n").cast("double")
    val base = col("npos").cast("double") / nd
    val bs = col("se").cast("double") / lit(1.0e12) / nd
    val unc = base * (lit(1.0) - base)
    t.select(col("n"), base.as("base_rate"), bs.as("brier"),
      unc.as("uncertainty"),
      when(unc === lit(0.0), lit(null).cast("double"))
        .otherwise(lit(1.0) - bs / unc).as("brier_skill"))
  }

  /** Sample-ratio-mismatch check (the first gate of every A/B
    * readout): randomization UNITS (distinct ids) split into
    * `variants` buckets by id mod, tested against the uniform
    * expectation with a chi-square GOF — a failing SRM means the
    * assignment or logging pipeline is biased and every downstream
    * metric is untrustworthy.
    *
    * Exactness: unit counts are exact integers (one distinct + one
    * ≤variants-key agg); expected counts and chi² terms are shared
    * double expressions quantized floor(·10⁹) before the total (the
    * chi2Independence discipline, incl. its ~9×10⁹-unit LONG bound).
    * `srm` flags chi² > `chi2Crit` (caller pins the critical value
    * for variants−1 dof).
    *
    * Shape: one distinct shuffle on the unit id + a ≤variants-row
    * window — scan-bound. */
  def srm(df: DataFrame, unit: Column, variants: Int,
          chi2Crit: Double): DataFrame = {
    val counts = df.filter(unit.isNotNull)
      .select(unit.cast("long").as("u")).distinct()
      .select((col("u") % lit(variants.toLong)).as("variant"))
      .groupBy(col("variant")).agg(count(lit(1)).as("n"))
    val t = counts.agg(sum(col("n")).as("n_total"))
    val expected = col("n_total").cast("double") / lit(variants.toDouble)
    val term = (col("n").cast("double") - expected) *
      (col("n").cast("double") - expected) / expected
    counts.crossJoin(broadcast(t))
      .withColumn("tq", floor(term * lit(1.0e9)).cast("long"))
      .select(col("variant"), col("n"), col("n_total"),
        expected.as("expected"),
        (col("tq").cast("double") / lit(1.0e9)).as("chi2_term"),
        (sum(col("tq")).over(Window.partitionBy()).cast("double") /
          lit(1.0e9)).as("chi2"),
        (sum(col("tq")).over(Window.partitionBy()).cast("double") /
          lit(1.0e9) > lit(chi2Crit)).as("srm"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13): per
    * randomization unit, the experiment-period metric y adjusts by
    * the PRE-period covariate x — θ = cov(x,y)/var(x) fit on all
    * units, adjusted variant mean = ȳ_v − θ(x̄_v − x̄) — removing the
    * between-user variance x explains, the standard ~40-60% CI
    * shrink on revenue metrics.
    *
    * The period split is deterministic integer epoch-day math: days
    * strictly below mid = (min_day + max_day + 1) div 2 are the
    * pre-period. Variants come from unit id mod 2 (the [[srm]]
    * convention).
    *
    * Exactness: per-unit x/y are exact cent sums; θ's power sums
    * accumulate in DECIMAL(38,0) over the UNIT table; θ and each
    * adjusted mean are ONE final double expression. Zero covariate
    * variance (no pre-period signal) → NULL θ and adjusted means
    * (the un-adjusted means still emit).
    *
    * Shape: one corpus agg keyed by unit, one 1-row θ agg + one
    * ≤2-key variant agg of the unit table — scan-bound. */
  def cuped(df: DataFrame, unit: Column, ts: Column,
            value: Column): DataFrame = {
    val v = df.filter(unit.isNotNull && ts.isNotNull && value.isNotNull)
      .select(unit.cast("long").as("u"),
        call_function("div", unix_micros(ts), lit(86400000000L)).as("d"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    val span = v.agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
      .select(call_function("div", col("mn") + col("mx") + lit(1L),
        lit(2L)).as("mid"))
    // r16: θ's power sums fold into the VARIANT aggregate — per-variant
    // partial sums (exact integer/DECIMAL addition, order-free) window-sum
    // to the same global totals the old separate 1-row agg computed, so
    // the unit table is consumed ONCE in a linear chain (no persist, no
    // tot broadcast — was 3 jobs / 8 stages, now 2: the span broadcast is
    // the floor, the pre/post split needs the global day midpoint before
    // the unit agg can fold).
    val per = v.crossJoin(broadcast(span))
      .groupBy(col("u"))
      .agg(sum(when(col("d") < col("mid"), col("c")).otherwise(0L))
          .as("x"),
        sum(when(col("d") >= col("mid"), col("c")).otherwise(0L))
          .as("y"))
      .withColumn("variant", col("u") % 2L)
    val byV = per.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_v"), sum(col("x")).as("sxv"),
        sum(col("y")).as("syv"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxxv"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxyv"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val n = sum(col("n_v")).over(wAll)
    val sx = sum(col("sxv")).over(wAll)
    val sy = sum(col("syv")).over(wAll)
    val sxx = sum(col("sxxv")).over(wAll)
    val sxy = sum(col("sxyv")).over(wAll)
    val nd = n.cast("double")
    val varX = sxx.cast("double") -
      sx.cast("double") * sx.cast("double") / nd
    val theta = (sxy.cast("double") -
      sx.cast("double") * sy.cast("double") / nd) / varX
    val meanX = col("sxv").cast("double") / col("n_v").cast("double") /
      lit(100.0)
    val meanY = col("syv").cast("double") / col("n_v").cast("double") /
      lit(100.0)
    val thetaG = when(varX <= lit(0.0), lit(null).cast("double"))
      .otherwise(theta)
    byV
      .select(col("variant"), col("n_v").as("n"),
        meanX.as("mean_x"), meanY.as("mean_y"), thetaG.as("theta"),
        when(varX <= lit(0.0), lit(null).cast("double"))
          .otherwise(meanY - theta *
            (meanX - sx.cast("double") / nd / lit(100.0)))
          .as("mean_y_adj"))
  }

  /** Deterministic half-sampling bootstrap CI for the mean of an
    * integer metric column: `b` replicates, replicate r containing the
    * rows whose md5(id|r) is even — content-hash membership, the house
    * sampling rule ([[graft.llm.TextAnalysis]] mixture/temperature
    * samplers) that makes every replicate reproducible on any engine,
    * any partitioning, any row order, where seeded RNG is neither. The
    * half-samples are a Bag of Little Bootstraps-style subsample
    * ensemble (m≈n/2 without replacement); the CI is the
    * [loRank, hiRank] exact order statistics of the replicate means —
    * default 4/61 of 64, a percentile-bootstrap ~90% interval.
    *
    * Exactness: per-replicate sums are exact integers; each mean
    * divides once; the rank selection compares identical doubles on
    * both engines. An empty replicate contributes no mean (its row
    * drops — the rank picks run over `n_reps` actual rows).
    *
    * Shape: one b-way explode of the (id, x) projection (b·n rows of
    * two longs — the bounded blowup is the method), one ≤b-key
    * map-combined agg, one ≤b-row sort. */
  def bootstrapCI(df: DataFrame, id: Column, x: Column, b: Int = 64,
                  loRank: Int = 4, hiRank: Int = 61): DataFrame = {
    val s = df.filter(id.isNotNull && x.isNotNull)
      .select(id.cast("long").as("id"), x.cast("long").as("x"))
    val full = s.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"))
    val reps = s
      .withColumn("r", explode(sequence(lit(0L), lit(b.toLong - 1L))))
      .filter(graft.functions.GraftFunctions.md5Long(
        concat(col("id").cast("string"), lit("|"), col("r").cast("string")))
        % 2L === 0L)
      .groupBy(col("r"))
      .agg(count(lit(1)).as("nr"), sum(col("x")).as("sr"))
      .select(col("r"),
        (col("sr").cast("double") / col("nr").cast("double")).as("m"))
    val ranked = reps
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("m"), col("r"))))
    val ci = ranked.agg(count(lit(1)).as("n_reps"),
      max(when(col("rk") === loRank, col("m"))).as("ci_lo"),
      max(when(col("rk") === hiRank, col("m"))).as("ci_hi"))
    full.crossJoin(ci)
      .select(col("n"), col("n_reps"),
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(col("sx").cast("double") / col("n").cast("double"))
          .as("mean_full"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Two-feature ordinary-least-squares fit y ~ b0 + b1·x1 + b2·x2 by
    * exact normal equations — the closed-form regression a warehouse
    * runs before reaching for an ML library ("how much does each unit
    * of quantity / point of discount move the price?"). Inputs are
    * PRE-QUANTIZED integer columns (the caller fixes units — cents,
    * counts, % points — so the power sums are exact).
    *
    * Exactness: the ten power sums (n; Σx1, Σx2 as LONG; Σy, Σx1²,
    * Σx1x2, Σx2², Σx1y, Σx2y, Σy² as DECIMAL(38,0) — cross terms and
    * the y sums square past LONG at lake scale) accumulate as exact
    * integers in any partial-agg order. The 3×3 Cramer solve and R²
    * are then ONE shared-text double formula each (fixed IEEE op
    * order, mirrored token-for-token in the oracle twin) — the
    * Welch/ANOVA discipline. Singular system (det = 0), n ≤ 2, or
    * zero total variance → NULL βs / R².
    *
    * Shape: one map-side-combined 1-row aggregate — scan-bound at any
    * scale; nothing shuffles but 10 numbers per task. */
  def ols2(df: DataFrame, y: Column, x1: Column, x2: Column): DataFrame = {
    val s = df.filter(y.isNotNull && x1.isNotNull && x2.isNotNull)
      .select(y.cast("long").as("y"), x1.cast("long").as("a"),
        x2.cast("long").as("b"))
    ols2Solve(ols2Sums(s))
  }

  /** [[ols2]]'s ten power sums over (y, a, b) LONG rows, in one row:
    * (n, sa, sb, sy, saa, sab, sbb, say, sby, syy). */
  private def ols2Sums(s: DataFrame): DataFrame =
    s.agg(count(lit(1)).as("n"),
      sum(col("a")).as("sa"), sum(col("b")).as("sb"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("a") * col("a")).cast("decimal(38,0)")).as("saa"),
      sum((col("a") * col("b")).cast("decimal(38,0)")).as("sab"),
      sum((col("b") * col("b")).cast("decimal(38,0)")).as("sbb"),
      sum((col("a") * col("y")).cast("decimal(38,0)")).as("say"),
      sum((col("b") * col("y")).cast("decimal(38,0)")).as("sby"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))

  /** [[ols2]]'s Cramer solve over a frame of [[ols2Sums]] rows:
    * (n, b0, b1, b2, r2). */
  private def ols2Solve(g: DataFrame): DataFrame = {
    def d(c: String): Column = col(c).cast("double")
    val n = d("n"); val sa = d("sa"); val sb = d("sb"); val sy = d("sy")
    val saa = d("saa"); val sab = d("sab"); val sbb = d("sbb")
    val say = d("say"); val sby = d("sby"); val syy = d("syy")
    // det of [[n sa sb][sa saa sab][sb sab sbb]] and its column swaps
    // (Cramer) — each ONE fixed-order double expression
    val det = n * (saa * sbb - sab * sab) - sa * (sa * sbb - sab * sb) +
      sb * (sa * sab - saa * sb)
    val det0 = sy * (saa * sbb - sab * sab) - sa * (say * sbb - sab * sby) +
      sb * (say * sab - saa * sby)
    val det1 = n * (say * sbb - sab * sby) - sy * (sa * sbb - sab * sb) +
      sb * (sa * sby - say * sb)
    val det2 = n * (saa * sby - say * sab) - sa * (sa * sby - say * sb) +
      sy * (sa * sab - saa * sb)
    val b0 = det0 / det; val b1 = det1 / det; val b2 = det2 / det
    val sst = syy - sy * sy / n
    val sse = syy - (b0 * sy + b1 * say + b2 * sby)
    val bad = col("n") <= 2L || det === lit(0.0)
    g.select(col("n"),
      when(bad, lit(null).cast("double")).otherwise(b0).as("b0"),
      when(bad, lit(null).cast("double")).otherwise(b1).as("b1"),
      when(bad, lit(null).cast("double")).otherwise(b2).as("b2"),
      when(bad || sst <= lit(0.0), lit(null).cast("double"))
        .otherwise(lit(1.0) - sse / sst).as("r2"))
  }

  /** Split-conformal prediction interval on the [[ols2]] linear model
    * (Vovk et al.; the Lei et al. 2018 split recipe): fit on the TRAIN
    * slice, take q̂ = the ⌈(n+1)·cov⌉-th smallest absolute residual on
    * the CALIBRATION slice, and report q̂ plus the empirical coverage
    * of ŷ ± q̂ on the held-out TEST slice — the distribution-free
    * "how wide must the band be for 90% coverage" readout that turns a
    * point model into a calibrated interval.
    *
    * Exactness: the fit is [[ols2]]'s exact-power-sum Cramer solve
    * (collected driver-side — O(1) state — and re-entering the scoring
    * pass as double literals the oracle twin reproduces from the same
    * integer sums); residuals quantize floor(|y − ŷ|·10⁶) LONG before
    * ranking, so the order statistic is an integer compare; the rank
    * k = ⌈cov·(n+1)⌉ is exact integer arithmetic
    * ((covNum·(n+1) + covDen − 1) div covDen).
    *
    * Shape: one fit aggregate (scan-bound), then ONE pass computing
    * residuals for both slices — q̂ comes from the KS/PSI domain-sized
    * distinct-value window (never a corpus-wide sort) and broadcasts
    * into the coverage count. Degenerate fit (NULL βs) or an empty
    * calibration slice → NULL q̂/coverage.
    *
    * Scale knob (the kruskalWallis convention): the cumulate window is
    * unpartitioned, so its input must stay DOMAIN-sized — the residual
    * quantization scale (10⁶ here) is what bounds that domain. On a
    * lake-scale calibration slice whose residuals are near-unique at
    * 10⁻⁶, drop the scale (10³ gives a ≤ maxResid·10³-row domain, the
    * normProfile discipline) — q̂ coarsens by the same grid and the
    * determinism contract is unchanged.
    *
    * 2-pass floor (r17, closes the r16 "single-pass A/B" question): the
    * two corpus scans CANNOT merge into one algebraic aggregate — pass
    * 2 groups on floor(|y − (β₀+β₁x₁+β₂x₂)|·10⁶), a bucketing that
    * depends on the β the first pass produces, and no fixed set of
    * (y, x) moments determines the post-hoc residual histogram.
    * Fusing would require materializing the per-row projection
    * (a corpus persist — the scale-killer the r16 fold removed).
    *
    * NULL rules: a row with a NULL y, x1, x2 or inTrain is in no slice;
    * a NULL inCalib reads as a TEST row. Special rows: no usable fit
    * (fewer than 3 train rows, det = 0) gives (n_train, 0, 0, NULL,
    * NULL); no non-train rows gives (n_train, NULL, NULL, NULL, NULL).
    * LONG sums and products overflow as ANSI Spark does (an error
    * under ANSI).
    *
    * Regime: a small input (the [[graft.graph.SmallGraph]] regime test
    * against `smallInputThreshold`, default
    * [[graft.graph.SmallGraph.MaxInputBytes]]; 0 forces the cluster
    * branch) runs both passes in ONE task over the scan, lazily: one
    * job, no exchange, no construction-time job (see
    * [[smallConformal]]). The one task was timed against the cluster
    * branch past that bound: on `tools/gen_sf1.py` replicas of sf0.1's
    * lineitem, `local[4]`, one task / cluster, 2 warm runs each:
    * 0.63-0.69 / 1.6-2.1 s at 10.3 MiB, 1.1-1.2 / 2.0-2.8 s at
    * 62.3 MiB and 1.2-1.3 / 1.8-2.9 s at 80.4 MiB. Above the bound the
    * fit and the DriverFold counts probe are two EAGER jobs at
    * construction. */
  def conformalInterval(df: DataFrame, y: Column, x1: Column, x2: Column,
                        inTrain: Column, inCalib: Column,
                        covNum: Int = 9, covDen: Int = 10,
                        smallInputThreshold: Long = SmallGraph.MaxInputBytes): DataFrame = {
    val spark = df.sparkSession
    if (SmallGraph.isSmall(df, smallInputThreshold))
      return smallConformal(df
        .filter(y.isNotNull && x1.isNotNull && x2.isNotNull && inTrain.isNotNull)
        .select(y.cast("long").as("y"), x1.cast("long").as("a"),
          x2.cast("long").as("b"), inTrain.as("train"),
          coalesce(inCalib, lit(false)).as("cal")), covNum, covDen)
    val fit = ols2(df.filter(inTrain), y, x1, x2).collect().head
    val nTrain = fit.getLong(0)
    val s = df
      .filter(y.isNotNull && x1.isNotNull && x2.isNotNull && !inTrain)
      .select(y.cast("long").as("yy"), x1.cast("long").as("a"),
        x2.cast("long").as("b"),
        when(inCalib, lit(1L)).otherwise(lit(0L)).as("cal"))
    if (fit.isNullAt(1)) {
      import spark.implicits._
      return Seq((nTrain, 0L, 0L)).toDF("n_train", "n_calib", "n_test")
        .select(col("n_train"), col("n_calib"), col("n_test"),
          lit(null).cast("double").as("qhat"),
          lit(null).cast("double").as("coverage"))
    }
    val (b0, b1, b2) =
      (fit.getDouble(1), fit.getDouble(2), fit.getDouble(3))
    val resid = abs(col("yy").cast("double") -
      (lit(b0) + lit(b1) * col("a").cast("double") +
        lit(b2) * col("b").cast("double")))
    val scored = s.select(col("cal"),
      floor(resid * lit(1.0e6)).cast("long").as("rq"))
    // r16: ONE (cal, rq) aggregate replaces the calib-only cc + 1-row t
    // + cumulate-window q̂ + coverage re-scan chain (was 4 jobs / 10
    // stages over 3 corpus passes; now 2 jobs / 2 passes: the fit, then
    // this). The grouped output is DOMAIN-sized (distinct quantized
    // residuals × 2 slices — note this fold's domain bound covers BOTH
    // slices where the old cumulate window only funneled the CALIB
    // slice; the r17 guard below is what makes that widened assumption
    // safe), so n_calib, the k-th order statistic and
    // the coverage count fold into exact integer driver arithmetic on
    // the collected counts: the cumulative walk over rq-sorted distinct
    // values IS the old window, the rank compare is the same integer
    // compare, and coverage divides once at the end (shared IEEE).
    // r17 guard: above the DriverFold cap the pre-fold distributed form
    // (calib-only cumulate window + coverage re-scan) runs instead,
    // bit-identically. EAGER under the cap (fit job + counts job at
    // construction time).
    val countsDf = scored.groupBy(col("cal"), col("rq"))
      .agg(count(lit(1)).as("c"))
    graft.core.DriverFold.collectBounded(countsDf) match {
      case Some(collected) =>
        val counts = collected.toIndexedSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        spark.createDataFrame(java.util.Arrays.asList(
          conformalFold(nTrain, counts, covNum, covDen)), ConformalSchema)
      case None => // distributed tail: the pre-r16 window + re-scan form
        val cc = scored.filter(col("cal") === 1L)
          .groupBy(col("rq")).agg(count(lit(1)).as("c"))
        val t = cc.agg(sum(col("c")).as("n_calib"))
        val wq = Window.orderBy(col("rq"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // k = ceil(covNum·(n+1)/covDen) clamped to n (tiny-calib guard);
        // k·covDen = x' − x' mod covDen with x' = covNum·(n+1)+covDen−1,
        // so `cum ≥ k` stays a pure integer compare
        val xp = (col("n_calib") + lit(1L)) * lit(covNum.toLong) +
          lit(covDen.toLong - 1L)
        val kScaled = least(xp - xp % lit(covDen.toLong),
          col("n_calib") * lit(covDen.toLong))
        val qhat = cc.select(col("rq"), sum(col("c")).over(wq).as("cum"))
          .crossJoin(broadcast(t))
          .filter(col("cum") * lit(covDen.toLong) >= kScaled)
          .agg(min(col("rq")).as("qhat_q"))
          .crossJoin(broadcast(t))
        scored.crossJoin(broadcast(qhat))
          .agg(max(col("n_calib")).as("n_calib"),
            sum(lit(1L) - col("cal")).as("n_test"),
            max(col("qhat_q")).as("qhat_q"),
            sum(when(col("cal") === 0L && col("rq") <= col("qhat_q"), 1L)
              .otherwise(0L)).as("n_cov"))
          .select(lit(nTrain).as("n_train"), col("n_calib"), col("n_test"),
            (col("qhat_q").cast("double") / lit(1.0e6)).as("qhat"),
            when(col("n_test") === 0L || col("qhat_q").isNull,
              lit(null).cast("double"))
              .otherwise(col("n_cov").cast("double") /
                col("n_test").cast("double")).as("coverage"))
    }
  }

  private val ConformalSchema = StructType(Seq(
    StructField("n_train", LongType), StructField("n_calib", LongType),
    StructField("n_test", LongType), StructField("qhat", DoubleType),
    StructField("coverage", DoubleType)))

  /** [[conformalInterval]]'s tail over the (cal, rq, count) relation
    * of the non-train rows: n_calib, the k-th smallest calibration rq,
    * and the test coverage of q̂, in exact integer arithmetic. */
  private def conformalFold(nTrain: Long, counts: Seq[(Long, Long, Long)],
                            covNum: Int, covDen: Int): Row =
    if (counts.isEmpty) {
      // no non-train rows at all: the old agg-over-empty emitted NULLs
      Row(nTrain, null, null, null, null)
    } else {
      val calib = counts.filter(_._1 == 1L).sortBy(_._2)
      val nCalibOrNull: Any = if (calib.isEmpty) null
        else calib.iterator.map(_._3).sum
      val qhatQ: Option[Long] = nCalibOrNull match {
        case null => None
        case nc: Long =>
          val xp = (nc + 1L) * covNum.toLong + (covDen.toLong - 1L)
          val kScaled = math.min(xp - xp % covDen.toLong, nc * covDen.toLong)
          var cum = 0L
          calib.collectFirst {
            case (_, rq, c) if { cum += c; cum * covDen.toLong >= kScaled } =>
              rq
          }
      }
      val nTest = counts.filter(_._1 == 0L).map(_._3).sum
      val nCov = qhatQ.map(q =>
        counts.filter(t => t._1 == 0L && t._2 <= q).map(_._3).sum)
      val qhatOrNull: Any = qhatQ.map(_.toDouble / 1.0e6).orNull
      val covOrNull: Any =
        if (nTest == 0L || qhatQ.isEmpty) null
        else nCov.get.toDouble / nTest.toDouble
      Row(nTrain, nCalibOrNull, nTest, qhatOrNull, covOrNull)
    }

  /** The small-input regime of [[conformalInterval]] over (y, a, b,
    * train, cal) rows in one task. One pass accumulates [[ols2Sums]]
    * over the train rows — n, sa, sb as LONG sums, the products as
    * LONG multiplies, each overflowing as the session's ANSI mode
    * does, the DECIMAL sums exact in 128 bits — and buffers the
    * non-train rows in primitive arrays. The fit then evaluates
    * [[ols2Solve]]'s own expressions, bound to that sums row, so the
    * Cramer solve is the cluster's double op order by construction.
    * Residuals quantize as the cluster branch's projection does, count
    * by (cal, rq), and [[conformalFold]] finishes. */
  private def smallConformal(rows: DataFrame, covNum: Int, covDen: Int): DataFrame = {
    val session = rows.sparkSession
    val ansi = session.sessionState.conf.ansiEnabled
    val solve = ols2Solve(session.createDataFrame(
      java.util.Collections.emptyList[Row](), ols2Sums(rows).schema)).queryExecution.analyzed
    val fit = solve match {
      case Project(list, child) =>
        BindReferences.bindReferences[Expression](list, AttributeSeq(child.output))
    }
    rows.queryExecution.optimizedPlan match {
      // a statically empty input plans no task: the fit is n = 0
      case l: LocalRelation if l.data.isEmpty =>
        return session.createDataFrame(
          java.util.Arrays.asList(Row(0L, 0L, 0L, null, null)), ConformalSchema)
      case _ =>
    }
    rows.coalesce(1).mapPartitions { it =>
      def add(x: Long, v: Long): Long = if (ansi) Math.addExact(x, v) else x + v
      def mul(x: Long, v: Long): Long = if (ansi) Math.multiplyExact(x, v) else x * v
      var n = 0L; var sa = 0L; var sb = 0L
      val sums = Array.fill(7)(new Sum128) // sy, saa, sab, sbb, say, sby, syy
      var ys = new Array[Long](1 << 12); var as = new Array[Long](1 << 12)
      var bs = new Array[Long](1 << 12); var cal = new Array[Boolean](1 << 12)
      var m = 0
      it.foreach { r =>
        val y = r.getLong(0); val a = r.getLong(1); val b = r.getLong(2)
        if (r.getBoolean(3)) {
          n += 1; sa = add(sa, a); sb = add(sb, b)
          sums(0).add(y); sums(1).add(mul(a, a)); sums(2).add(mul(a, b))
          sums(3).add(mul(b, b)); sums(4).add(mul(a, y)); sums(5).add(mul(b, y))
          sums(6).add(mul(y, y))
        } else {
          if (m == ys.length) {
            ys = java.util.Arrays.copyOf(ys, m << 1); as = java.util.Arrays.copyOf(as, m << 1)
            bs = java.util.Arrays.copyOf(bs, m << 1); cal = java.util.Arrays.copyOf(cal, m << 1)
          }
          ys(m) = y; as(m) = a; bs(m) = b; cal(m) = r.getBoolean(4); m += 1
        }
      }
      // SUM over no rows is NULL; COUNT is 0
      val sumsRow = InternalRow.fromSeq(n +: (if (n == 0L) Seq.fill(9)(null)
        else Seq(sa, sb) ++ sums.map(_.decimal)))
      val f = fit.map(_.eval(sumsRow))
      val nTrain = f(0).asInstanceOf[Long]
      if (f(1) == null) Iterator.single(Row(nTrain, 0L, 0L, null, null))
      else {
        val (b0, b1, b2) = (f(1).asInstanceOf[Double], f(2).asInstanceOf[Double],
          f(3).asInstanceOf[Double])
        val rqs = Array.fill(2)(new graft.core.LongIndex())
        val cnt = Array.fill(2)(new Array[Long](1 << 12))
        var i = 0
        while (i < m) {
          val rq = math.floor(math.abs(ys(i).toDouble -
            (b0 + b1 * as(i).toDouble + b2 * bs(i).toDouble)) * 1.0e6).toLong
          val c = if (cal(i)) 1 else 0
          val k = rqs(c).intern(rq)
          if (k == cnt(c).length) cnt(c) = java.util.Arrays.copyOf(cnt(c), k << 1)
          cnt(c)(k) += 1
          i += 1
        }
        val counts = for (c <- 0 to 1; k <- 0 until rqs(c).size)
          yield (c.toLong, rqs(c).id(k), cnt(c)(k))
        Iterator.single(conformalFold(nTrain, counts, covNum, covDen))
      }
    }(Encoders.row(ConformalSchema))
  }

  /** An exact 128-bit two's-complement sum of LONG terms: below 2⁶³
    * terms it cannot overflow, and it stays within DECIMAL(38,0) (10³⁸
    * > 2¹²⁶), so it equals a DECIMAL(38,0) SUM of the same terms. */
  private final class Sum128 {
    private var hi = 0L
    private var lo = 0L

    def add(v: Long): Unit = {
      val s = lo + v
      hi += (v >> 63) + (if (java.lang.Long.compareUnsigned(s, lo) < 0) 1L else 0L)
      lo = s
    }

    def decimal: Decimal = Decimal(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))), 38, 0)
  }

  /** Isotonic (monotone non-decreasing) recalibration of a binary
    * classifier over `bins` equal-width score bins — the
    * pool-adjacent-violators curve by its minimax characterization
    * ĝ_i = max_{j≤i} min_{k≥i} ( Σ_{j..k} pos / Σ_{j..k} n ): the
    * monotone regression of the bin hit-rates, weighted by bin mass.
    * This is what turns [[calibration]]'s reliability diagram into a
    * usable score→probability map when the raw curve wiggles.
    *
    * Exactness: bin masses and positives are exact integers; each
    * segment mean A(j,k) is ONE integer-ratio double, and the
    * min/max selection over those doubles is engine-exact (same
    * quotients on both sides). The segment enumeration is bins² rows
    * and the minimax join bins³ — literal single-digit-thousands of
    * rows for the standard 10-20 bins, entirely broadcast-local.
    *
    * Shape: the corpus pays ONE map-combined ≤bins-key aggregate
    * (the calibration scan); everything after operates on ≤bins rows.
    * Returns (bin, n, frac_pos, iso_pos).
    *
    * EAGER: the corpus job executes at DataFrame-construction time
    * (driver-fold contract — callers cannot stack lazy transforms
    * without paying the job first; .explain triggers execution). */
  def isotonicCalibration(df: DataFrame, score: Column, label: Column,
                          bins: Int = 10): DataFrame = {
    val bin = least(greatest(floor(score * lit(bins)).cast("long"),
      lit(0L)), lit(bins.toLong - 1L))
    val g = df.filter(score.isNotNull && label.isNotNull)
      .select(bin.as("bin"), when(label, 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"),
        sum(col("pos")).as("npos"))
    // r16: everything past the ≤bins-key corpus aggregate is bins³
    // arithmetic on exact integers — fold it into the driver (was 4
    // jobs / 10 stages: prefix window + the bins² segment self-join +
    // the bins³ minimax join + the final join back; now the one corpus
    // job). Each segment mean is the same (LONG diff)/(LONG diff) IEEE
    // quotient, and the min/max selection over those doubles is
    // engine-exact, as before.
    val bins2 = g.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sortBy(_._1)
    val nBins = bins2.length
    val cn = new Array[Long](nBins); val cp = new Array[Long](nBins)
    var accN = 0L; var accP = 0L
    var idx = 0
    while (idx < nBins) {
      accN += bins2(idx)._2; accP += bins2(idx)._3
      cn(idx) = accN; cp(idx) = accP; idx += 1
    }
    def m(j: Int, k: Int): Double =
      (cp(k) - cp(j) + bins2(j)._3).toDouble /
        (cn(k) - cn(j) + bins2(j)._2).toDouble
    val rows = (0 until nBins).map { i =>
      // ĝ_i = max_{j ≤ i} min_{k ≥ i} A(j, k) — the minimax PAV form
      var best = Double.NegativeInfinity
      var j = 0
      while (j <= i) {
        var worst = Double.PositiveInfinity
        var k = i
        while (k < nBins) {
          val v = m(j, k); if (v < worst) worst = v; k += 1
        }
        if (worst > best) best = worst
        j += 1
      }
      val (bin, n, npos) = bins2(i)
      Row(bin, n, npos.toDouble / n.toDouble, best)
    }
    val schema = StructType(Seq(
      StructField("bin", LongType), StructField("n", LongType),
      StructField("frac_pos", DoubleType), StructField("iso_pos", DoubleType)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Two-arm power analysis — "how many units per arm would this
    * experiment need to detect the effect it is currently showing?":
    * n_required = ⌈2·(z_{1−α/2} + z_{power})²·s²_pooled / δ²⌉ at
    * α = 0.05, power = 0.8 (the workhorse formula every experiment
    * sizing sheet runs), with δ the observed arm-mean difference and
    * s²_pooled the two-sample pooled variance. Read beside [[srm]]
    * (is the split healthy?) and [[welchT]] (is the effect real?) —
    * this answers "is the experiment even big enough to know?".
    *
    * Exactness: the anovaF cents discipline — per-arm n, Σc (LONG),
    * Σc² (DECIMAL(38,0)) are exact integer sums; δ, s²_pooled and
    * n_required are each ONE final double expression with the two z
    * quantiles as shared shortest-round-trip literals (no erf/
    * quantile call on either engine); ⌈·⌉ is exact on IEEE doubles.
    * Degenerate inputs (an arm with n ≤ 1, zero pooled variance, or
    * δ = 0) → NULL n_required through the same CASE on both engines.
    *
    * Shape: one map-side-combined 1-row aggregate — scan-bound. */
  def powerAnalysis(df: DataFrame, unit: Column, value: Column,
                    inFirst: Column): DataFrame = {
    val v = df.filter(unit.isNotNull && value.isNotNull)
      .select(when(inFirst, 1L).otherwise(0L).as("arm"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("c"))
    val t = v.agg(
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1L, col("c"))).as("s1"),
      sum(when(col("arm") === 1L, (col("c") * col("c"))
        .cast("decimal(38,0)"))).as("q1"),
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0L, col("c"))).as("s0"),
      sum(when(col("arm") === 0L, (col("c") * col("c"))
        .cast("decimal(38,0)"))).as("q0"))
    val n1d = col("n1").cast("double"); val n0d = col("n0").cast("double")
    val delta = (col("s1").cast("double") / n1d -
      col("s0").cast("double") / n0d) / lit(100.0)
    val ssq = (col("q1").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n1d) +
      (col("q0").cast("double") -
        col("s0").cast("double") * col("s0").cast("double") / n0d)
    val varPooled = ssq / (n1d + n0d - lit(2.0)) / lit(1.0e4)
    // z_{0.975} and z_{0.8} — shared literal, no quantile call
    val zsum2 = lit(Inference.PowerZSum2)
    val nReq = ceil(lit(2.0) * zsum2 * varPooled / (delta * delta))
    t.select(col("n0"), col("n1"), delta.as("observed_delta"),
      when(col("n0") <= 1L || col("n1") <= 1L, lit(null).cast("double"))
        .otherwise(varPooled).as("var_pooled"),
      when(col("n0") <= 1L || col("n1") <= 1L || delta === lit(0.0) ||
          varPooled <= lit(0.0), lit(null).cast("long"))
        .otherwise(nReq.cast("long")).as("n_required_per_arm"),
      when(col("n0") <= 1L || col("n1") <= 1L || delta === lit(0.0) ||
          varPooled <= lit(0.0), lit(null).cast("boolean"))
        .otherwise(least(col("n0"), col("n1")).cast("double") >= nReq)
        .as("powered_now"))
  }

  /** Kruskal–Wallis rank test of one metric across k groups — the
    * distribution-free companion of [[anovaF]] (no normality or
    * equal-variance assumption), and the k-sample generalization of
    * [[graft.agg.RobustStats.mannWhitney]]'s two-slice rank drift:
    * H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1) over midranks, with the
    * standard tie correction H' = H / (1 − Σ(t³−t)/(N³−N)).
    *
    * Exactness (the mannWhitney 2×midrank discipline): ranks never
    * materialize per row — the distinct-value domain carries
    * 2·midrank(v) = 2·cum(v) − n_v + 1 as an exact LONG, each group's
    * doubled rank sum R2_g = Σ n_gv·(2·midrank) folds in
    * DECIMAL(38,0), and the per-group quotient R2_g² div (4·n_g)
    * lands in LONG via exact integer division (identical truncation
    * both engines; the quotient ≈ n_g·N² must fit a LONG — past
    * ~10⁶-row groups at 10⁹ total rows drop to a coarser rank
    * quantization, same determinism). H and H' are each ONE final
    * double expression from the integer totals; ties eat the whole
    * domain (single distinct value ⇒ correction ≤ 0) → NULL h.
    *
    * Shape: one (g, v) groupBy; the value-domain quantities (n_v, cum,
    * 2·midrank) attach via RANGE-framed windows over the SAME
    * domain-sized relation ordered by v — ties share a range frame, so
    * [unbounded, current] sums n_gv over all v' ≤ v (= cum(v)) and
    * [current, current] sums over the tie block (= n_v); no second
    * aggregate, no join back, ONE Spark job (r17 — the broadcast-join
    * form paid a second job for the domain-table build; A/B in
    * OPTIMIZATION_r17.md). The corpus is touched once. Returns one row
    * per group (g, n_g, rank_sum2) with the fold constants (n, k, h,
    * h_tie_corrected) window-attached. */
  def kruskalWallis(df: DataFrame, group: Column, value: Column): DataFrame = {
    val gv = df.filter(group.isNotNull && value.isNotNull)
      .select(group.as("g"), value.as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("n_gv"))
    val wCum = Window.orderBy(col("v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wTie = Window.orderBy(col("v"))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val gvm = gv
      .withColumn("cum", sum(col("n_gv")).over(wCum))
      .withColumn("n_v", sum(col("n_gv")).over(wTie))
      .withColumn("mid2", lit(2L) * col("cum") - col("n_v") + lit(1L))
    // the tie term folds into the SAME per-group aggregate instead of
    // a second dom aggregate + broadcast cross join (one fewer Spark
    // job — the fixed scheduling overhead dominated this sub-second
    // audit): Σ_{g,v} n_gv·(n_v²−1) = Σ_v (n_v²−1)·n_v = Σ_v n_v³−n_v,
    // exact integers throughout (n_v² fits LONG to ~3·10⁹-row domains,
    // the same bound class as the rank quotient; product accumulates
    // in DECIMAL(38,0))
    val perG = gvm
      .groupBy(col("g"))
      .agg(sum(col("n_gv")).as("n_g"),
        sum((col("n_gv") * col("mid2")).cast("decimal(38,0)"))
          .as("rank_sum2"),
        sum((col("n_gv").cast("decimal(38,0)") *
          (col("n_v") * col("n_v") - lit(1L)))).as("tie_part"))
    // Σ R_g²/n_g with R_g = rank_sum2/2 — exact integer div, LONG
    // quotient (see bound above), then a decimal cross-group sum
    val termq = call_function("div",
      col("rank_sum2") * col("rank_sum2"), lit(4L) * col("n_g"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = perG.select(col("g"), col("n_g"), col("rank_sum2"),
        sum(col("n_g")).over(wAll).as("n"),
        count(lit(1)).over(wAll).as("k"),
        sum(termq.cast("decimal(38,0)")).over(wAll).as("tsum"),
        sum(col("tie_part")).over(wAll).as("tie3"))
    val nd = col("n").cast("double")
    val h = lit(12.0) * col("tsum").cast("double") / (nd * (nd + lit(1.0))) -
      lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) - col("tie3").cast("double") /
      (nd * nd * nd - nd)
    // LONG render (the q_rank_drift rule: HUGEINT/decimal is
    // pandas-lossy driver-side; the doubled rank sum fits a LONG far
    // past bench scale)
    t.select(col("g"), col("n_g"), col("rank_sum2").cast("long").as("rank_sum2"),
      col("n"), col("k"),
      when(col("k") <= 1L || col("n") <= col("k"),
        lit(null).cast("double")).otherwise(h).as("h"),
      when(col("k") <= 1L || col("n") <= col("k") || corr <= lit(0.0),
        lit(null).cast("double")).otherwise(h / corr)
        .as("h_tie_corrected"))
  }

  /** Fleiss' κ (Fleiss, Psych. Bulletin 1971) over r ≥ 2 BINARY raters
    * evaluated per row — the multi-rater generalization of
    * [[graft.llm.Selection.agreementKappa]]'s Cohen pairing: do the
    * gates agree more than their marginal vote rates predict?
    *
    * Per row: p = positive votes (NULL rater votes 0 — both engines'
    * CASE-to-ELSE), pairwise-agreement numerator a = p(p−1) +
    * (r−p)(r−1−p). The corpus totals (N, Σp, Σa) are EXACT LONGs from
    * one map-combined 1-row aggregate; P̄ = Σa/(N·r(r−1)),
    * chance P_e = p₁² + (1−p₁)² with p₁ = Σp/(N·r), and
    * κ = (P̄−P_e)/(1−P_e) are each ONE double chain replayed
    * token-identically by the oracle. κ is NULL when N = 0 or the
    * raters are vote-unanimous (1−P_e = 0 — κ undefined).
    *
    * Shape: zero shuffles — raters evaluate inside the scan
    * projection, the aggregate is map-combined. Scan-bound at any
    * scale. */
  def fleissKappa(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "fleissKappa needs >= 2 raters")
    val r = raters.size.toLong
    val p = raters.map(c => when(c, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val a = p * (p - lit(1L)) + (lit(r) - p) * (lit(r - 1L) - p)
    val t = df.select(p.as("__p"), a.as("__a"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__p")), lit(0L)).as("s_votes"),
        coalesce(sum(col("__a")), lit(0L)).as("s_agree"))
    val nd = col("n_docs").cast("double")
    val pbar = col("s_agree").cast("double") / (nd * lit((r * (r - 1)).toDouble))
    val p1 = col("s_votes").cast("double") / (nd * lit(r.toDouble))
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    t.select(col("n_docs"), lit(r).as("n_raters"), col("s_votes"),
      col("s_agree"),
      when(col("n_docs") === 0L, lit(null).cast("double"))
        .otherwise(pbar).as("p_bar"),
      when(col("n_docs") === 0L, lit(null).cast("double"))
        .otherwise(pe).as("p_e"),
      when(col("n_docs") === 0L || lit(1.0) - pe === lit(0.0),
        lit(null).cast("double"))
        .otherwise((pbar - pe) / (lit(1.0) - pe)).as("kappa"))
  }
}
