package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-shape statistics for corpus/feed QA — the tests a data
  * platform runs to answer "does this batch look like the last one?":
  * Benford first-digit conformance (fabricated-number screen on money
  * columns), median/MAD robust outlier flags (the z-score that a few
  * junk rows cannot drag), a two-sample Kolmogorov–Smirnov drift
  * statistic (distribution-level diff between two slices), and the
  * Gini concentration coefficient (is one source dominating the token
  * mass?).
  *
  * Numeric discipline (the q_corr/q_stats house rules): every input
  * double is integerized to LONG cents up front, all accumulation and
  * comparison is exact integer arithmetic (order-independent, so a
  * 32-way partial agg hash-matches a single-threaded oracle), and each
  * emitted double is produced by ONE final expression whose operation
  * order is mirrored token-for-token in the DuckDB twin. No log/sqrt
  * runs before the last step; Benford's log10 expectations are baked
  * in as shared 17-digit literals so neither engine's libm is ever
  * consulted.
  *
  * Reference lineage: the reference exposes grouped aggregation only
  * through transducer folds (api.clj:49-55) and declares richer
  * aggregates as roadmap (README.md:30-34); these are the
  * fleet-monitoring members of that family.
  */
object RobustStats {

  /** floor(x*100 + 0.5) — exact LONG cents of a 2dp-clean double. */
  private def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))

  /** Benford's-law first-digit audit of a positive money column.
    *
    * Per leading digit d∈1..9: observed count, expected count
    * N·log10(1+1/d), and the Pearson chi² term. The digit is read off
    * the decimal rendering of the exact cents integer — no float log
    * anywhere; the nine expectation probabilities are shared literal
    * doubles (emitted identically in the oracle SQL), so `expected`
    * and `chi2_term` are bit-identical across engines. The chi² TOTAL
    * is deliberately not emitted: a 9-term double sum is
    * association-order-dependent and the per-term rows carry the same
    * information; tests fold the total on one engine.
    *
    * Every digit 1..9 gets a row even at zero observations (left join
    * against a literal digit spine, count coalesced to 0): an absent
    * digit is the STRONGEST Benford violation — its chi² term equals
    * the full expected count — and dropping the row would silently
    * under-count any total folded from the per-term rows.
    *
    * Shape: one map-side-combined groupBy on ≤9 keys plus a broadcast
    * of the 1-row total — scan-bound at any scale.
    *
    * EAGER: the corpus job executes at DataFrame-construction time
    * (driver-fold contract — callers cannot stack lazy transforms
    * without paying the job first; .explain triggers execution). */
  def benford(df: DataFrame, amount: Column): DataFrame = {
    // r16: the digit domain is NINE keys — the spine join, 1-row total
    // broadcast and per-digit doubles fold into driver arithmetic on
    // the collected digit counts (was 3 jobs; now the one corpus
    // aggregate). Counts are exact integers; expected/chi2_term run the
    // same IEEE chain per digit, from the same shared p literals.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val c = df.select(cents(amount).cast("long").as("c")).filter(col("c") > 0)
    val counts = c.select(substring(col("c").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nTotal = counts.valuesIterator.sum
    val rows = (1L to 9L).map { d =>
      val nObs = counts.getOrElse(d, 0L)
      val p = BenfordPD(d.toInt - 1)
      val expected = nTotal.toDouble * p
      val term: Any =
        if (nTotal == 0L) null
        else (nObs.toDouble - expected) * (nObs.toDouble - expected) / expected
      Row(d, nObs, nTotal, p, expected, term)
    }
    val schema = StructType(Seq(
      StructField("digit", LongType), StructField("n_obs", LongType),
      StructField("n_total", LongType), StructField("p_expected", DoubleType),
      StructField("expected", DoubleType), StructField("chi2_term", DoubleType)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** log10(1 + 1/d), d = 1..9, as shortest-round-trip double literals
    * (python `repr`) — the oracle embeds the same nine texts, so both
    * engines parse to the same 64-bit values and never call log10. */
  private val BenfordPD: Array[Double] = Array(
    0.3010299956639812, 0.17609125905568124,
    0.12493873660829992, 0.09691001300805642,
    0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129,
    0.04575749056067514)

  /** Per-group robust outlier profile: lower median, lower MAD (median
    * absolute deviation), and the count of observations beyond
    * median ± 3·MAD.
    *
    * Both medians are LOWER medians — the element at row_number
    * (n+1) div 2 under a deterministic (value, id) order — pure rank
    * selection, no interpolation, so the cut is an exact integer and
    * the outlier test `|x−med| > 3·MAD` is an integer compare.
    * (Interpolated medians would force an (a+b)/2 double whose
    * engine-specific rounding could flip boundary rows.)
    *
    * Shape (r16): ONE group-keyed exchange — both rank selections run
    * as chained windows over the SAME partitioning (rank sort on c,
    * then a whole-frame max-when picks the median and attaches it to
    * every row with NO join; the deviation rank re-sorts in place and
    * attaches the MAD the same way), and the final agg groups on the
    * window key, so partitioning is established once (guide §2.4).
    * The previous form materialized the per-group median tables and
    * broadcast-joined them back — 3 jobs (2 broadcast builds, each
    * re-running its upstream windows) for the same exact rank math.
    * For a lake-scale group count swap the rank windows for
    * `approx_percentile` — the flags stop being exact, which is
    * why the exact form is the default. */
  def madOutliers(df: DataFrame, group: Column, id: Column,
                  value: Column): DataFrame = {
    // a NULL measurement is not an observation — and Spark sorts NULLs
    // FIRST where DuckDB sorts them LAST, so an unfiltered NULL would
    // silently shift the median rank (adversarial-gate find). A NULL
    // GROUP dropped at the old equi-join (NULL ≠ NULL); the window form
    // keeps it as its own partition, so drop it explicitly (adversarial-
    // gate find: 6 rows vs the oracle's 5 without this)
    val v = df.filter(value.isNotNull && group.isNotNull)
      .select(group.as("g"), id.as("id"),
        cents(value).cast("long").as("c"))
    val wg = Window.partitionBy(col("g"))
    val medAt = call_function("div", col("n") + lit(1L), lit(2L))
    val dev = v
      .withColumn("rn", row_number().over(wg.orderBy(col("c"), col("id"))))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("med_c",
        max(when(col("rn") === medAt, col("c"))).over(wg))
      .select(col("g"), col("id"), abs(col("c") - col("med_c")).as("ad"),
        col("med_c"))
    val madAt = call_function("div", col("n2") + lit(1L), lit(2L))
    dev
      .withColumn("rn2", row_number().over(wg.orderBy(col("ad"), col("id"))))
      .withColumn("n2", count(lit(1)).over(wg))
      .withColumn("mad_c",
        max(when(col("rn2") === madAt, col("ad"))).over(wg))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        (min(col("med_c")).cast("double") / lit(100.0)).as("median_value"),
        (min(col("mad_c")).cast("double") / lit(100.0)).as("mad_value"),
        sum(when(col("ad") > lit(3) * col("mad_c"), 1L).otherwise(0L))
          .as("n_outliers"),
        (max(col("ad")).cast("double") / lit(100.0)).as("max_abs_dev"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic over an integer
    * metric column: D = max_x |F₁(x) − F₂(x)|, with the argmax x.
    *
    * Exactness: the ECDF difference at x is |c₁·n₂ − c₂·n₁| / (n₁·n₂);
    * the numerator stays a LONG through the max (cumulative counts are
    * integer window sums — associative, partition-proof), and the one
    * division happens after the argmax row is chosen. Ties on the max
    * break to the smallest x. n₁·n₂ overflows LONG past ~3×10⁹ rows a
    * side — at that scale quantize x into bounded buckets first (the
    * ECDF is then over buckets and counts shrink accordingly).
    *
    * Shape: groupBy on the value domain, then one cumulative window
    * over the DISTINCT VALUES — single-partition but domain-sized
    * (thousands of rows after the groupBy, not corpus-sized); the
    * totals row is a broadcast. */
  def ksTwoSample(df: DataFrame, x: Column, inFirst: Column): DataFrame = {
    // NULL metric rows carry no distribution mass, and the engines'
    // NULL sort orders differ — drop them on both sides
    val s = df.filter(x.isNotNull).select(x.as("x"),
      when(inFirst, lit(1L)).otherwise(lit(0L)).as("f"))
    val g = s.groupBy(col("x"))
      .agg(sum(col("f")).as("a"), sum(lit(1L) - col("f")).as("b"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    g.select(col("x"), sum(col("a")).over(w).as("c1"),
        sum(col("b")).over(w).as("c2"))
      .crossJoin(broadcast(t))
      .select(col("n1"), col("n2"), col("x").as("x_at"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("d_num"))
      .orderBy(col("d_num").desc, col("x_at").asc).limit(1)
      .select(col("n1"), col("n2"), col("x_at"),
        (col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))).as("d_stat"))
  }

  /** Population Stability Index between a reference slice and a
    * current slice of one integer metric column — the score-drift
    * monitor deployed beside [[ksTwoSample]]: KS reports the WORST
    * single point of divergence, PSI the total mass reallocation
    * across reference-decile buckets (the industry alarm thresholds:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).
    *
    * Determinism: bucket boundaries are exact order statistics of the
    * REFERENCE slice — boundary i is the smallest x whose reference
    * ECDF count satisfies ca·buckets ≥ i·n_ref (the exact rational
    * compare; no percentile double) — and a row's bucket is the count
    * of boundaries ≤ x. Laplace-smoothed shares (+1 / +buckets) make
    * every log argument positive; each bucket's
    * (p_ref − p_cur)·ln(p_ref/p_cur) term is quantized to
    * floor(·10⁹) LONG (the KL fixed-point discipline) so the total is
    * an exact integer sum in any accumulation order.
    *
    * Shape: like KS, the ECDF cumulates over DISTINCT metric values —
    * one domain-sized single-partition window (thousands of rows, not
    * corpus) — boundaries collapse to a broadcast ≤9-element array,
    * and the bucket counts are one map-combined ≤buckets-key agg. At
    * a larger domain, pre-quantize x into bounded buckets first.
    *
    * Returns one row per bucket: (bucket, n_ref_b, n_cur_b, psi_term)
    * plus the constant psi total (window-summed over the ≤buckets
    * rows). */
  def psi(df: DataFrame, x: Column, inRef: Column,
          nBuckets: Int = 10): DataFrame =
    psiFromValueCounts(psiValueCounts(df, x, inRef), nBuckets)

  /** The grouped (x, a, b) value-count relation [[psi]] folds — public
    * so the streaming ledger twin
    * ([[graft.streaming.Streaming.mergePsiLedgerIdempotent]]) shares
    * the exact slice/grouping semantics. a = reference-slice count of
    * metric value x, b = current-slice count; NULL metric rows carry
    * no distribution mass and are dropped (house rule, see
    * [[ksTwoSample]]). Additive across disjoint row sets — what makes
    * the streaming merge exact. */
  def psiValueCounts(df: DataFrame, x: Column, inRef: Column): DataFrame =
    psiValueRows(df, x, inRef).groupBy(col("x"))
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))

  /** One (x, a, b) row per non-NULL metric row, (a, b) = (1, 0) in the
    * reference slice and (0, 1) outside it: [[psiValueCounts]] before
    * its sums. */
  private[graft] def psiValueRows(df: DataFrame, x: Column,
                                  inRef: Column): DataFrame =
    df.filter(x.isNotNull).select(x.cast("long").as("x"),
        when(inRef, lit(1L)).otherwise(lit(0L)).as("a"))
      .withColumn("b", lit(1L) - col("a"))

  /** PSI from a (x, a, b) value-count table (corpus-built or
    * ledger-built — identical results either way).
    *
    * r16: the value-count input is DOMAIN-sized by this function's own
    * contract (the cumulate window below was unpartitioned over it), so
    * the decile boundaries, bucket re-counts and quantized terms fold
    * into driver arithmetic on the collected counts (labelSeparation
    * discipline; the Spark-side form paid 5 jobs / 14 stages: 1-row
    * total broadcast, boundary explode, barr broadcast, bucket re-agg
    * of g, dense spine join). Equivalence: all counts/cumulates are
    * exact integer sums (order-free); p, q and the (p−q)·ln(p/q) term
    * run the same IEEE chain (scala math.log == java.lang.Math.log ==
    * Spark's Log codegen) and quantize to LONG before the order-free
    * total. */
  def psiFromValueCounts(g0: DataFrame, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nb = nBuckets.toLong
    // r17 guard: the distinct-value domain is only quantization-bounded
    // at lake scale, so the fold gates on DriverFold — above the cap the
    // pre-fold window/spine form runs, bit-identically. EAGER under the
    // cap: the value-count job executes at construction time.
    val gDf = g0.filter(col("x").isNotNull)
      .select(col("x").cast("long"), col("a").cast("long"),
        col("b").cast("long"))
    graft.core.DriverFold.collectBounded(gDf) match {
      case Some(collected) =>
        val g = collected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val schema = StructType(Seq(
          StructField("bucket", LongType), StructField("n_ref_b", LongType),
          StructField("n_cur_b", LongType), StructField("psi_term", DoubleType),
          StructField("psi", DoubleType)))
        val rows: Seq[Row] = if (g.isEmpty) {
          // agg-over-empty semantics: zero dense counts, NULL terms/psi
          // (the old p/q arithmetic saw NULL totals)
          (0L until nb).map(bkt => Row(bkt, 0L, 0L, null, null))
        } else {
          val nRef = g.iterator.map(_._2).sum
          val nCur = g.iterator.map(_._3).sum
          // boundary i (1..nb-1): min x with ca·nb >= i·n_ref — the same
          // cumulative walk the old window + explode filter performed
          val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
          var i = 1L
          var ca = 0L
          g.foreach { case (x, a, _) =>
            ca += a
            while (i <= nb - 1L && ca * nb >= i * nRef) { bounds += x; i += 1L }
          }
          val nRefB = new Array[Long](nBuckets)
          val nCurB = new Array[Long](nBuckets)
          g.foreach { case (x, a, b) =>
            val bkt = bounds.count(_ <= x)
            nRefB(bkt) += a; nCurB(bkt) += b
          }
          val tq = (0 until nBuckets).map { bkt =>
            val p = (nRefB(bkt) + 1L).toDouble / (nRef + nb).toDouble
            val q = (nCurB(bkt) + 1L).toDouble / (nCur + nb).toDouble
            math.floor((p - q) * math.log(p / q) * 1.0e9).toLong
          }
          val psi = tq.sum.toDouble / 1.0e9
          (0 until nBuckets).map { bkt =>
            Row(bkt.toLong, nRefB(bkt), nCurB(bkt),
              tq(bkt).toDouble / 1.0e9, psi)
          }
        }
        g0.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case None => // distributed tail: the pre-r16 window/spine form
        val g = gDf
        val w = Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val t = g.agg(sum(col("a")).as("n_ref"), sum(col("b")).as("n_cur"))
        val cum = g.select(col("x"), sum(col("a")).over(w).as("ca"))
        // boundary i (1..nb-1): min x with ca·nb >= i·n_ref; the
        // spine×cum cross join is (nb-1)·|domain| rows — bounded
        val bounds = cum.crossJoin(broadcast(t))
          .select(col("x"), col("ca"), col("n_ref"),
            explode(sequence(lit(1L), lit(nb - 1L))).as("i"))
          .filter(col("ca") * lit(nb) >= col("i") * col("n_ref"))
          .groupBy(col("i")).agg(min(col("x")).as("bound"))
        val barr = bounds
          .agg(transform(array_sort(collect_list(struct(col("i"), col("bound")))),
            e => e.getField("bound")).as("barr"))
        val counts = g.crossJoin(broadcast(barr))
          .select(size(filter(col("barr"), v => v <= col("x"))).cast("long")
            .as("bucket"), col("a"), col("b"))
          .groupBy(col("bucket"))
          .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
        val spine = g0.sparkSession.range(0, nBuckets).toDF("bucket")
        val dense = spine.join(counts, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("na"), lit(0L)).as("n_ref_b"),
            coalesce(col("nb"), lit(0L)).as("n_cur_b"))
          .crossJoin(broadcast(t))
        val p = (col("n_ref_b") + lit(1L)).cast("double") /
          (col("n_ref") + lit(nb)).cast("double")
        val q = (col("n_cur_b") + lit(1L)).cast("double") /
          (col("n_cur") + lit(nb)).cast("double")
        dense
          .select(col("bucket"), col("n_ref_b"), col("n_cur_b"),
            floor((p - q) * log(p / q) * lit(1.0e9)).cast("long").as("tq"))
          .select(col("bucket"), col("n_ref_b"), col("n_cur_b"),
            (col("tq").cast("double") / lit(1.0e9)).as("psi_term"),
            (sum(col("tq")).over(Window.partitionBy()).cast("double") /
              lit(1.0e9)).as("psi"))
    }
  }

  /** Mann–Whitney U rank-sum test between two slices of one metric
    * column — the rank-based companion of [[ksTwoSample]]: KS reports
    * the worst single ECDF gap, U asks the location question ("does
    * one slice stochastically dominate?") and is the standard
    * nonparametric drift test when the metric is heavy-tailed enough
    * that mean-based tests mislead.
    *
    * Exactness: ranks never materialize per row. Grouping by distinct
    * value gives tie-block sizes t; a block's 2×midrank is the exact
    * integer 2·cum_before + t + 1, so twice the rank sum
    * 2R₁ = Σ a·(2·cum_before + t + 1) is an exact integer
    * (DECIMAL(38,0) — a·m2 ~ n² overflows LONG at lake scale), as is
    * the tie correction ΣT = Σ(t³ − t). U₁, the mean n₁n₂/2, the
    * tie-corrected variance and the z-score are ONE final double
    * expression mirrored token-for-token in the oracle. All-tied input
    * makes the variance 0 → NULL z (ANSI guard); an empty slice →
    * NULL z.
    *
    * Shape: one domain-sized groupBy + the KS single-partition window
    * over DISTINCT values (thousands of rows, not corpus) + a 1-row
    * agg — scan-bound. NULL metric rows carry no rank; dropped on
    * both sides. */
  def mannWhitney(df: DataFrame, x: Column, inFirst: Column): DataFrame = {
    val s = df.filter(x.isNotNull).select(x.as("x"),
      when(inFirst, lit(1L)).otherwise(lit(0L)).as("f"))
    val g = s.groupBy(col("x"))
      .agg(sum(col("f")).as("a"), sum(lit(1L) - col("f")).as("b"))
      .withColumn("t", col("a") + col("b"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = g
      .withColumn("cum", sum(col("t")).over(w))
      .select(col("a"), col("b"), col("t"),
        (lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L)).as("m2"))
      .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
        sum((col("a").cast("decimal(38,0)") * col("m2")).cast("decimal(38,0)"))
          .as("r1x2"),
        sum((col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
          .cast("decimal(38,0)")).as("tie_t"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val u1 = (col("r1x2").cast("double") - n1d * (n1d + lit(1.0))) / lit(2.0)
    val varU = n1d * n2d / lit(12.0) *
      ((nd + lit(1.0)) - col("tie_t").cast("double") / (nd * (nd - lit(1.0))))
    folded.select(col("n1"), col("n2"),
      col("r1x2").cast("long").as("r1_times2"),
      when(col("n1") === 0L || col("n2") === 0L, lit(null).cast("double"))
        .otherwise(u1).as("u1"),
      when(col("n1") === 0L || col("n2") === 0L, lit(null).cast("double"))
        .otherwise(when(varU <= lit(0.0), lit(null).cast("double"))
          .otherwise((u1 - n1d * n2d / lit(2.0)) / sqrt(varU))).as("z"))
  }

  /** Pearson chi-square independence test + Cramér's V over a
    * two-column contingency (e.g. source × lang) — "is the label mix
    * independent of the source?", the categorical companion of the
    * numeric drift tests. V is the [0,1] effect size that stays
    * comparable across table shapes.
    *
    * Exactness: cell/marginal counts are exact integers; the full
    * r×c spine (distinct rows × distinct cols, zero cells coalesced —
    * the Benford spine rule: an EMPTY cell is evidence, its term is
    * the whole expected count) means no mass is silently dropped.
    * Each cell's expected count and chi² term are one shared double
    * expression; terms are quantized to floor(·10⁹) LONG (the PSI
    * fixed-point discipline) so the chi² TOTAL — and V derived from
    * it — is an exact integer sum in any accumulation order.
    * Degenerate tables (one row or one col → dof 0) emit NULL V.
    * A chi² term is bounded by n_total, so the ·10⁹ LONG quantization
    * holds to ~9×10⁹ rows (the anovaF lesson) — past that, drop the
    * scale or widen the term to DECIMAL(38,0) on both engines.
    *
    * Shape: ONE corpus job — the (r,c) cell aggregate (map-combined,
    * domain-sized output). Everything past it operates on ≤ r·c cells,
    * so the marginals, the zero-coalesced spine and the quantized
    * terms fold into driver arithmetic on the collected cells (the
    * labelSeparation discipline; the previous Spark-side form paid 5
    * jobs / 17 stages: cell persist + 2 marginal re-aggs + 2 broadcast
    * builds + the spine join/window). Equivalence: driver LONG sums
    * equal shuffled LONG sums by commutativity of exact integer
    * addition; expected/term run the identical IEEE double chain both
    * engines execute per cell; the chi² total sums pre-quantized LONGs
    * (order-free). The collect is DOMAIN-sized (distinct r × distinct
    * c), never corpus-sized — the same bound the old broadcast spine
    * already assumed, and the fold's collect is exactly the query's own
    * OUTPUT relation (the dense r×c grid) — a table too large to
    * collect is too large to emit.
    *
    * EAGER: the corpus job executes at DataFrame-construction time
    * (driver-fold contract — callers cannot stack lazy transforms
    * without paying the job first; .explain triggers execution). */
  def chi2Independence(df: DataFrame, rowc: Column, colc: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val s = df.filter(rowc.isNotNull && colc.isNotNull)
      .select(rowc.as("r"), colc.as("c"))
    val cellsDf = s.groupBy(col("r"), col("c")).agg(count(lit(1)).as("n_obs"))
    val cells = cellsDf.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val nR = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
    val nC = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
    cells.foreach { case (r, c, n) =>
      nR(r) = nR.getOrElse(r, 0L) + n
      nC(c) = nC.getOrElse(c, 0L) + n
    }
    val nTotal = nR.valuesIterator.sum
    val dof = math.min(nR.size - 1, nC.size - 1).toLong
    val obs = cells.map { case (r, c, n) => (r, c) -> n }.toMap
    val spine = for { r <- nR.keys.toSeq; c <- nC.keys.toSeq } yield {
      val nObs = obs.getOrElse((r, c), 0L)
      // identical IEEE chain as the oracle: n_r·n_c/n_total, then
      // ((n_obs−e)·(n_obs−e)/e)·1e9 floored to LONG
      val expected = nR(r).toDouble * nC(c).toDouble / nTotal.toDouble
      val d = nObs.toDouble - expected
      val tq = math.floor(d * d / expected * 1.0e9).toLong
      (r, c, nObs, nR(r), nC(c), expected, tq)
    }
    val chi2 = spine.iterator.map(_._7).sum.toDouble / 1.0e9
    val vOrNull: Any =
      if (dof == 0L) null
      else math.sqrt(chi2 / (nTotal.toDouble * dof.toDouble))
    val schema = StructType(Seq(
      StructField("r", cellsDf.schema("r").dataType),
      StructField("c", cellsDf.schema("c").dataType),
      StructField("n_obs", LongType), StructField("n_r", LongType),
      StructField("n_c", LongType), StructField("n_total", LongType),
      StructField("expected", DoubleType),
      StructField("chi2_term", DoubleType),
      StructField("chi2", DoubleType),
      StructField("cramers_v", DoubleType)))
    val out = spine.map { case (r, c, nObs, nr, nc, expected, tq) =>
      Row(r, c, nObs, nr, nc, nTotal, expected, tq.toDouble / 1.0e9,
        chi2, vOrNull)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
  }

  /** Per-group trimmed and winsorized means — the location estimates a
    * fleet dashboard should plot instead of the raw mean, which one
    * junk row can drag arbitrarily: the trimmed mean DROPS the lowest
    * and highest ⌊α·n⌋ observations, the winsorized mean CLAMPS them
    * to the surviving boundary values (keeps n constant, bounds
    * influence). The aggregate-level counterpart of [[madOutliers]]'s
    * per-row flags.
    *
    * Exactness: values quantize to cents; the trim boundary is the
    * exact integer ⌊n·alphaNum/alphaDen⌋ (no double α anywhere);
    * kept-range membership is an integer rank compare; clamping is
    * least/greatest against the kept range's exact min/max order
    * statistics; both sums accumulate as integers (DECIMAL(38,0) —
    * sums of n·10⁴-cent values overflow LONG at lake scale) and each
    * mean divides ONCE at the end. α ≥ ½ degenerates to an empty kept
    * range → NULL means (ANSI guard, both engines).
    *
    * Shape: one rank window + one agg on the same group partitioning
    * (the gini shape) — a single shuffle. */
  def robustMean(df: DataFrame, group: Column, id: Column, value: Column,
                 alphaNum: Int = 1, alphaDen: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("c"), col("id"))
    val wg = Window.partitionBy(col("g"))
    val ranked = df.filter(value.isNotNull)
      .select(group.as("g"), id.as("id"), cents(value).cast("long").as("c"))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("cut", call_function("div",
        col("n") * lit(alphaNum.toLong), lit(alphaDen.toLong)))
      .withColumn("kept", col("r") > col("cut") &&
        col("r") <= col("n") - col("cut"))
    val bounds = ranked
      .withColumn("lo", min(when(col("kept"), col("c"))).over(wg))
      .withColumn("hi", max(when(col("kept"), col("c"))).over(wg))
    bounds.groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("cut")).as("n_cut"),
        sum(when(col("kept"), col("c")).cast("decimal(38,0)")).as("ts"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("tn"),
        sum(least(greatest(col("c"), col("lo")), col("hi"))
          .cast("decimal(38,0)")).as("ws"))
      .select(col("g"), col("n"), col("n_cut"),
        when(col("tn") === 0L, lit(null).cast("double"))
          .otherwise(col("ts").cast("double") / col("tn").cast("double") /
            lit(100.0)).as("trimmed_mean"),
        when(col("tn") === 0L, lit(null).cast("double"))
          .otherwise(col("ws").cast("double") / col("n").cast("double") /
            lit(100.0)).as("winsorized_mean"))
  }

  /** Lorenz curve of an integer mass column at `points` equal
    * population quantiles: point p answers "what fraction of the total
    * mass do the bottom p/points of rows hold?" — the curve whose area
    * deficit [[gini]] summarizes into one number, drawn when the
    * SHAPE of the inequality matters (where does the mass cliff sit?).
    *
    * Exactness: the population cut k = (p·n) div points is an exact
    * integer; the cut's mass interpolates WITHIN the tied value group
    * as cummass − (cumcnt − k)·v — still exact integer arithmetic
    * (every row in a tied group carries the same v); one division per
    * point. DECIMAL(38,0)/HUGEINT mass sums.
    *
    * Shape: the KS regime — the corpus collapses to one row per
    * DISTINCT value (map-combined agg), the cumulative window runs on
    * that domain-sized relation, and the ≤points spine rides a
    * broadcast. */
  def lorenz(df: DataFrame, x: Column, points: Int = 10): DataFrame = {
    // r16: the distinct-value relation is domain-sized (the KS regime —
    // the old cumulate window was unpartitioned over it), so the
    // cumulative walk, the ≤points spine and the within-tie
    // interpolation fold into driver arithmetic on the collected value
    // counts (was 3 jobs: 1-row total broadcast + spine broadcast +
    // the windowed filter join; now the one corpus aggregate).
    // Integer cuts/masses are exact (BigInt mirrors DECIMAL(38,0));
    // each emitted double converts and divides exactly as before.
    // r17 guard: the distinct-value domain is only quantization-bounded
    // at lake scale — fold gates on DriverFold; above the cap the
    // pre-fold window/spine form runs, bit-identically.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gDf = df.filter(x.isNotNull)
      .select(x.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    graft.core.DriverFold.collectBounded(gDf) match {
      case Some(collected) =>
        val g = collected.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val schema = StructType(Seq(
          StructField("p", LongType), StructField("k", LongType),
          StructField("v_at", LongType), StructField("frac_pop", DoubleType),
          StructField("frac_mass", DoubleType)))
        val rows: Seq[Row] = if (g.isEmpty) Seq.empty
        else {
          val n = g.iterator.map(_._2).sum
          val total = g.iterator.map { case (v, c) => BigInt(v) * c }.sum
          val cumcnt = new Array[Long](g.length)
          val cummass = new Array[BigInt](g.length)
          var accC = 0L; var accM = BigInt(0)
          var idx = 0
          while (idx < g.length) {
            accC += g(idx)._2; accM += BigInt(g(idx)._1) * g(idx)._2
            cumcnt(idx) = accC; cummass(idx) = accM; idx += 1
          }
          (1L to points.toLong).flatMap { p =>
            val k = p * n / points.toLong // both non-negative: div == /
            val at = cumcnt.indexWhere(_ >= k)
            if (at < 0) Seq.empty
            else {
              val v = g(at)._1
              val mass = cummass(at) - BigInt(cumcnt(at) - k) * v
              val fracMass: Any =
                if (total == 0) null
                else new java.math.BigDecimal(mass.bigInteger).doubleValue /
                  new java.math.BigDecimal(total.bigInteger).doubleValue
              Seq(Row(p, k, v, k.toDouble / n.toDouble, fracMass))
            }
          }
        }
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case None => // distributed tail: the pre-r16 window/spine form
        val g = gDf
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        // multiply in DECIMAL(38,0), never LONG: v·cnt and (cumcnt−k)·v
        // overflow a long for large values (the fold arm's BigInt)
        val vMass = col("v").cast("decimal(38,0)") * col("cnt")
        val cum = g
          .withColumn("cumcnt", sum(col("cnt")).over(w))
          .withColumn("cummass", sum(vMass).over(w))
        val t = g.agg(sum(col("cnt")).as("n"), sum(vMass).as("total"))
        val spine = df.sparkSession.range(1, points + 1).toDF("p")
          .crossJoin(broadcast(t))
          .withColumn("k", call_function("div", col("p") * col("n"),
            lit(points.toLong)))
        val mass = col("cummass") -
          (col("cumcnt") - col("k")).cast("decimal(38,0)") * col("v")
        cum.crossJoin(broadcast(spine))
          .filter(col("cumcnt") >= col("k"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("p")).orderBy(col("v"))))
          .filter(col("rn") === 1)
          .select(col("p"), col("k"), col("v").as("v_at"),
            (col("k").cast("double") / col("n").cast("double"))
              .as("frac_pop"),
            when(col("total") === 0, lit(null).cast("double"))
              .otherwise(mass.cast("double") / col("total").cast("double"))
              .as("frac_mass"))
    }
  }

  /** Per-group Gini concentration of a non-negative integer mass
    * column: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over the ascending sort.
    *
    * Σᵢ i·xᵢ is invariant under tie permutations (equal x contribute
    * equally at any rank), so the (x, id) rank order is deterministic
    * AND the value is tie-robust. The rank·mass products are cast to
    * DECIMAL(38,0) before summation (the autocorrLag1 power-sum
    * discipline): with i up to group size and x a char mass, a LONG
    * accumulator overflows silently at lake scale while the DuckDB
    * twin keeps exact HUGEINT — the decimal sum keeps both engines
    * exact and identical. The two-term double expression runs once per
    * group. Zero total mass → NULL (undefined concentration; ANSI
    * division guard on both engines).
    *
    * Shape: one rank window + one agg on the same partition key. */
  def gini(df: DataFrame, group: Column, id: Column, x: Column): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("x"), col("id"))
    // NULL mass rows would count in n but not in Σx — drop them
    df.filter(x.isNotNull)
      .select(group.as("g"), id.as("id"), x.cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum((col("i") * col("x")).cast("decimal(38,0)")).as("sw"))
      .select(col("g"), col("n"), col("total").as("total_chars"),
        when(col("total") === 0L, lit(null).cast("double"))
          .otherwise(lit(2.0) * col("sw").cast("double") /
            (col("n").cast("double") * col("total").cast("double")) -
            (col("n").cast("double") + lit(1.0)) / col("n").cast("double"))
          .as("gini"))
  }

  /** Two-sample 1-D Wasserstein-1 (earth mover's) distance between the
    * `inFirst` slice and its complement of one pre-quantized integer
    * metric column — the drift measure that weighs HOW FAR mass moved
    * where [[ksTwoSample]] reports the worst single point and PSI the
    * reallocated fraction: W₁ = ∫|F₁ − F₂| dx over the merged support.
    *
    * Exactness: per distinct value, slice counts are exact integers;
    * each support interval's term |c₁·n₂ − c₂·n₁|·Δx accumulates in
    * DECIMAL(38,0) (c·n ≤ N² ~ 10²⁴ at 10¹² rows, ×Δx ≤ 10³¹ —
    * never through a double; DuckDB folds the same terms in HUGEINT),
    * and W₁ = Σterm / (n₁·n₂) is ONE final double expression. An
    * empty slice → NULL (no distribution to compare).
    *
    * Shape: the corpus pays one map-combined groupBy on the metric
    * value; the CDF window then runs over DISTINCT values only (the
    * KS/PSI domain-sized single-partition discipline — bounded by the
    * quantized support, not the corpus). The grouped relation is the
    * SAME (x, a, b) value-count ledger [[psi]] folds, so a streaming
    * deployment gets W₁ from the PSI ledger it already keeps
    * ([[graft.streaming.Streaming.mergePsiLedgerIdempotent]]) with no
    * extra state — StreamingSpec pins stream ≡ batch. */
  def wasserstein1(df: DataFrame, x: Column, inFirst: Column): DataFrame =
    wasserstein1FromValueCounts(psiValueCounts(df, x, inFirst))

  /** [[wasserstein1]] from a (x, a, b) value-count table
    * (corpus-built or ledger-built — identical results either way;
    * NULL-x ledger sentinels are dropped). */
  def wasserstein1FromValueCounts(g0: DataFrame): DataFrame = {
    val g = g0.filter(col("x").isNotNull)
    val wc = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    g.select(col("x"), sum(col("a")).over(wc).as("c1"),
        sum(col("b")).over(wc).as("c2"),
        (lead(col("x"), 1).over(Window.orderBy(col("x"))) - col("x"))
          .as("dx"))
      .filter(col("dx").isNotNull) // last value: both CDFs at 1, no mass beyond
      .crossJoin(broadcast(t))
      .select(col("n1"), col("n2"),
        (abs(col("c1").cast("decimal(38,0)") * col("n2") -
          col("c2").cast("decimal(38,0)") * col("n1")) *
          col("dx")).as("term"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("term")).as("tsum"))
      .select(col("n1"), col("n2"),
        when(col("n1") === 0L || col("n2") === 0L,
          lit(null).cast("double"))
          .otherwise(col("tsum").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))
          .as("w1"))
  }
}
