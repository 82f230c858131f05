package graft.llm

import graft.functions.GraftFunctions.{md5Long, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based data selection — the two standard "which docs make the
  * training cut" scorers a curation stack runs after rule filters:
  *
  *  - [[qualityClassifier]]: a fastText-style hashed linear classifier
  *    (GPT-3 §2.2 / CCNet run exactly this shape: hash tokens into
  *    buckets, dot with a weight vector, threshold). Weights here are a
  *    deterministic function of the bucket id so the operator and its
  *    DuckDB oracle share them without a model artifact; a real
  *    deployment swaps in trained weights as a broadcast lookup — the
  *    plan shape (zero-shuffle codegen projection) is identical.
  *
  *  - [[dsirScore]]: Data Selection via Importance Resampling (Xie et
  *    al. 2023, arXiv:2302.03169): hashed-unigram importance weights
  *    log p_target(b)/p_raw(b), Laplace-smoothed, summed per doc. The
  *    target distribution trains on an in-corpus slice (the paper uses
  *    Wikipedia; the query uses the `lang='en'` slice) and every raw
  *    doc is scored against it.
  *
  * The reference engine has no model surface (its pipeline vocabulary
  * is transducers over keyed records — reference:
  * src/kafka_streams_clojure/api.clj:157-159), so this family is
  * driver-mandated extension surface.
  *
  * 100 TB posture: the classifier is a pure projection (runs at scan
  * speed, fuses into whatever pipeline precedes it). DSIR is one
  * token-explode feeding a 256-key count aggregate (map-side combine
  * collapses it to 256 rows per task), a 256-row broadcast weight
  * table, and one (doc_id) hash shuffle for the per-doc sum — the
  * exploded token stream is deliberately NOT persisted between its two
  * consumers (it is larger than the columnar scan it derives from; the
  * measured bigramLmScore trade, Retrieval.scala:178).
  *
  * All floating-point leaves quantize through floor(x * [[Scale]]) into
  * exact longs before any aggregation (the lm-score discipline,
  * Retrieval.scala:150), so the DuckDB twins hash-match bit-for-bit.
  */
object Selection {

  /** Fixed-point quantization scale — shared with the retrieval family. */
  val Scale: Double = Retrieval.Bm25Scale

  /** Hash-bucket counts for the classifier weight vector. */
  val ClfBuckets = 64

  /** Hash-bucket count for the DSIR feature space (the paper's hashed
    * n-gram dimensionality, sized down so sf0.01 occupies every bucket). */
  val DsirBuckets = 256

  /** Deterministic per-bucket classifier weight in integer milliunits,
    * range [-1000, 1000]: a Weyl-style mix of the bucket id (the
    * minhashCoeffs constant family). Stands in for trained weights;
    * identical arithmetic embeds in the SQL oracle. */
  private[graft] def clfWeightQ(bucket: Column): Column =
    (bucket * lit(2654435761L)) % 2001L - 1000L

  /** One-pass native (n_toks, margin_q) — see [[graft.functions.ClfStats]];
    * value-identical to `(size(tokens(text)), clfMarginQ(tokens(text)))`
    * but a single codegen'd scan call instead of an interpreted
    * per-token HOF (FunctionsSpec pins the equivalence). */
  private def clfStats(text: Column): Column =
    graft.functions.ClfStats(text)

  /** Quantized classifier margin straight off the text — LONG
    * milliunits, NULL for NULL text; the [[qualityClassifier]]
    * accumulator as a composable Column so other operators (e.g.
    * [[domainReweight]]'s proxy loss) evaluate it inside their own
    * scan projection, no per-doc join. */
  def clfMargin(text: Column): Column =
    clfStats(text).getField("margin_q")

  /** Exact integer classifier margin over a token array — the
    * [[qualityClassifier]] accumulator as a composable Column, so other
    * operators (e.g. [[agreementKappa]]'s query) can evaluate the gate
    * in THEIR scan projection without a per-doc join. */
  private[graft] def clfMarginQ(tk: Column): Column =
    aggregate(tk, lit(0L), (acc, t) => acc + clfWeightQ(md5Long(t) % ClfBuckets))

  /** The classifier keep gate as one composable Column: n_toks > 0 and
    * positive margin — identical to [[qualityClassifier]]'s `keep`. */
  def clfKeep(text: Column): Column = {
    val st = clfStats(text)
    st.getField("n_toks") > 0L && st.getField("margin_q") > 0L
  }

  /** The classifier score as one composable Column — identical to
    * [[qualityClassifier]]'s `q_score` (margin per kilotoken), so
    * calibration/eval operators can score in THEIR scan projection. */
  def clfScore(text: Column): Column = {
    val st = clfStats(text)
    when(st.getField("n_toks") === 0L, lit(0.0))
      .otherwise(st.getField("margin_q").cast("double") /
        (st.getField("n_toks").cast("double") * 1000.0))
  }

  /** Hashed-linear quality score per doc: tokens hash into
    * [[ClfBuckets]] buckets, per-bucket weights accumulate in exact
    * integer milliunits, and the margin normalizes by token count.
    * `keep` thresholds at margin > 0.
    *
    * Zero shuffles: the whole scorer is one codegen'd projection (the
    * native one-pass [[graft.functions.ClfStats]] — no explode, no
    * UDF, no interpreted HOF), so it composes into any scan at scan
    * speed.
    *
    * Returns (doc_id, n_toks, q_margin, q_score, keep). */
  def qualityClassifier(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val st = clfStats(text)
    docs.select(id.as("doc_id"), st.getField("n_toks").as("n_toks"),
        st.getField("margin_q").as("q_margin"))
      .withColumn("q_score",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(col("q_margin").cast("double") /
            (col("n_toks").cast("double") * 1000.0)))
      .withColumn("keep", col("n_toks") > 0 && col("q_margin") > 0)
  }

  /** Token-budget mixture cut — the step that turns per-doc quality
    * scores into an actual training mix: within each group (source,
    * language, shard), admit docs in quality order until the group's
    * cumulative token estimate exceeds `budget`. This is how training
    * sets are assembled under a token target ("x B tokens of web, y B
    * of books"), the budgeted counterpart of the rate-based
    * mixtureSample.
    *
    * One hash shuffle on the group key, then a running sum over
    * (quality DESC, id) — the per-group prefix is the operator's
    * SEMANTIC requirement, the packSequences per-shard discipline: a
    * group's cut point depends on its full quality order, so groups are
    * the parallelism unit (salting would change the answer). ROWS
    * frame + unique-id tie-break keep the window total-ordered, so the
    * running sum is deterministic on both engines.
    *
    * Returns (grp, doc_id, n_tokens, quality, cum_tokens, kept). */
  def tokenBudgetCut(docs: DataFrame, group: Column, id: Column,
                     nTokens: Column, quality: Column,
                     budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(group.as("grp"), id.as("doc_id"),
        nTokens.cast("long").as("n_tokens"), quality.as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= budget)
  }

  /** Deterministic weighted sampling without replacement — priority
    * sampling (Duffield, Lund & Thorup, JACM 2007): each row draws a
    * uniform u and gets priority q = u/w; the k SMALLEST priorities
    * form a weight-proportional sample with the scheme's
    * variance-optimal subset-sum guarantees. The uniform is the
    * content-hash md5Long(id) (the engine's reshard-stable RNG
    * replacement), so the sample is a pure function of (ids, weights,
    * salt): identical across runs, partitionings and engines.
    *
    * All math is integer: priority = u div w (60-bit u over a positive
    * long weight keeps ~2^40 resolution at w ≈ 10^6 — collision ties
    * break on doc_id, identically on both engines; no doubles, no libm
    * anywhere). The k-smallest is a TakeOrderedAndProject heap — one
    * scan, no global sort, no shuffle of the corpus. Rows with w ≤ 0
    * or null are excluded (they carry no sampling mass).
    *
    * Weighted cousins each cover a different contract:
    * [[graft.llm.TextAnalysis.temperatureSample]] reweights GROUP
    * rates, this samples ROWS by per-row weight with exact budget k.
    * Returns (doc_id, weight, priority) — the k sampled rows. */
  def prioritySample(docs: DataFrame, id: Column, weight: Column, k: Int,
                     salt: Int = 0): DataFrame =
    docs.select(id.as("doc_id"), weight.cast("long").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("u", md5Long(col("doc_id").cast("string"), salt) + lit(1L))
      .withColumn("priority", expr("u div weight"))
      .select(col("doc_id"), col("weight"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  /** Per-group [[prioritySample]]: k weight-proportional rows from EACH
    * group — the stratified twin, e.g. "100 docs per language, biased
    * by length" for balanced eval slices. Same integer priorities; the
    * k-smallest-per-group is a row_number window partitioned by the
    * group key, so each group is one shuffle partition's work and no
    * global ordering exists anywhere (the [[stratifiedSample]]
    * discipline — groups are the parallelism unit).
    * Returns (grp, doc_id, weight, priority). */
  def prioritySamplePerGroup(docs: DataFrame, group: Column, id: Column,
                             weight: Column, k: Int,
                             salt: Int = 0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("priority"), col("doc_id"))
    priorities(docs, group, id, weight, salt)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Every positive-weight row's (grp, doc_id, weight, priority):
    * [[prioritySamplePerGroup]] before its per-group k-cut. */
  private[graft] def priorities(docs: DataFrame, group: Column, id: Column,
                                weight: Column, salt: Int): DataFrame =
    docs.select(group.as("grp"), id.as("doc_id"),
        weight.cast("long").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("u", md5Long(col("doc_id").cast("string"), salt) + lit(1L))
      .select(col("grp"), col("doc_id"), col("weight"),
        expr("u div weight").as("priority"))

  /** DSIR importance log-weight per doc: every token hashes into
    * [[DsirBuckets]] buckets; bucket b carries
    * lw(b) = ln( ((tgt_c+1)·(raw_tot+D)) / ((raw_c+1)·(tgt_tot+D)) )
    * (Laplace-smoothed importance ratio, quantized); a doc's log-weight
    * is the sum over its tokens. `selected` keeps docs whose weight is
    * positive — more target-like than raw-like.
    *
    * One token explode feeds BOTH corpus counts in a single 256-key
    * aggregate (`isTarget` rides as a flag — no second scan); the 256
    * count rows collapse to driver-side state (the bounded-broadcast
    * centroid discipline, Similarity.scala:277 — NOT a data-path
    * collect), where totals and the quantized log-weights derive in
    * plain arithmetic; the weight table re-enters the plan as a
    * 256-row literal broadcast into the per-token join. Building
    * weights lazily from the count DataFrame instead would recompute
    * the corpus explode once per weight consumer (measured: the `tot`
    * aggregate re-ran the whole count subtree); a dense-grid
    * window-sum in-plan build (the klFromBucketCounts discipline) was
    * also A/B-measured and REJECTED — same 4-job count either way, and
    * best-of-2 ~10% slower than this collect form, because here the
    * weight subtree rides inside a broadcast whose sub-job re-scans the
    * corpus anyway. The only fact-sized
    * shuffles are the 256-key count aggregate and the final per-doc
    * sum. floor-quantization happens in JVM Math.log — the identical
    * function Spark's `log` expression calls, so driver-side weight
    * math is bit-equal to the in-plan form. Docs with zero tokens emit
    * no row (nothing to weigh), mirroring bigramLmScore.
    *
    * Returns (doc_id, n_toks, dsir_logw, selected). */
  def dsirScore(docs: DataFrame, id: Column, text: Column,
                isTarget: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // native tokenize+hash pass (value-identical to md5Long(w) %
    // DsirBuckets over exploded tokens); the exploded stream carries
    // bucket longs, not token strings
    val tw = docs
      .select(id.as("doc_id"), isTarget.as("is_tgt"),
        explode(graft.functions.TokenHashBuckets(text, 0,
          DsirBuckets.toLong)).as("b"))
    val rawc = Array.fill(DsirBuckets)(0L)
    val tgtc = Array.fill(DsirBuckets)(0L)
    tw.groupBy(col("b")).agg(
        count(lit(1)).as("rawc"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgtc"))
      .collect().foreach { r =>
        rawc(r.getLong(0).toInt) = r.getLong(1)
        tgtc(r.getLong(0).toInt) = r.getLong(2)
      }
    val d = DsirBuckets.toDouble
    val rawTot = rawc.sum.toDouble
    val tgtTot = tgtc.sum.toDouble
    val weights = (0 until DsirBuckets).map { b =>
      val lw = math.log(((tgtc(b) + 1.0) * (rawTot + d)) /
        ((rawc(b) + 1.0) * (tgtTot + d)))
      (b.toLong, math.floor(lw * Scale).toLong)
    }
    tw.join(broadcast(weights.toDF("b", "lwq")), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lwq")).as("swq"))
      .select(col("doc_id"), col("n_toks"),
        (col("swq").cast("double") / lit(Scale)).as("dsir_logw"),
        (col("swq") > 0).as("selected"))
  }

  /** SQL text of the Wilson score interval LOWER bound (z = 1.96, 95%
    * two-sided) for the pass fraction `nPass / nDocs`. Shared VERBATIM
    * by the Spark plan (via `expr`) and the DuckDB oracle: same decimal
    * literals, same parenthesization, and every op (+ - * / sqrt) is
    * IEEE-754 correctly rounded on both engines, so the doubles match
    * bit-for-bit. Algebraically-equal rearrangements of the margin term
    * do NOT match in floating point — the single shared text is what
    * keeps the hash gate meaningful. z² is written `(1.96 * 1.96)` (not
    * a 3.8416 literal) so it is exactly the square of the z used in the
    * margin on both sides. */
  def wilsonLbSql(nPass: String, nDocs: String): String = {
    val n = s"CAST($nDocs AS DOUBLE)"
    val p = s"(CAST($nPass AS DOUBLE) / $n)"
    s"(($p + (1.96 * 1.96) / (2.0 * $n)" +
      s" - 1.96 * sqrt(($p * (1.0 - $p) + (1.96 * 1.96) / (4.0 * $n)) / $n))" +
      s" / (1.0 + (1.96 * 1.96) / $n))"
  }

  /** Rank sources by the Wilson lower confidence bound of their
    * quality-pass rate — the "how not to sort by average rating"
    * estimator. A source with 3/3 passing docs must NOT outrank one
    * with 9500/10000: the raw fraction ignores sample size, the lower
    * bound prices it in, and a curation pipeline allocating sampling
    * weight (or audit attention) per source wants exactly this
    * uncertainty-penalized ordering. `pass` is any boolean gate (the
    * queries use the shared quality ≥ 0.5 rule).
    *
    * 100 TB posture: ONE hash shuffle on `source` with map-side partial
    * aggregation — each task contributes two longs per source, so the
    * exchange is |sources|-sized regardless of corpus bytes. The bound
    * and the rank are computed on the AGGREGATED per-source table
    * (~10⁵ rows at lake scale); the unpartitioned row_number window is
    * a deliberate single-partition pass over that tiny table, never
    * over the corpus. Ties on the double bound break by source name,
    * so the rank is fully deterministic.
    *
    * Returns (source, n_docs, n_pass, wilson_lb, rnk). */
  def wilsonSourceRank(docs: DataFrame, source: Column, pass: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(source.as("source"), pass.cast("long").as("p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_pass"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        expr(wilsonLbSql("n_pass", "n_docs")).as("wilson_lb"))
      // source tiebreak ASC NULLS LAST (Spark default NULLS FIRST vs
      // DuckDB NULLS LAST — the unimaxAlloc parity class; a NULL
      // source tying on wilson_lb shifted rnk, caught by the r15
      // NULL-group adversarial doc)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("wilson_lb").desc,
          col("source").asc_nulls_last))
        .cast("long"))
  }

  /** Shared SQL text of observed agreement (n11+n00)/n; NULL on an
    * empty table (n=0 — ANSI DOUBLE division would raise). */
  def poSql(n: String, n11: String, n00: String): String =
    s"(CASE WHEN CAST($n AS DOUBLE) = 0.0 THEN NULL" +
      s" ELSE (CAST($n11 AS DOUBLE) + CAST($n00 AS DOUBLE)) / CAST($n AS DOUBLE) END)"

  /** Shared SQL text of chance agreement: the product of the marginal
    * positive rates plus the product of the marginal negative rates;
    * NULL on an empty table. */
  def peSql(n: String, n11: String, n10: String, n01: String, n00: String): String = {
    val nd = s"CAST($n AS DOUBLE)"
    s"(CASE WHEN $nd = 0.0 THEN NULL" +
      s" ELSE ((CAST($n11 AS DOUBLE) + CAST($n10 AS DOUBLE)) / $nd)" +
      s" * ((CAST($n11 AS DOUBLE) + CAST($n01 AS DOUBLE)) / $nd)" +
      s" + ((CAST($n01 AS DOUBLE) + CAST($n00 AS DOUBLE)) / $nd)" +
      s" * ((CAST($n10 AS DOUBLE) + CAST($n00 AS DOUBLE)) / $nd) END)"
  }

  /** Cohen's kappa text: (po − pe) / (1 − pe), po/pe inlined verbatim.
    * pe = 1 (both raters constant in the same direction) leaves kappa
    * undefined — NULL via shared CASE text, since Spark 4 ANSI raises
    * DIVIDE_BY_ZERO even on DOUBLE division. */
  def kappaSql(n: String, n11: String, n10: String, n01: String, n00: String): String = {
    val po = poSql(n, n11, n00)
    val pe = peSql(n, n11, n10, n01, n00)
    s"(CASE WHEN (1.0 - $pe) = 0.0 THEN NULL ELSE ($po - $pe) / (1.0 - $pe) END)"
  }

  /** Cohen's-kappa agreement between two boolean document gates — the
    * standard calibration check a curation stack runs when a cheap rule
    * filter and a model-based scorer are both in production: raw
    * agreement (po) overstates consensus when one gate passes almost
    * everything, kappa subtracts the chance-agreement floor (pe). Kappa
    * near 1 = redundant gates; near 0 = independent signals (run both);
    * negative = systematic disagreement (a miscalibrated scorer).
    *
    * Determinism: the contingency table is four exact long counts from
    * one conditional aggregate; po/pe/kappa evaluate SHARED SQL text on
    * both engines (the wilsonLbSql discipline).
    *
    * 100 TB posture: both gates evaluate inside the scan projection
    * (the caller passes Columns, not pre-joined frames — no per-doc
    * join), and the only exchange is the 5-long partial-aggregate
    * reduce to one row. Runs at parquet-read speed.
    *
    * Returns 1 row: (n, n11, n10, n01, n00, po, pe, kappa). */
  def agreementKappa(docs: DataFrame, a: Column, b: Column): DataFrame =
    docs.select(a.as("a"), b.as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr(poSql("n", "n11", "n00")).as("po"),
        expr(peSql("n", "n11", "n10", "n01", "n00")).as("pe"),
        expr(kappaSql("n", "n11", "n10", "n01", "n00")).as("kappa"))

  /** Cross-group quantile normalization of a metric column: each row's
    * within-group rank maps to the GLOBAL value at the same quantile
    * (midpoint convention), so per-source score distributions become
    * directly comparable — the standard fix before mixing
    * heterogeneous quality scores into one training-cut threshold
    * (each source's scorer has its own scale; ranks are the only
    * shared currency).
    *
    * Exactness: target index = ((2r−1)·N + n_g) div (2·n_g) — pure
    * integer midpoint math, deterministic (x, id) rank tie-breaks on
    * both sides, and the normalized value is an EXISTING global value
    * (no interpolation, no doubles until the emitted copy).
    *
    * Shape: one group-keyed window, one global rank (this is the
    * EXACT form — a single-partition sort, the ccnetBuckets trade;
    * the 100 TB path swaps the global rank table for
    * percentile_approx cut points, same join), one hash join on the
    * target index. NULL metrics carry no rank and are dropped. */
  def quantileNormalize(docs: DataFrame, group: Column, id: Column,
                        x: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val v = docs.filter(x.isNotNull)
      .select(group.as("g"), id.as("doc_id"), x.cast("long").as("x"))
    val wg = W.partitionBy(col("g")).orderBy(col("x"), col("doc_id"))
    val ranked = v
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("n_g", count(lit(1)).over(W.partitionBy(col("g"))))
    val globalIdx = v
      .select(col("x").as("gval"),
        row_number().over(W.orderBy(col("x"), col("doc_id"))).cast("long")
          .as("gidx"))
    val total = v.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(total))
      .withColumn("tidx", expr("((2 * r - 1) * n_total + n_g) div (2 * n_g)"))
      .join(globalIdx, col("tidx") === col("gidx"))
      .select(col("doc_id"), col("g"), col("x"), col("gval").as("norm_x"))
  }

  /** Neyman-optimal stratified allocation (Neyman 1934): split a
    * sampling budget across strata proportionally to N_h·σ_h — the
    * minimum-variance allocation for estimating a corpus mean, and
    * the principled answer to "how many docs should the eval slice
    * take from each source" (uniform over-samples homogeneous strata,
    * proportional over-samples low-variance giants).
    *
    * Exactness: σ_h comes from exact integer power sums (DECIMAL(38,0)
    * squares — the autocorr discipline); weights quantize to
    * floor(N_h·σ_h·10⁶) longs; the budget splits by exact
    * integer largest-remainder rounding (floor shares + the `leftover`
    * largest fractional remainders get +1, remainder ties break on the
    * group key), so allocations are integers that sum EXACTLY to the
    * budget. `n_alloc` caps at the stratum size (no redistribution
    * pass — the uncapped share is emitted beside it for auditing).
    * All-zero variance (W = 0) degenerates to NULL allocations (the
    * corr/kappa NULL discipline).
    *
    * Shape: one map-combined group aggregate collapses the corpus to
    * ≤|strata| rows; every window after that runs on the tiny stratum
    * table. */
  def neymanAllocation(docs: DataFrame, group: Column, x: Column,
                       budget: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val g = docs.filter(x.isNotNull && group.isNotNull)
      .select(group.as("g"), x.cast("long").as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sq"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sqq"))
    val varH = (col("sqq").cast("double") -
      col("sq").cast("double") * col("sq").cast("double") /
        col("n_docs").cast("double")) / col("n_docs").cast("double")
    val sdH = sqrt(when(varH < 0.0, lit(0.0)).otherwise(varH))
    val w = g.withColumn("sd", sdH)
      .withColumn("wq",
        floor(col("n_docs").cast("double") * col("sd") * lit(1.0e6))
          .cast("long"))
      .withColumn("wtot", sum(col("wq")).over(W.partitionBy()))
      .withColumn("base",
        when(col("wtot") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"($budget * wq) div wtot")))
      .withColumn("rem",
        when(col("wtot") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"($budget * wq) % wtot")))
      .withColumn("leftover",
        lit(budget) - sum(col("base")).over(W.partitionBy()))
      .withColumn("rrk",
        row_number().over(W.orderBy(col("rem").desc, col("g"))).cast("long"))
    w.select(col("g"), col("n_docs"), col("sd"),
      (col("wq").cast("double") / lit(1.0e6)).as("weight"),
      when(col("wtot") === 0L, lit(null).cast("long"))
        .otherwise(col("base") +
          when(col("rrk") <= col("leftover"), lit(1L)).otherwise(lit(0L)))
        .as("alloc_uncapped"))
      // explicit NULL guard: least() IGNORES nulls on both engines, so
      // a bare least(alloc, n) would resurrect the W = 0 degenerate
      // case as n_docs instead of propagating NULL
      .withColumn("n_alloc",
        when(col("alloc_uncapped").isNull, lit(null).cast("long"))
          .otherwise(least(col("alloc_uncapped"), col("n_docs"))))
  }

  /** 2-D Pareto skyline (maximize both integer axes): the rows no
    * other row dominates — x' ≥ x ∧ y' ≥ y with one strict — the
    * "best frontier" selection (cheapest-newest, longest-cleanest)
    * that no single score column can express.
    *
    * Exact rule derived per point p: p survives iff y_p equals the
    * max y among its own x value AND strictly exceeds the max y over
    * all x > x_p (ties on both axes survive together — duplicates of
    * a frontier point are all frontier points).
    *
    * Shape discipline: the corpus collapses to ONE row per distinct x
    * (a map-combined groupBy — the only corpus-sized work), the
    * running max over x runs on that domain-sized relation (a
    * single-partition window over |distinct x| rows — thousands for a
    * price axis, never corpus-sized; pre-bucket x first if the domain
    * is genuinely unbounded), and survivors re-join the corpus by x
    * (broadcast — a 2-D frontier is tiny). Emits the point rows plus
    * their frontier rank by descending x. */
  def skyline2d(df: DataFrame, id: Column, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.filter(x.isNotNull && y.isNotNull)
      .select(id.as("id"), x.cast("long").as("x"), y.cast("long").as("y"))
    val gx = pts.groupBy(col("x")).agg(max(col("y")).as("maxy"))
    val prevMax = max(col("maxy")).over(Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1))
    val skyx = gx.withColumn("pm", prevMax)
      .filter(col("pm").isNull || col("maxy") > col("pm"))
      .select(col("x"), col("maxy"),
        row_number().over(Window.orderBy(col("x").desc)).cast("long")
          .as("rank"))
    pts.join(broadcast(skyx), Seq("x"))
      .filter(col("y") === col("maxy"))
      .select(col("id"), col("x"), col("y"), col("rank"))
  }

  /** Leave-one-group-out quality ablation — the source-level "what
    * would the corpus look like without this feed?" readout a curation
    * stack runs before dropping or re-weighting a source: per group,
    * the corpus-wide mean classifier margin, the mean WITHOUT the
    * group, and the delta (positive delta = removing the group would
    * RAISE average quality; big |delta| with big n_docs = the source
    * is moving the corpus).
    *
    * Exactness: per-doc integer margins ([[qualityClassifier]]'s
    * q_margin via the native one-pass scorer) sum as exact integers
    * per group (DECIMAL(38,0) — margin ≤ 10³·tokens, times lake-scale
    * docs squares past LONG); corpus totals fold over the ≤|groups|
    * relation by window; each mean is ONE final double ratio.
    *
    * Shape: one map-combined groupBy on the group key; everything
    * after is a ≤|groups|-row window — scan-bound at any scale. */
  def sourceAblation(docs: DataFrame, group: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = clfStats(text)
    // NULL text scores margin 0 but still counts as a doc (mirrored
    // coalesce in the twin) — dropping it would shrink n_docs
    val per = docs.filter(group.isNotNull)
      .select(group.as("g"),
        coalesce(st.getField("margin_q"), lit(0L)).cast("decimal(38,0)")
          .as("m"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("m")).as("sm"))
    val w = Window.partitionBy()
    per
      .withColumn("nt", sum(col("n_docs")).over(w))
      .withColumn("smt", sum(col("sm")).over(w))
      .select(col("g"), col("n_docs"),
        (col("smt").cast("double") / col("nt").cast("double"))
          .as("mean_margin_all"),
        when(col("nt") === col("n_docs"), lit(null).cast("double"))
          .otherwise((col("smt") - col("sm")).cast("double") /
            (col("nt") - col("n_docs")).cast("double"))
          .as("mean_margin_without"),
        when(col("nt") === col("n_docs"), lit(null).cast("double"))
          .otherwise((col("smt") - col("sm")).cast("double") /
            (col("nt") - col("n_docs")).cast("double") -
            col("smt").cast("double") / col("nt").cast("double"))
          .as("delta"))
  }

  /** Confident-learning label-noise estimate (Northcutt et al., JAIR
    * 2021 — the cleanlab kernel) for a binary (score, label) pair:
    * count the joint C[y][ŷ] where ŷ is the CONFIDENT prediction —
    * class j is predicted only when the example's class-j confidence
    * reaches the class's own mean confidence (the per-class threshold
    * that makes the estimator robust to a miscalibrated scorer) — and
    * read the off-diagonal mass as the estimated label-noise rate.
    * The audit that tells you whether the blocklist labels and the
    * classifier disagree SYSTEMATICALLY (flipped slices) rather than
    * randomly.
    *
    * Decision rule (binary specialization): confidence for class 1 is
    * the score, for class 0 its negation; an example meets class j's
    * threshold when conf_j ≥ mean(conf_j over class-j examples); both
    * met → the larger confidence (score ≥ 0 ⇒ 1); neither → the
    * example abstains (counted, not classified).
    *
    * Exactness: scores quantize to the 10⁻⁶ grid (one mirrored floor;
    * the score double is already engine-identical), thresholds never
    * materialize as doubles — the compare is the exact integer
    * cross-multiplication sq·n_j ≥ Σ_j sq (LONG-safe to ~10¹² rows at
    * |sq| ≤ 10⁶; decimal past that); an empty class meets nothing.
    * The one emitted double (noise_est) divides two exact LONGs.
    *
    * Shape: one map-combined 1-row threshold aggregate broadcast back
    * over the scan, one ≤6-key cell aggregate, window folds on the
    * cell table. Returns (y, yhat, n_cell) rows + constants
    * (n_total, n_assigned, noise_est); yhat NULL = abstained. */
  def labelNoise(df: DataFrame, score: Column, label: Column): DataFrame = {
    // tracked persist: the threshold aggregate AND the cell aggregate
    // both read (sq, y) — uncached, the scorer + tokenizer projection
    // runs twice (measured 6.0 s → 3.4 s at sf1); the cached relation
    // is two longs per row
    val s = graft.core.Caches.track(
      df.filter(score.isNotNull && label.isNotNull)
        .select(floor(score * lit(1000000.0) + lit(0.5)).cast("long")
          .as("sq"),
          when(label, 1L).otherwise(0L).as("y")))
    val t = s.agg(
      sum(when(col("y") === 1L, col("sq"))).as("sum1"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === 0L, -col("sq"))).as("sum0"),
      sum(when(col("y") === 0L, 1L).otherwise(0L)).as("n0"))
    val c1 = coalesce(col("sq") * col("n1") >= col("sum1"), lit(false))
    val c0 = coalesce((-col("sq")) * col("n0") >= col("sum0"), lit(false))
    val yhat = when(c1 && c0,
        when(col("sq") >= 0L, 1L).otherwise(0L))
      .when(c1, 1L).when(c0, 0L)
    val cells = s.crossJoin(broadcast(t))
      .select(col("y"), yhat.as("yhat"))
      .groupBy(col("y"), col("yhat"))
      .agg(count(lit(1)).as("n_cell"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    cells
      .withColumn("n_total", sum(col("n_cell")).over(wAll))
      .withColumn("n_assigned",
        coalesce(sum(when(col("yhat").isNotNull, col("n_cell"))).over(wAll),
          lit(0L)))
      .withColumn("noise_est",
        when(col("n_assigned") === 0L, lit(null).cast("double"))
          .otherwise(coalesce(sum(when(col("yhat").isNotNull &&
              col("yhat") =!= col("y"), col("n_cell"))).over(wAll), lit(0L))
            .cast("double") / col("n_assigned").cast("double")))
  }

  /** UniMax language-sampling allocation (Chung et al., ICLR 2023):
    * distribute a token budget ACROSS languages as uniformly as
    * possible subject to a per-language repeat cap — each language may
    * contribute at most `maxEpochs` passes over its own data, and the
    * budget that the capped (low-resource) languages cannot absorb
    * waterfills uniformly over the rest. The closed form: sort
    * languages by cap ascending; language j is CAPPED iff granting
    * every remaining language at least cap_j still fits the budget
    * (cap_j·(L−j+1) + prefix_{j−1} ≤ B — a monotone prefix property),
    * and the water level λ = (B − Σ_capped cap)/(L − k) funds everyone
    * else. Returns (g, n_tokens, cap, allocated, epochs).
    *
    * Exactness: token sums and caps are exact LONGs; the affordability
    * product runs in DECIMAL(38,0) (cap·L squares past LONG at lake
    * scale); λ is ONE double division mirrored token-identically.
    *
    * Shape: one map-combined corpus groupBy; the sort/prefix windows
    * run over the |languages|-row table (domain-sized — the gateParity
    * regime), totals broadcast back. Scan-bound.
    *
    * EAGER: the corpus job executes at DataFrame-construction time
    * (driver-fold contract — callers cannot stack lazy transforms
    * without paying the job first; .explain triggers execution). The
    * |languages| collect is exactly the query's own output relation —
    * structurally bounded, so no DriverFold gate. */
  def unimaxAlloc(df: DataFrame, domain: Column, tokens: Column,
                  budget: Long, maxEpochs: Long): DataFrame = {
    // r16: everything past the |languages|-row corpus aggregate folds
    // in the driver (was 3 jobs: ranked persist + L broadcast + kRow
    // broadcast; now the one corpus job). The waterfill sort replays
    // Spark's (cap ASC, g ASC NULLS LAST) order exactly — string keys
    // compare by UTF-8 BYTES (UTF8String order, code-point order; Java
    // String compareTo would diverge on supplementary characters, the
    // domainCap NULL/collation parity class) — and the affordability
    // product runs in BigInt, mirroring the DECIMAL(38,0) arithmetic.
    // λ and the per-row doubles are the same IEEE chain as before.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val perDf = df.select(domain.as("g"), tokens.as("__t"))
      .filter(col("__t").isNotNull)
      .groupBy(col("g"))
      .agg(sum(col("__t")).as("n_tokens"))
    val per = perDf.collect().map { r =>
      val n = r.getLong(1)
      (r.get(0), n, n * maxEpochs)
    }
    // (cap ASC, g ASC NULLS LAST) with UTF8-byte string order
    def gLess(a: Any, b: Any): Boolean = (a, b) match {
      case (null, _) => false // NULLS LAST: null never precedes
      case (_, null) => true
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: Short, y: Short) => x < y
      case (x: Byte, y: Byte) => x < y
      // Double/Float: java.lang compare orders NaN greatest, matching
      // Spark's SQL ordering (-0.0/0.0 never co-occur as group keys —
      // NormalizeFloatingNumbers canonicalizes them before the groupBy)
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.compare(x, y) < 0
      case (x: java.lang.Float, y: java.lang.Float) =>
        java.lang.Float.compare(x, y) < 0
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y) < 0
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y) < 0
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y) < 0
      case (x, y) => // a silent toString order would diverge from Spark's
        throw new IllegalArgumentException(
          s"unimaxAlloc: unsupported group-key type ${x.getClass.getName}")
    }
    val sorted = per.sortWith((l, r) =>
      if (l._3 != r._3) l._3 < r._3 else gLess(l._1, r._1))
    val L = sorted.length.toLong
    var prefix = 0L
    var k = 0L
    var prefixK = 0L
    val ranked = sorted.zipWithIndex.map { case ((g, n, cap), i) =>
      prefix += cap
      val affordable = BigInt(cap) * (L - (i + 1L) + 1L) +
        BigInt(prefix - cap) <= BigInt(budget)
      if (affordable) { k += 1L; prefixK += cap }
      (g, n, cap, i + 1L, affordable)
    }
    val lambda: Any =
      if (L == k) null
      else (budget - prefixK).toDouble / (L - k).toDouble
    val rows = ranked.map { case (g, n, cap, rn, _) =>
      val allocated: Any = if (rn <= k) cap.toDouble else lambda
      val epochs: Any =
        if (n == 0L || allocated == null) null
        else allocated.asInstanceOf[Double] / n.toDouble
      Row(g, n, cap, allocated, epochs)
    }
    val schema = StructType(Seq(
      StructField("g", perDf.schema("g").dataType),
      StructField("n_tokens", LongType), StructField("cap", LongType),
      StructField("allocated", DoubleType), StructField("epochs", DoubleType)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** One-step domain reweighting — the DoReMi update (Xie et al.,
    * NeurIPS 2023) collapsed to its single-round form: a domain whose
    * mean proxy loss EXCEEDS the corpus mean is underfit and gets its
    * mixture share multiplied by exp(η·excess); shares renormalize to
    * sum to 1. `lossQ` is a per-record quantized-LONG proxy loss (the
    * PSI discipline — order-independent integer sums); `lossScale`
    * converts quantized means back to loss units before the exp.
    *
    * Exactness: per-domain sums accumulate in DECIMAL(38,0) (corpus-
    * scale margins square past LONG); means/excess/exp are identical
    * double chains both engines; the raw shares quantize to
    * floor(·10¹²) LONG before the normalizing sum, so the final
    * weights are exact-integer ratios.
    *
    * Shape: ONE map-combined corpus groupBy; the corpus totals and the
    * normalizer are 1-row aggregates broadcast back onto the
    * |domains|-row table (the [[Privacy.kAnonymity]] reshape — never
    * an unpartitioned window). NULL domains form their own row; NULL
    * losses drop. Returns (g, n_docs, mean_loss, excess_loss,
    * base_share, weight). */
  def domainReweight(df: DataFrame, domain: Column, lossQ: Column,
                     eta: Double, lossScale: Double = 1e3): DataFrame = {
    // r16: everything past the |domains|-row corpus aggregate folds in
    // the driver (was 3 jobs: persist + tot broadcast + normalizer
    // broadcast; now the one corpus job). DECIMAL(38,0) loss sums
    // mirror as BigInt with the same ->double conversion; the
    // mean/excess/exp chain is the identical java.lang.Math sequence
    // Spark's codegen runs, quantized to LONG before the exact
    // normalizer sum.
    // r17 guard: |domains| is DATA-dependent (a web corpus can carry
    // 1e7-1e8 domains), so the fold is gated on DriverFold — above the
    // cap the pre-fold broadcast form runs, bit-identically. EAGER
    // under the cap: the corpus job executes at construction time.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val perDf = df.select(domain.as("g"), lossQ.as("__lq"))
      .filter(col("__lq").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__lq").cast("decimal(38,0)")).as("__sl"))
    graft.core.DriverFold.collectBounded(perDf) match {
      case Some(collected) =>
        val per = collected.map(r =>
          (r.get(0), r.getLong(1), r.getDecimal(2)))
        val nt = per.iterator.map(_._2).sum
        val slt = per.iterator.map(r => BigDecimal(r._3)).sum
        val meanAll = slt.bigDecimal.doubleValue / (nt.toDouble * lossScale)
        val mid = per.map { case (g, n, sl) =>
          val meanG = sl.doubleValue / (n.toDouble * lossScale)
          val baseShare = n.toDouble / nt.toDouble
          val rq = math.floor(baseShare *
            math.exp(eta * (meanG - meanAll)) * 1e12).toLong
          (g, n, meanG, meanG - meanAll, baseShare, rq)
        }
        val rst = mid.iterator.map(_._6).sum
        val rows = mid.map { case (g, n, m, ex, bs, rq) =>
          Row(g, n, m, ex, bs, rq.toDouble / rst.toDouble)
        }
        val schema = StructType(Seq(
          StructField("g", perDf.schema("g").dataType),
          StructField("n_docs", LongType), StructField("mean_loss", DoubleType),
          StructField("excess_loss", DoubleType),
          StructField("base_share", DoubleType),
          StructField("weight", DoubleType)))
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case None => // distributed tail: the pre-r16 broadcast form
        val tot = perDf.agg(sum(col("n_docs")).as("__nt"),
          sum(col("__sl")).as("__slt"))
        val meanG = col("__sl").cast("double") /
          (col("n_docs").cast("double") * lit(lossScale))
        val meanAll = col("__slt").cast("double") /
          (col("__nt").cast("double") * lit(lossScale))
        val withRaw = graft.core.Caches.track(perDf.crossJoin(broadcast(tot))
          .withColumn("mean_loss", meanG)
          .withColumn("excess_loss", meanG - meanAll)
          .withColumn("base_share",
            col("n_docs").cast("double") / col("__nt").cast("double"))
          .withColumn("__rq",
            floor(col("base_share") * exp(lit(eta) * col("excess_loss")) *
              lit(1e12)).cast("long")))
        val norm = withRaw.agg(sum(col("__rq")).as("__rst"))
        withRaw.crossJoin(broadcast(norm))
          .select(col("g"), col("n_docs"), col("mean_loss"),
            col("excess_loss"), col("base_share"),
            (col("__rq").cast("double") / col("__rst").cast("double"))
              .as("weight"))
    }
  }
}
