package graft.entry

import graft.agg.{Funnel, Inference, RobustStats, TimeSeries}
import graft.llm.{Selection, Similarity, TextAnalysis}
import graft.functions.GraftFunctions.tokensFolded
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Product/eval analytics wave: vocabulary-coverage curve, weekly
  * churn accounting, per-transition latency profiles, embedding
  * label-separation audit, classifier calibration (reliability + ECE),
  * and last-touch attribution. Operators live in
  * [[graft.llm.TextAnalysis]], [[graft.agg.Funnel]],
  * [[graft.agg.TimeSeries]], [[graft.llm.Similarity]] and
  * [[graft.agg.Inference]].
  */
object GrowthQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Vocab cutoffs (shared with the oracle). */
  private val VocabKs = Seq(100L, 1000L, 10000L)
  /** Blocklist label words — the q_scorer_kappa gate, verbatim. */
  private val BlockedWords = Seq("slow", "broken", "spam", "casino")
  /** Attribution step types. */
  private val AttrFrom = "click"; private val AttrTo = "purchase"

  val queries: Map[String, Q] = Map(
    // token-mass coverage of the top-{100,1k,10k} folded types — the
    // vocab-budget curve Zipf's slope implies but doesn't answer
    "q_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), col("text"),
        VocabKs)),

    // week-over-week active/new/retained/churned accounting — the
    // operational readout beside q_retention's cohort decay
    "q_churn" -> ((s, d) =>
      Funnel.churn(Tables.events(s, d), col("user_id"), col("ts"))),

    // per-(from→to) consecutive-step latency profile — the TIME
    // companion of q_markov's transition probabilities
    "q_transition_latency" -> ((s, d) =>
      TimeSeries.transitionLatency(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))),

    // are the embedding classes separated and tight? centroid-pair
    // cosines + per-label cohesion from exact fixed-point centroids
    "q_label_separation" -> ((s, d) =>
      Similarity.labelSeparation(Tables.embeddings(s, d), col("vec_id"),
        col("label"), col("embedding"))),

    // reliability diagram + ECE of the quality classifier against the
    // blocklist-clean label — is the score a probability?
    // label: no blocked word among the folded tokens. arrays_overlap
    // replaces the filter+isin lambda (an interpreted per-token HOF):
    // same boolean on null-free arrays, but codegen'd. The score side
    // is the native one-pass ClfStats scan call.
    "q_calibration_bins" -> ((s, d) =>
      Inference.calibration(Tables.documents(s, d),
        Selection.clfScore(col("text")),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))),

    // isotonic (PAV-by-minimax) recalibration of the same score/label
    // pair — the monotone score→probability map q_calibration_bins'
    // reliability diagram motivates; everything after the bin agg is
    // ≤bins-row local math
    "q_iso_calibration" -> ((s, d) =>
      Inference.isotonicCalibration(Tables.documents(s, d),
        Selection.clfScore(col("text")),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))),

    // confident-learning joint of the same score/label pair: which
    // label cells does the classifier CONFIDENTLY contradict —
    // per-class mean thresholds as exact integer cross-multiplications
    "q_label_noise" -> ((s, d) =>
      Selection.labelNoise(Tables.documents(s, d),
        Selection.clfScore(col("text")),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))),

    // the release pipeline in ONE declarative plan: quality gate
    // (clfScore > 0) → exact dedup (keep-lowest per content hash) →
    // k-anonymity suppression (drop (source, lang) classes < 3) →
    // dataset card OF THE RELEASED SET, with stage counts — the
    // composability proof for the round's audit operators
    "q_release_audit" -> ((s, d) => {
      val input = Tables.documents(s, d).filter(col("text").isNotNull)
      val gated = input.filter(Selection.clfScore(col("text")) > 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      // r16: the gate→dedup→suppression→card chain runs as ONE pass over
      // the gated rows — the dedup rank and the (source, lang) class size
      // are chained windows (class size counts rn=1 survivors only, the
      // exact set the old deduped relation held), released-set membership
      // becomes a row-local predicate, and the card + both stage counts
      // fold into one conditional aggregate. The old form persisted the
      // deduped survivors and cross-joined FOUR 1-row aggregates (4 jobs /
      // 12 stages, 3 corpus passes, 2 clfScore evaluations); now: one
      // cheap count-only scan for n_input + one scored/windowed pass
      // (2 jobs, clfScore evaluated once). Window-partition semantics
      // keep NULL quasi-identifiers grouped (the kAnonymity rule), as
      // before.
      val wCls = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("lang"))
      val flagged = gated
        .withColumn("__rn", row_number().over(w))
        .withColumn("__cs",
          count(when(col("__rn") === 1, lit(1))).over(wCls))
      val rel = col("__rn") === 1 && col("__cs") >= 3L
      val audit = flagged.agg(
        count(lit(1)).as("n_after_gate"),
        count(when(col("__rn") === 1, lit(1))).as("n_after_dedup"),
        count(when(rel, lit(1))).as("n_docs"),
        count(when(rel, col("text"))).as("n_text_docs"),
        sum(when(rel, coalesce(col("n_chars"), lit(0L)))).as("n_chars"),
        coalesce(sum(when(rel,
          size(graft.functions.GraftFunctions.tokens(col("text")))
            .cast("long"))), lit(0L)).as("n_words"),
        count_distinct(when(rel, col("lang"))).as("n_langs"),
        count_distinct(when(rel, col("source"))).as("n_sources"),
        count_distinct(when(rel, md5(col("text")))).as("n_distinct_texts"),
        sum(when(rel && col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        count(when(rel, col("lang"))).as("n_lang_tagged"))
      input.agg(count(lit(1)).as("n_input"))
        .crossJoin(audit)
        .select(col("n_input"), col("n_after_gate"), col("n_after_dedup"),
          col("n_docs"), col("n_text_docs"), col("n_chars"), col("n_words"),
          col("n_langs"), col("n_sources"), col("n_distinct_texts"),
          when(col("n_text_docs") === 0L, lit(null).cast("double"))
            .otherwise((col("n_text_docs") - col("n_distinct_texts"))
              .cast("double") / col("n_text_docs").cast("double"))
            .as("dup_rate"),
          when(col("n_lang_tagged") === 0L, lit(null).cast("double"))
            .otherwise(col("n_en").cast("double") /
              col("n_lang_tagged").cast("double")).as("en_share"))
    }),

    // Brier score + skill of the probability-mapped quality score vs
    // the blocklist label — the PROPER scoring rule beside ECE; exact
    // fixed-point squared-error sums
    "q_brier" -> ((s, d) =>
      Inference.brier(Tables.documents(s, d),
        (Selection.clfScore(col("text")) + lit(1.0)) / lit(2.0),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))),

    // per-source gate-disparity audit (80% rule) on the blocklist
    // gate — which sources are being systematically filtered
    "q_gate_parity" -> ((s, d) =>
      graft.llm.Privacy.gateParity(Tables.documents(s, d), col("source"),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))
        .withColumnsRenamed(Map("g" -> "source"))),

    // exact rank-based AUC of the quality score against the blocklist
    // label: AUC = U₁/(n₁·n₂) — the Mann–Whitney identity, so the
    // ranking metric reuses the exact 2×midrank machinery verbatim
    "q_quality_auc" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(Selection.clfScore(col("text")).as("score"),
          (!arrays_overlap(tokensFolded(col("text")),
            array(BlockedWords.map(lit): _*))).as("label"))
        .filter(col("label").isNotNull)
      RobustStats.mannWhitney(scored, col("score"), col("label"))
        .select(col("n1").as("n_pos"), col("n2").as("n_neg"),
          col("u1").as("u_pos"),
          when(col("n1") === 0L || col("n2") === 0L,
            lit(null).cast("double"))
            .otherwise(col("u1") / (col("n1").cast("double") *
              col("n2").cast("double"))).as("auc"),
          col("z"))
    }),

    // last-touch attribution: latest strictly-earlier click credits
    // each purchase — one user-keyed window, no self-join
    "q_attribution" -> ((s, d) =>
      Funnel.lastTouchAttribution(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), AttrFrom, AttrTo)),

    // Mann-Kendall monotone-trend test per type — the significance
    // companion of q_theil_sen's slope; integer S and tie-corrected
    // variance numerator, day-table pair join
    "q_mann_kendall" -> ((s, d) =>
      TimeSeries.mannKendall(Tables.events(s, d), col("event_type"),
        col("ts"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // Kaplan-Meier signup→purchase survival, right-censored at the
    // corpus horizon — sequential product-limit fold, both engines
    "q_survival_km" -> ((s, d) =>
      TimeSeries.kaplanMeier(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_type"), "signup", AttrTo)),

    // Lorenz curve of document mass at population deciles — the shape
    // q_gini summarizes; exact within-tie interpolation
    "q_lorenz" -> ((s, d) =>
      RobustStats.lorenz(Tables.documents(s, d), col("n_chars"))),

    // cohort LTV matrix: first-active-week cohorts × offsets, value
    // mass + cumulative value per cohort member
    "q_cohort_value" -> ((s, d) =>
      Funnel.cohortValue(Tables.events(s, d), col("user_id"), col("ts"),
        col("value"))),

    // trend / day-of-week seasonal / residual split of daily volumes —
    // "we grew" vs "it's Sunday" vs "something happened"
    "q_seasonal_decompose" -> ((s, d) =>
      TimeSeries.seasonalDecompose(Tables.events(s, d),
        col("event_type"), col("ts"))
        .withColumnsRenamed(Map("k" -> "event_type")))
  )

  /** Shared score/label CTE prefix of the calibration family
    * (q_calibration_bins, q_iso_calibration) — the clfScore margin and
    * the folded-token blocklist gate, verbatim in both twins. */
  private lazy val calibScoreCte: String =
    s"""toks AS (SELECT $sqlToks AS tk,
       |               $sqlFoldToks AS ftk FROM documents),
       |sc AS (SELECT
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |         ELSE CAST(CAST(coalesce(list_sum(list_transform(tk, t ->
       |             ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)),
       |             0) AS BIGINT) AS DOUBLE)
       |           / (CAST(CAST(len(tk) AS BIGINT) AS DOUBLE) * 1000.0)
       |    END AS score,
       |    (len(list_filter(ftk, t -> t IN
       |      (${BlockedWords.map(w => s"'$w'").mkString(", ")}))) = 0)
       |      AS label
       |  FROM toks)""".stripMargin

  val oracle: Map[String, String] = Map(
    // mirrors the q_release_audit chain: inline score CTE carrying the
    // doc columns, keep-lowest dedup window, class-size window (NULL
    // QI grouped, the kAnonymity rule), card over the released set
    "q_release_audit" ->
      s"""WITH sc2 AS (
         |  SELECT doc_id, text, lang, source, n_chars,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(CAST(coalesce(list_sum(list_transform(tk, t ->
         |             ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)),
         |             0) AS BIGINT) AS DOUBLE)
         |           / (CAST(CAST(len(tk) AS BIGINT) AS DOUBLE) * 1000.0)
         |    END AS score
         |  FROM (SELECT *, $sqlToks AS tk FROM documents
         |        WHERE text IS NOT NULL) x),
         |gated AS (SELECT * FROM sc2 WHERE score > 0),
         |dd AS (SELECT * FROM (
         |         SELECT *, row_number() OVER (PARTITION BY md5(text)
         |           ORDER BY doc_id) AS rn FROM gated)
         |       WHERE rn = 1),
         |rel AS (SELECT * FROM (
         |          SELECT *, count(*) OVER (PARTITION BY source, lang)
         |            AS cs FROM dd)
         |        WHERE cs >= 3),
         |card AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(text) AS BIGINT) AS n_text_docs,
         |    CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS n_chars,
         |    CAST(coalesce(sum(len(list_filter(string_split(text, ' '),
         |      w -> len(w) > 0))), 0) AS BIGINT) AS n_words,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_en,
         |    CAST(count(lang) AS BIGINT) AS n_lang_tagged
         |  FROM rel),
         |cnt AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM sc2) AS n_input,
         |    (SELECT CAST(count(*) AS BIGINT) FROM gated) AS n_after_gate,
         |    (SELECT CAST(count(*) AS BIGINT) FROM dd) AS n_after_dedup)
         |SELECT cnt.n_input, cnt.n_after_gate, cnt.n_after_dedup,
         |  card.n_docs, card.n_text_docs, card.n_chars, card.n_words,
         |  card.n_langs, card.n_sources, card.n_distinct_texts,
         |  CASE WHEN card.n_text_docs = 0 THEN NULL
         |       ELSE CAST(card.n_text_docs - card.n_distinct_texts AS DOUBLE)
         |            / CAST(card.n_text_docs AS DOUBLE) END AS dup_rate,
         |  CASE WHEN card.n_lang_tagged = 0 THEN NULL
         |       ELSE CAST(card.n_en AS DOUBLE)
         |            / CAST(card.n_lang_tagged AS DOUBLE) END AS en_share
         |FROM cnt CROSS JOIN card""".stripMargin,

    // mirrors Inference.brier over the probability-mapped score:
    // 10⁻⁶ quantization, exact HUGEINT squared-error sum, three
    // mirrored double expressions
    "q_brier" ->
      s"""WITH $calibScoreCte,
         |sx AS (SELECT CAST(floor((score + 1.0) / 2.0 * 1000000.0 + 0.5)
         |         AS BIGINT) AS sq,
         |         CASE WHEN label THEN 1 ELSE 0 END AS y
         |       FROM sc WHERE score IS NOT NULL AND label IS NOT NULL),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(y) AS BIGINT) AS npos,
         |             sum((CAST(sq AS HUGEINT) - 1000000 * y)
         |                 * (CAST(sq AS HUGEINT) - 1000000 * y)) AS se
         |      FROM sx)
         |SELECT n,
         |  CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS base_rate,
         |  CAST(se AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE) AS brier,
         |  (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
         |    * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
         |    AS uncertainty,
         |  CASE WHEN (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
         |            * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
         |            = 0.0 THEN NULL
         |       ELSE 1.0 - (CAST(se AS DOUBLE) / 1.0E12
         |                   / CAST(n AS DOUBLE))
         |                  / ((CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
         |                     * (1.0 - CAST(npos AS DOUBLE)
         |                        / CAST(n AS DOUBLE)))
         |       END AS brier_skill
         |FROM t""".stripMargin,

    // mirrors Privacy.gateParity on the blocklist gate: group counts,
    // window corpus totals, the 80%-rule verdict
    "q_gate_parity" ->
      s"""WITH sx AS (SELECT source AS g,
         |              (len(list_filter($sqlFoldToks, t -> t IN
         |                (${BlockedWords.map(w => s"'$w'").mkString(", ")})))
         |               = 0) AS pass
         |            FROM documents),
         |g AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_pass
         |      FROM sx WHERE pass IS NOT NULL GROUP BY 1)
         |SELECT g AS source, n, n_pass,
         |  CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS pass_rate,
         |  CAST(sum(n_pass) OVER () AS DOUBLE)
         |    / CAST(sum(n) OVER () AS DOUBLE) AS overall_rate,
         |  CASE WHEN CAST(sum(n_pass) OVER () AS DOUBLE)
         |            / CAST(sum(n) OVER () AS DOUBLE) = 0.0 THEN NULL
         |       ELSE (CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE))
         |            / (CAST(sum(n_pass) OVER () AS DOUBLE)
         |               / CAST(sum(n) OVER () AS DOUBLE)) END
         |    AS parity_ratio,
         |  CASE WHEN CAST(sum(n_pass) OVER () AS DOUBLE)
         |            / CAST(sum(n) OVER () AS DOUBLE) = 0.0 THEN NULL
         |       ELSE (CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE))
         |            / (CAST(sum(n_pass) OVER () AS DOUBLE)
         |               / CAST(sum(n) OVER () AS DOUBLE)) >= 0.8 END
         |    AS meets_four_fifths
         |FROM g""".stripMargin,

    // mirrors the q_rank_drift Mann–Whitney algebra over the shared
    // score/label CTE; AUC = U₁/(n₁·n₂), one extra division
    "q_quality_auc" -> {
      val u1 = "((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0)"
      val nd = "CAST(n1 + n2 AS DOUBLE)"
      val varU = s"(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 * " +
        s"(($nd + 1.0) - CAST(tie_t AS DOUBLE) / ($nd * ($nd - 1.0))))"
      s"""WITH $calibScoreCte,
         |s AS (SELECT score AS x, CASE WHEN label THEN 1 ELSE 0 END AS f
         |      FROM sc WHERE score IS NOT NULL AND label IS NOT NULL),
         |g AS (SELECT x, CAST(sum(f) AS BIGINT) AS a,
         |             CAST(sum(1 - f) AS BIGINT) AS b,
         |             CAST(sum(f) + sum(1 - f) AS BIGINT) AS t
         |      FROM s GROUP BY x),
         |c AS (SELECT a, b, t,
         |        2 * (sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
         |          PRECEDING AND CURRENT ROW) - t) + t + 1 AS m2
         |      FROM g),
         |f2 AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
         |              CAST(sum(b) AS BIGINT) AS n2,
         |              sum(CAST(a AS HUGEINT) * m2) AS r1x2,
         |              sum(CAST(t AS HUGEINT) * t * t - t) AS tie_t
         |       FROM c)
         |SELECT n1 AS n_pos, n2 AS n_neg,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE $u1 END AS u_pos,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
         |       ELSE $u1 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         |       END AS auc,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
         |       ELSE CASE WHEN $varU <= 0.0 THEN NULL
         |            ELSE ($u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
         |                 / sqrt($varU) END END AS z
         |FROM f2""".stripMargin
    },

    // mirrors Selection.labelNoise: 10⁻⁶ score quantization, exact
    // integer threshold cross-multiplication (sq·n_j vs Σ_j), window
    // folds over the ≤6-row cell table
    "q_label_noise" ->
      s"""WITH $calibScoreCte,
         |sx AS (SELECT CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS sq,
         |              CASE WHEN label THEN 1 ELSE 0 END AS y
         |       FROM sc WHERE score IS NOT NULL AND label IS NOT NULL),
         |t AS (SELECT CAST(sum(CASE WHEN y = 1 THEN sq END) AS BIGINT) AS sum1,
         |             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |             CAST(sum(CASE WHEN y = 0 THEN -sq END) AS BIGINT) AS sum0,
         |             CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
         |      FROM sx),
         |a AS (SELECT CAST(y AS BIGINT) AS y,
         |             CASE WHEN coalesce(sq * n1 >= sum1, false)
         |                   AND coalesce((-sq) * n0 >= sum0, false)
         |                  THEN CASE WHEN sq >= 0 THEN 1 ELSE 0 END
         |                  WHEN coalesce(sq * n1 >= sum1, false) THEN 1
         |                  WHEN coalesce((-sq) * n0 >= sum0, false) THEN 0
         |                  END AS yhat
         |      FROM sx CROSS JOIN t),
         |cells AS (SELECT y, CAST(yhat AS BIGINT) AS yhat,
         |                 CAST(count(*) AS BIGINT) AS n_cell
         |          FROM a GROUP BY 1, 2)
         |SELECT y, yhat, n_cell,
         |       CAST(sum(n_cell) OVER () AS BIGINT) AS n_total,
         |       CAST(coalesce(sum(CASE WHEN yhat IS NOT NULL THEN n_cell END)
         |         OVER (), 0) AS BIGINT) AS n_assigned,
         |       CASE WHEN coalesce(sum(CASE WHEN yhat IS NOT NULL THEN n_cell
         |                 END) OVER (), 0) = 0 THEN NULL
         |            ELSE CAST(coalesce(sum(CASE WHEN yhat IS NOT NULL
         |                   AND yhat <> y THEN n_cell END) OVER (), 0)
         |                 AS DOUBLE)
         |                 / CAST(coalesce(sum(CASE WHEN yhat IS NOT NULL
         |                     THEN n_cell END) OVER (), 0) AS DOUBLE)
         |            END AS noise_est
         |FROM cells""".stripMargin,

    "q_iso_calibration" ->
      s"""WITH $calibScoreCte,
         |s2 AS (SELECT least(greatest(CAST(floor(score * 10) AS BIGINT), 0),
         |           9) AS bin,
         |         CASE WHEN label THEN 1 ELSE 0 END AS pos
         |       FROM sc WHERE score IS NOT NULL AND label IS NOT NULL),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(pos) AS BIGINT) AS npos FROM s2 GROUP BY bin),
         |p AS (SELECT bin, n, npos,
         |        CAST(sum(n) OVER w AS BIGINT) AS cn,
         |        CAST(sum(npos) OVER w AS BIGINT) AS cp
         |      FROM g WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW)),
         |segs AS (SELECT j.bin AS jb, k.bin AS kb,
         |           CAST(k.cp - j.cp + j.npos AS DOUBLE) /
         |             CAST(k.cn - j.cn + j.n AS DOUBLE) AS m
         |         FROM p j JOIN p k ON j.bin <= k.bin),
         |mins AS (SELECT p.bin, s.jb, min(s.m) AS minm
         |         FROM segs s JOIN p ON s.jb <= p.bin AND p.bin <= s.kb
         |         GROUP BY 1, 2),
         |iso AS (SELECT bin, max(minm) AS iso_pos FROM mins GROUP BY 1)
         |SELECT g.bin, g.n,
         |  CAST(g.npos AS DOUBLE) / CAST(g.n AS DOUBLE) AS frac_pos,
         |  iso.iso_pos
         |FROM g JOIN iso USING (bin)""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest($sqlFoldToks) AS t FROM documents
         |            WHERE text IS NOT NULL),
         |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tk
         |          GROUP BY t),
         |ranked AS (SELECT t, f,
         |    CAST(row_number() OVER (ORDER BY f DESC, t) AS BIGINT) AS rank,
         |    CAST(sum(f) OVER (ORDER BY f DESC, t ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM vocab),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS v_size,
         |          CAST(sum(f) AS BIGINT) AS total FROM vocab),
         |ks AS (SELECT CAST(unnest([${VocabKs.mkString(", ")}]) AS BIGINT)
         |         AS k)
         |SELECT k, least(k, v_size) AS n_types, cum AS mass,
         |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS frac_mass
         |FROM ks CROSS JOIN tot
         |JOIN ranked ON rank = least(k, v_size)""".stripMargin,

    "q_churn" ->
      """WITH a0 AS (SELECT DISTINCT user_id,
        |              epoch_us(ts) // 604800000000 AS wk FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT user_id, wk,
        |        min(wk) OVER (PARTITION BY user_id) AS firstwk FROM a0),
        |j AS (SELECT coalesce(c.user_id, p.user_id) AS u,
        |        coalesce(c.wk, p.wk) AS wk, c.firstwk,
        |        c.user_id IS NOT NULL AS in_cur,
        |        p.user_id IS NOT NULL AS in_prev
        |      FROM a c FULL OUTER JOIN
        |        (SELECT user_id, wk + 1 AS wk FROM a) p
        |        ON c.user_id = p.user_id AND c.wk = p.wk),
        |f AS (SELECT wk,
        |        CAST(sum(CASE WHEN in_cur THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_active,
        |        CAST(sum(CASE WHEN in_cur AND wk = firstwk THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_new,
        |        CAST(sum(CASE WHEN in_cur AND NOT in_prev AND wk > firstwk
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |        CAST(sum(CASE WHEN in_cur AND in_prev THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_retained,
        |        CAST(sum(CASE WHEN NOT in_cur THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_churned
        |      FROM j GROUP BY wk)
        |SELECT f.wk, n_active, n_new, n_resurrected, n_retained, n_churned,
        |  CASE WHEN n_retained + n_churned = 0 THEN NULL
        |       ELSE CAST(n_churned AS DOUBLE)
        |            / CAST(n_retained + n_churned AS DOUBLE)
        |  END AS churn_rate,
        |  CASE WHEN n_churned = 0 THEN NULL
        |       ELSE CAST(n_new + n_resurrected AS DOUBLE)
        |            / CAST(n_churned AS DOUBLE)
        |  END AS quick_ratio
        |FROM f JOIN (SELECT DISTINCT wk FROM a0) w ON f.wk = w.wk""".stripMargin,

    "q_mann_kendall" -> {
      val vn = "(CAST(n.n * (n.n - 1) * (2 * n.n + 5) AS HUGEINT) - tie_sum)"
      s"""WITH days AS (SELECT event_type AS k,
         |                epoch_us(ts) // 86400000000 AS d,
         |                CAST(count(*) AS BIGINT) AS c FROM events
         |              WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |              GROUP BY 1, 2),
         |s AS (SELECT l.k, CAST(sum(sign(r.c - l.c)) AS BIGINT) AS s_stat
         |      FROM days l JOIN days r ON l.k = r.k AND l.d < r.d
         |      GROUP BY 1),
         |n AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM days
         |      GROUP BY 1),
         |ties AS (SELECT k,
         |           sum(CAST(t * (t - 1) * (2 * t + 5) AS HUGEINT))
         |             AS tie_sum
         |         FROM (SELECT k, c, CAST(count(*) AS BIGINT) AS t
         |               FROM days GROUP BY 1, 2) tt GROUP BY 1)
         |SELECT n.k AS event_type, n.n, s.s_stat,
         |  CAST($vn AS BIGINT) AS var_num18,
         |  CASE WHEN n.n < 2 OR $vn <= 0 THEN NULL
         |       ELSE CASE
         |         WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
         |           / sqrt(CAST($vn AS DOUBLE) / 18.0)
         |         WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
         |           / sqrt(CAST($vn AS DOUBLE) / 18.0)
         |         ELSE 0.0 END END AS z
         |FROM n JOIN s USING (k) JOIN ties USING (k)""".stripMargin
    },

    "q_survival_km" ->
      s"""WITH v AS (SELECT user_id AS u, epoch_us(ts) AS t,
         |             event_type AS typ FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |             AND event_type IS NOT NULL),
         |hz AS (SELECT max(t) AS maxT FROM v),
         |pu AS (SELECT u, min(CASE WHEN typ = 'signup' THEN t END) AS t0,
         |         min(CASE WHEN typ = '$AttrTo' THEN t END) AS t1raw
         |       FROM v GROUP BY u),
         |pu2 AS (SELECT u, t0,
         |          CASE WHEN t1raw >= t0 THEN t1raw END AS t1 FROM pu
         |        WHERE t0 IS NOT NULL),
         |du AS (SELECT (coalesce(t1, maxT) - t0) // 86400000000 AS dur,
         |         t1 IS NOT NULL AS event FROM pu2 CROSS JOIN hz),
         |bd AS (SELECT dur, CAST(count(*) AS BIGINT) AS n_at,
         |         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
         |           AS d FROM du GROUP BY dur),
         |tt AS (SELECT CAST(sum(n_at) AS BIGINT) AS n_total FROM bd),
         |risk AS (SELECT dur,
         |           n_total - CAST(coalesce(sum(n_at) OVER (ORDER BY dur
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS BIGINT) AS n_risk, d
         |         FROM bd CROSS JOIN tt),
         |r2 AS (SELECT dur, n_risk, d FROM risk WHERE d > 0),
         |fs AS (SELECT list(struct_pack(dur := dur, n_risk := n_risk,
         |           d := d) ORDER BY dur) AS fs FROM r2)
         |SELECT r2.dur AS t_day, r2.n_risk, r2.d AS n_events,
         |  list_reduce(list_prepend(1.0,
         |    list_transform(list_filter(fs.fs, e -> e.dur <= r2.dur),
         |      e -> CAST(e.n_risk - e.d AS DOUBLE)
         |           / CAST(e.n_risk AS DOUBLE))),
         |    (a, b) -> a * b) AS survival
         |FROM r2 CROSS JOIN fs""".stripMargin,

    "q_lorenz" ->
      """WITH g AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |             CAST(count(*) AS BIGINT) AS cnt FROM documents
        |           WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, cnt, CAST(sum(cnt) OVER w AS BIGINT) AS cumcnt,
        |          sum(CAST(v * cnt AS HUGEINT)) OVER w AS cummass FROM g
        |        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |        sum(CAST(v * cnt AS HUGEINT)) AS total FROM g),
        |sp AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS p),
        |kk AS (SELECT p, (p * n) // 10 AS k, n, total
        |       FROM sp CROSS JOIN t),
        |j AS (SELECT kk.p, kk.k, cum.v, cum.cumcnt, cum.cummass, kk.n,
        |        kk.total,
        |        row_number() OVER (PARTITION BY kk.p ORDER BY cum.v) AS rn
        |      FROM cum CROSS JOIN kk WHERE cum.cumcnt >= kk.k)
        |SELECT p, k, v AS v_at,
        |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pop,
        |  CASE WHEN total = 0 THEN NULL
        |       ELSE CAST(cummass - CAST((cumcnt - k) * v AS HUGEINT)
        |              AS DOUBLE) / CAST(total AS DOUBLE)
        |  END AS frac_mass
        |FROM j WHERE rn = 1""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |tr AS (SELECT k, day, c,
        |         CAST(sum(c) OVER w AS DOUBLE)
        |           / CAST(count(*) OVER w AS DOUBLE) AS trend,
        |         (day + 4) % 7 AS dow
        |       FROM daily WINDOW w AS (PARTITION BY k ORDER BY day
        |         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT *, CAST(floor((CAST(c AS DOUBLE) - trend)
        |         * 1000000.0) AS BIGINT) AS dtq FROM tr),
        |se AS (SELECT k, dow,
        |         CAST(sum(dtq) AS DOUBLE) / 1000000.0
        |           / CAST(count(*) AS DOUBLE) AS seasonal
        |       FROM dt GROUP BY 1, 2)
        |SELECT dt.k AS event_type, dt.day, dt.dow, dt.c, dt.trend,
        |  se.seasonal,
        |  CAST(dt.c AS DOUBLE) - dt.trend - se.seasonal AS residual
        |FROM dt JOIN se ON se.k = dt.k AND se.dow = dt.dow""".stripMargin,

    "q_cohort_value" ->
      """WITH v AS (SELECT user_id AS u,
        |             epoch_us(ts) // 604800000000 AS wk,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND value IS NOT NULL),
        |puw AS (SELECT u, wk, CAST(sum(c) AS BIGINT) AS cw FROM v
        |        GROUP BY 1, 2),
        |p2 AS (SELECT u, wk, cw,
        |         min(wk) OVER (PARTITION BY u) AS cohort FROM puw),
        |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
        |          FROM p2 WHERE wk = cohort GROUP BY 1),
        |cells AS (SELECT cohort, wk - cohort AS "offset",
        |            CAST(count(*) AS BIGINT) AS n_active,
        |            CAST(sum(cw) AS BIGINT) AS value_c FROM p2
        |          GROUP BY 1, 2),
        |cc AS (SELECT cells.cohort, cells."offset", cells.n_active,
        |         sizes.n_cohort, cells.value_c,
        |         CAST(sum(value_c) OVER (PARTITION BY cells.cohort
        |           ORDER BY cells."offset" ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS BIGINT) AS cum_value_c
        |       FROM cells JOIN sizes USING (cohort))
        |SELECT cohort, "offset", n_active, n_cohort, value_c, cum_value_c,
        |  CAST(cum_value_c AS DOUBLE) / CAST(n_cohort AS DOUBLE) / 100.0
        |    AS cum_value_per_user
        |FROM cc""".stripMargin,

    "q_transition_latency" ->
      """WITH v AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
        |             event_type AS to_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND event_type IS NOT NULL),
        |p AS (SELECT to_type, lag(to_type) OVER w AS from_type,
        |        lag(t) OVER w AS from_t, t, id FROM v
        |      WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |d AS (SELECT from_type, to_type, t - from_t AS dt, t, id FROM p
        |      WHERE from_type IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY from_type, to_type
        |        ORDER BY dt, t, id) AS rn,
        |        count(*) OVER (PARTITION BY from_type, to_type) AS n FROM d)
        |SELECT from_type, to_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(dt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_gap_us,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dt END) AS BIGINT)
        |    AS median_gap_us,
        |  CAST(max(dt) AS BIGINT) AS max_gap_us
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_label_separation" ->
      """WITH base AS (SELECT vec_id, label AS g, embedding AS v
        |              FROM embeddings
        |              WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |cents AS (SELECT g, i AS pos,
        |    CAST(sum(CAST(floor(CAST(v[i+1] AS DOUBLE) * 1048576.0)
        |      AS BIGINT)) AS BIGINT) AS qsum,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM base, unnest(range(0, len(v))) AS u(i) GROUP BY 1, 2),
        |cv AS (SELECT g, pos, (CAST(qsum AS DOUBLE) / 1048576.0) / n AS c,
        |         n FROM cents),
        |norms AS (SELECT g,
        |    CAST(sum(CAST(floor(c * c * 1.0E9) AS BIGINT)) AS BIGINT) AS nq,
        |    CAST(max(n) AS BIGINT) AS n_members FROM cv GROUP BY g),
        |mem AS (SELECT b.g, b.vec_id AS mid,
        |    CAST(sum(CAST(floor(CAST(b.v[u.pos+1] AS DOUBLE) * cv.c * 1.0E9)
        |      AS BIGINT)) AS BIGINT) AS dq,
        |    CAST(sum(CAST(floor(CAST(b.v[u.pos+1] AS DOUBLE)
        |      * CAST(b.v[u.pos+1] AS DOUBLE) * 1.0E9) AS BIGINT)) AS BIGINT)
        |      AS mq
        |  FROM base b CROSS JOIN unnest(range(0, len(b.v))) AS u(pos)
        |  JOIN cv ON cv.g = b.g AND cv.pos = u.pos
        |  GROUP BY 1, 2),
        |memcos AS (SELECT m.g,
        |    CASE WHEN m.mq <= 0 OR n.nq <= 0 THEN NULL
        |         ELSE (CAST(m.dq AS DOUBLE) / 1.0E9)
        |              / (sqrt(CAST(m.mq AS DOUBLE) / 1.0E9)
        |                 * sqrt(CAST(n.nq AS DOUBLE) / 1.0E9)) END AS mc
        |  FROM mem m JOIN norms n ON n.g = m.g),
        |coh AS (SELECT g,
        |    CAST(sum(CAST(floor(mc * 1.0E9) AS BIGINT)) AS DOUBLE) / 1.0E9
        |      / CAST(count(mc) AS DOUBLE) AS coh
        |  FROM memcos GROUP BY g),
        |pd AS (SELECT a.g AS ga, b.g AS gb,
        |    CAST(sum(CAST(floor(a.c * b.c * 1.0E9) AS BIGINT)) AS BIGINT)
        |      AS dq
        |  FROM cv a JOIN cv b ON a.pos = b.pos AND a.g < b.g GROUP BY 1, 2)
        |SELECT pd.ga AS label_a, pd.gb AS label_b,
        |  na.n_members AS n_a, nb.n_members AS n_b,
        |  CASE WHEN na.nq <= 0 OR nb.nq <= 0 THEN NULL
        |       ELSE (CAST(pd.dq AS DOUBLE) / 1.0E9)
        |            / (sqrt(CAST(na.nq AS DOUBLE) / 1.0E9)
        |               * sqrt(CAST(nb.nq AS DOUBLE) / 1.0E9))
        |  END AS centroid_cos,
        |  ca.coh AS coh_a, cb.coh AS coh_b
        |FROM pd JOIN norms na ON na.g = pd.ga
        |JOIN norms nb ON nb.g = pd.gb
        |JOIN coh ca ON ca.g = pd.ga
        |JOIN coh cb ON cb.g = pd.gb""".stripMargin,

    "q_calibration_bins" ->
      s"""WITH $calibScoreCte,
         |s2 AS (SELECT least(greatest(CAST(floor(score * 10) AS BIGINT), 0),
         |           9) AS bin,
         |         CAST(floor(score * 1.0E9) AS BIGINT) AS sq,
         |         CASE WHEN label THEN 1 ELSE 0 END AS pos
         |       FROM sc WHERE score IS NOT NULL AND label IS NOT NULL),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(sq) AS BIGINT) AS sqs,
         |        CAST(sum(pos) AS BIGINT) AS npos FROM s2 GROUP BY bin),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
         |q AS (SELECT bin, n, sqs, npos, n_total,
         |        CAST(floor(abs(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)
         |            - CAST(sqs AS DOUBLE) / 1.0E9 / CAST(n AS DOUBLE))
         |          * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
         |          * 1.0E9) AS BIGINT) AS tq
         |      FROM g CROSS JOIN t)
         |SELECT bin, n,
         |  CAST(sqs AS DOUBLE) / 1.0E9 / CAST(n AS DOUBLE) AS mean_score,
         |  CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
         |  CAST(tq AS DOUBLE) / 1.0E9 AS ece_term,
         |  CAST(sum(tq) OVER () AS DOUBLE) / 1.0E9 AS ece
         |FROM q""".stripMargin,

    "q_attribution" ->
      s"""WITH v AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
         |             event_type AS typ FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |             AND event_type IS NOT NULL),
         |wl AS (SELECT typ, t,
         |         max(CASE WHEN typ = '$AttrFrom' THEN t END) OVER
         |           (PARTITION BY u ORDER BY t, id ROWS BETWEEN UNBOUNDED
         |            PRECEDING AND 1 PRECEDING) AS last_from FROM v),
         |conv AS (SELECT t - last_from AS lat FROM wl
         |         WHERE typ = '$AttrTo')
         |SELECT CAST(count(*) AS BIGINT) AS n_conversions,
         |  CAST(count(lat) AS BIGINT) AS n_attributed,
         |  CASE WHEN count(*) = 0 THEN NULL
         |       ELSE CAST(count(lat) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  END AS frac_attributed,
         |  CASE WHEN count(lat) = 0 THEN NULL
         |       ELSE CAST(sum(lat) AS DOUBLE) / CAST(count(lat) AS DOUBLE)
         |  END AS mean_latency_us,
         |  CAST(max(lat) AS BIGINT) AS max_latency_us
         |FROM conv""".stripMargin
  )
}
