package graft.entry

import graft.agg.{RobustStats, TimeSeries}
import graft.llm.{Dedup, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Distribution-shape QA + corpus-maintenance wave: Benford
  * first-digit audit, median/MAD robust outliers, two-sample KS drift,
  * Gini source concentration, lag-1 autocorrelation, SAX shape words,
  * BPE merge-pair scoring, edit-distance near-dup pairs, and CDC
  * changelog apply. Operators live in [[graft.agg.RobustStats]],
  * [[graft.agg.TimeSeries]], [[graft.llm.TextAnalysis]] and
  * [[graft.llm.Dedup]]; every hash/quantization/guard below embeds
  * token-identically in the DuckDB twins.
  */
object StatsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Edit-distance family knobs (shared with the oracle texts). */
  private val EditBucket  = 8
  private val EditMaxDist = 8

  val queries: Map[String, Q] = Map(
    // Benford first-digit conformance of order totals — ≤9-key
    // map-combined groupBy + a broadcast 1-row total; the nine log10
    // expectations are shared literals, no libm call on either engine
    "q_benford" -> ((s, d) =>
      RobustStats.benford(Tables.orders(s, d), col("o_totalprice"))),

    // per-type robust outlier profile: lower median / lower MAD by
    // exact rank selection, integer |x-med| > 3·MAD flags — one window
    // shuffle (reused sort) + two broadcast median joins
    "q_mad_outliers" -> ((s, d) =>
      RobustStats.madOutliers(Tables.events(s, d), col("event_type"),
        col("event_id"), col("value"))
        .withColumnsRenamed(Map("g" -> "event_type"))),

    // KS drift between en and non-en length distributions: integer
    // ECDF numerators, one division after the argmax
    "q_ks_drift" -> ((s, d) =>
      RobustStats.ksTwoSample(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en")),

    // per-source Gini concentration of the char mass — rank window +
    // agg on one partitioning
    "q_gini" -> ((s, d) =>
      RobustStats.gini(Tables.documents(s, d), col("source"),
        col("doc_id"), col("n_chars"))
        .withColumnsRenamed(Map("g" -> "source"))),

    // lag-1 autocorrelation per event type — lag window + the q_corr
    // exact-power-sum discipline, one shuffle
    "q_autocorr" -> ((s, d) =>
      TimeSeries.autocorrLag1(Tables.events(s, d), col("event_type"),
        col("ts"), col("event_id"), col("value"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // SAX shape word per event type: 16 PAA frames, 4-symbol rank
    // quantization — integer frame math, one division for the rank key
    "q_sax" -> ((s, d) =>
      TimeSeries.saxWord(Tables.events(s, d), col("event_type"),
        col("ts"), col("value"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // BPE merge-pair scoring over the folded token vocabulary —
    // explode runs on the vocab, never the token stream
    "q_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, d), col("text"))
        .select(col("pair"), col("n"), col("rank"))),

    // edit-distance near-dup pairs: (lang, len-bucket) blocking →
    // char-histogram L1 gate → banded levenshtein (oracle runs the
    // full DP — identical kept rows)
    "q_edit_dedup" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d), col("doc_id"),
        col("lang"), col("text"), col("n_chars"), EditBucket, EditMaxDist)
        .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))),

    // CDC changelog apply (MERGE as one full-outer join): the
    // changelog derives deterministically from doc_id so both engines
    // build the identical delete/update/insert set. Insert ids live in
    // the disjoint (max_id, max_id + doc_id + 1] namespace — a fixed
    // offset would collide with an existing base row on any corpus
    // whose ids reach it, silently overwriting the base row
    "q_merge_apply" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        col("lang"))
      val deletes = base.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("new_text"),
          lit(null).cast("string").as("new_lang"))
      val updates = base.filter(col("doc_id") % 7 === 0 &&
          col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), lit("U").as("op"),
          upper(substring(col("text"), 1, 40)).as("new_text"),
          col("lang").as("new_lang"))
      val maxId = base.agg(max(col("doc_id")).as("max_id"))
      val inserts = base.filter(col("doc_id") % 13 === 1)
        .crossJoin(broadcast(maxId))
        .select((col("doc_id") + col("max_id") + lit(1L)).as("doc_id"),
          lit("I").as("op"),
          concat(lit("INS:"), substring(col("text"), 1, 40)).as("new_text"),
          col("lang").as("new_lang"))
      Dedup.applyChangelog(base, deletes.unionByName(updates)
        .unionByName(inserts), "doc_id")
    }),

    // Mann–Whitney U rank drift between en and non-en length
    // distributions — the location question KS doesn't ask; integer
    // 2×midrank algebra, one domain window, tie-corrected z
    "q_rank_drift" -> ((s, d) =>
      RobustStats.mannWhitney(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en")),

    // chi-square independence of source × lang + Cramér's V — full
    // r×c spine, PSI fixed-point term quantization so the total is an
    // exact integer sum
    "q_chi2_indep" -> ((s, d) =>
      RobustStats.chi2Independence(Tables.documents(s, d), col("source"),
        col("lang"))
        .withColumnsRenamed(Map("r" -> "source", "c" -> "lang"))),

    // per-type EWMA level (α=1/4): identical sequential fold on both
    // engines — the one estimator where op ORDER is the spec
    "q_ewma" -> ((s, d) =>
      TimeSeries.ewma(Tables.events(s, d), col("event_type"), col("ts"),
        col("event_id"), col("value"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // Theil–Sen robust volume trend per type over daily counts —
    // exact middle order statistics, pair join on the DAY table only
    "q_theil_sen" -> ((s, d) =>
      TimeSeries.theilSen(Tables.events(s, d), col("event_type"), col("ts"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // trimmed + winsorized per-type means — integer trim boundary,
    // exact kept-range order statistics, one shuffle (gini shape)
    "q_robust_mean" -> ((s, d) =>
      RobustStats.robustMean(Tables.events(s, d), col("event_type"),
        col("event_id"), col("value"))
        .withColumnsRenamed(Map("g" -> "event_type"))),

    // first-order event-type Markov transitions per user stream —
    // exact counts/marginals, one probability division per cell
    "q_markov" -> ((s, d) =>
      TimeSeries.markovTransitions(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_id"), col("event_type")))
  )

  // ======================================================================
  // DuckDB oracle twins. Sums are CAST to BIGINT (HUGEINT is
  // pandas-lossy in the driver), every emitted double's expression
  // mirrors the Spark op order token-for-token, and the Benford
  // expectations are the same nine shortest-round-trip literals.
  // ======================================================================

  /** log10(1+1/d) d=1..9 — identical literal texts to RobustStats. */
  private val BenfordPSql =
    Seq("0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
      "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
      "0.05799194697768673", "0.05115252244738129", "0.04575749056067514")
      .map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")

  /** 26-letter frequency histogram of a folded text column `p`. */
  private val HistSql = ('a' to 'z')
    .map(c => s"len(p) - len(replace(p, '$c', ''))")
    .mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(
    "q_benford" ->
      s"""WITH c AS (SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c
         |           FROM orders),
         |d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
         |        AS digit FROM c WHERE c > 0),
         |cnt AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
         |spine AS (SELECT unnest(range(1, 10)) AS digit),
         |g AS (SELECT s.digit, coalesce(cnt.n_obs, 0) AS n_obs
         |      FROM spine s LEFT JOIN cnt USING (digit)),
         |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g)
         |SELECT g.digit, g.n_obs, t.n_total,
         |  ($BenfordPSql)[CAST(g.digit AS INTEGER)] AS p_expected,
         |  CAST(t.n_total AS DOUBLE) * ($BenfordPSql)[CAST(g.digit AS INTEGER)]
         |    AS expected,
         |  CASE WHEN t.n_total = 0 THEN NULL
         |    ELSE (CAST(g.n_obs AS DOUBLE)
         |     - CAST(t.n_total AS DOUBLE) * ($BenfordPSql)[CAST(g.digit AS INTEGER)])
         |  * (CAST(g.n_obs AS DOUBLE)
         |     - CAST(t.n_total AS DOUBLE) * ($BenfordPSql)[CAST(g.digit AS INTEGER)])
         |  / (CAST(t.n_total AS DOUBLE) * ($BenfordPSql)[CAST(g.digit AS INTEGER)])
         |  END AS chi2_term
         |FROM g CROSS JOIN t""".stripMargin,

    "q_mad_outliers" ->
      """WITH v AS (SELECT event_type AS g, event_id AS id,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE value IS NOT NULL),
        |m AS (SELECT g, id, c,
        |        row_number() OVER (PARTITION BY g ORDER BY c, id) AS rn,
        |        count(*) OVER (PARTITION BY g) AS n FROM v),
        |med AS (SELECT g, c AS med_c FROM m WHERE rn = (n + 1) // 2),
        |dev AS (SELECT v.g, v.id, abs(v.c - med.med_c) AS ad, med.med_c
        |        FROM v JOIN med USING (g)),
        |m2 AS (SELECT g, ad,
        |         row_number() OVER (PARTITION BY g ORDER BY ad, id) AS rn2,
        |         count(*) OVER (PARTITION BY g) AS n2 FROM dev),
        |mad AS (SELECT g, ad AS mad_c FROM m2 WHERE rn2 = (n2 + 1) // 2)
        |SELECT d.g AS event_type, count(*) AS n,
        |  CAST(min(d.med_c) AS DOUBLE) / 100.0 AS median_value,
        |  CAST(min(mad.mad_c) AS DOUBLE) / 100.0 AS mad_value,
        |  CAST(sum(CASE WHEN d.ad > 3 * mad.mad_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  CAST(max(d.ad) AS DOUBLE) / 100.0 AS max_abs_dev
        |FROM dev d JOIN mad USING (g)
        |GROUP BY d.g""".stripMargin,

    "q_ks_drift" ->
      """WITH s AS (SELECT n_chars AS x,
        |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f
        |           FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT x, CAST(sum(f) AS BIGINT) AS a,
        |        CAST(sum(1 - f) AS BIGINT) AS b FROM s GROUP BY x),
        |c AS (SELECT x, CAST(sum(a) OVER (ORDER BY x) AS BIGINT) AS c1,
        |        CAST(sum(b) OVER (ORDER BY x) AS BIGINT) AS c2 FROM g),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |        CAST(sum(b) AS BIGINT) AS n2 FROM g),
        |d AS (SELECT c.x, abs(c.c1 * t.n2 - c.c2 * t.n1) AS d_num,
        |        t.n1, t.n2 FROM c CROSS JOIN t)
        |SELECT n1, n2, x AS x_at,
        |  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    AS d_stat
        |FROM d ORDER BY d_num DESC, x ASC LIMIT 1""".stripMargin,

    "q_gini" ->
      """WITH r AS (SELECT source AS g, n_chars AS x,
        |        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |          AS i FROM documents WHERE n_chars IS NOT NULL)
        |SELECT g AS source, count(*) AS n, CAST(sum(x) AS BIGINT) AS total_chars,
        |  CASE WHEN sum(x) = 0 THEN NULL
        |       ELSE 2.0 * CAST(sum(CAST(i * x AS DECIMAL(38,0))) AS DOUBLE)
        |              / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
        |            - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE)
        |  END AS gini
        |FROM r GROUP BY g""".stripMargin,

    "q_autocorr" ->
      """WITH v AS (SELECT event_type, event_id, ts,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE ts IS NOT NULL AND value IS NOT NULL),
        |p AS (SELECT event_type, c AS y,
        |        lag(c) OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |          AS x FROM v),
        |a AS (SELECT event_type, count(*) AS n,
        |        sum(x) AS sx, sum(y) AS sy,
        |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
        |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |        sum(CAST(y * y AS DECIMAL(38,0))) AS syy
        |      FROM p WHERE x IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |          * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) = 0.0
        |       THEN NULL
        |       ELSE (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |            / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |             * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
        |  END AS corr_lag1
        |FROM a""".stripMargin,

    "q_sax" ->
      """WITH v AS (SELECT event_type, epoch_us(ts) AS t,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT event_type, t, c,
        |        min(t) OVER (PARTITION BY event_type) AS t0,
        |        max(t) OVER (PARTITION BY event_type) AS t1 FROM v),
        |b AS (SELECT event_type, ((t - t0) * 16) // (t1 - t0 + 1) AS frame, c
        |      FROM w),
        |g AS (SELECT event_type, frame, CAST(sum(c) AS BIGINT) AS s,
        |        count(*) AS cnt FROM b GROUP BY event_type, frame),
        |r AS (SELECT event_type, frame,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY CAST(s AS DOUBLE) / cnt, frame) AS rk,
        |        count(*) OVER (PARTITION BY event_type) AS nb FROM g),
        |sym AS (SELECT event_type, frame,
        |          chr(CAST(97 + (4 * (rk - 1)) // nb AS INTEGER)) AS sym FROM r)
        |SELECT event_type, count(*) AS n_buckets,
        |  string_agg(sym, '' ORDER BY frame) AS sax_word
        |FROM sym GROUP BY event_type""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH toks AS (SELECT unnest(list_filter(
         |        string_split($sqlFold, ' '), t -> len(t) > 0)) AS w
         |      FROM documents),
         |wc AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
         |pairs AS (SELECT unnest(list_transform(range(1, len(w)),
         |            i -> substring(w, CAST(i AS INTEGER), 2))) AS pair, cnt
         |          FROM wc WHERE len(w) >= 2),
         |pc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM pairs
         |       GROUP BY pair),
         |top AS (SELECT pair, n FROM pc ORDER BY n DESC, pair LIMIT 32)
         |SELECT pair, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
         |FROM top""".stripMargin,

    "q_edit_dedup" ->
      s"""WITH d AS (SELECT doc_id, lang, $sqlFold AS p,
         |             n_chars // $EditBucket AS b FROM documents),
         |h AS (SELECT doc_id, lang, p, b, $HistSql AS hist FROM d),
         |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.p AS pa, b.p AS pb,
         |        a.hist AS ha, b.hist AS hb
         |      FROM h a JOIN h b ON a.lang = b.lang AND a.b = b.b
         |        AND a.doc_id < b.doc_id
         |      UNION ALL
         |      SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id),
         |        CASE WHEN a.doc_id < b.doc_id THEN a.p ELSE b.p END,
         |        CASE WHEN a.doc_id < b.doc_id THEN b.p ELSE a.p END,
         |        CASE WHEN a.doc_id < b.doc_id THEN a.hist ELSE b.hist END,
         |        CASE WHEN a.doc_id < b.doc_id THEN b.hist ELSE a.hist END
         |      FROM h a JOIN h b ON a.lang = b.lang AND a.b + 1 = b.b),
         |f AS (SELECT id1, id2, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
         |      FROM c
         |      WHERE list_sum(list_transform(range(1, 27),
         |        k -> abs(ha[CAST(k AS INTEGER)] - hb[CAST(k AS INTEGER)])))
         |        <= ${2 * EditMaxDist})
         |SELECT id1, id2, dist FROM f WHERE dist <= $EditMaxDist""".stripMargin,

    "q_merge_apply" ->
      """WITH base AS (SELECT doc_id, text, lang FROM documents),
        |mx AS (SELECT max(doc_id) AS max_id FROM base),
        |changes AS (
        |  SELECT doc_id, 'D' AS op, CAST(NULL AS VARCHAR) AS new_text,
        |         CAST(NULL AS VARCHAR) AS new_lang
        |    FROM base WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id, 'U', upper(substring(text, 1, 40)), lang
        |    FROM base WHERE doc_id % 7 = 0 AND doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT b.doc_id + mx.max_id + 1, 'I',
        |         'INS:' || substring(b.text, 1, 40), b.lang
        |    FROM base b CROSS JOIN mx WHERE b.doc_id % 13 = 1),
        |m AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id, b.text AS old_text,
        |        b.lang AS old_lang, c.op, c.new_text, c.new_lang
        |      FROM base b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id)
        |SELECT doc_id,
        |  CASE WHEN op = 'U' THEN 'update' WHEN op = 'I' THEN 'insert'
        |       ELSE 'keep' END AS op_applied,
        |  md5(CASE WHEN op IS NULL THEN old_text ELSE new_text END)
        |    AS content_hash,
        |  coalesce(new_lang, old_lang) AS lang_final
        |FROM m WHERE op IS NULL OR op <> 'D'""".stripMargin,

    // 2×midrank integer rank algebra; u1/z single shared double
    // expressions; tie cubes in HUGEINT (Spark: DECIMAL(38,0))
    "q_rank_drift" -> {
      val nd = "CAST(n1 + n2 AS DOUBLE)"
      val u1 = "((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0)"
      val varU = s"(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 * " +
        s"(($nd + 1.0) - CAST(tie_t AS DOUBLE) / ($nd * ($nd - 1.0))))"
      s"""WITH s AS (
         |  SELECT n_chars AS x,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f
         |  FROM documents WHERE n_chars IS NOT NULL),
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
         |SELECT n1, n2, CAST(r1x2 AS BIGINT) AS r1_times2,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE $u1 END AS u1,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
         |       ELSE CASE WHEN $varU <= 0.0 THEN NULL
         |            ELSE ($u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
         |                 / sqrt($varU) END END AS z
         |FROM f2""".stripMargin
    },

    // full r×c spine with coalesced zero cells; chi² terms quantized
    // floor(·10⁹) LONG so total and V are accumulation-order-exact
    "q_chi2_indep" -> {
      val exp = "CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE) / CAST(n_total AS DOUBLE)"
      s"""WITH s AS (SELECT source AS r, lang AS c FROM documents
         |           WHERE source IS NOT NULL AND lang IS NOT NULL),
         |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n_obs
         |          FROM s GROUP BY 1, 2),
         |rm AS (SELECT r, CAST(sum(n_obs) AS BIGINT) AS n_r
         |       FROM cells GROUP BY 1),
         |cm AS (SELECT c, CAST(sum(n_obs) AS BIGINT) AS n_c
         |       FROM cells GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rm) AS r_card,
         |               (SELECT CAST(count(*) AS BIGINT) FROM cm) AS c_card,
         |               (SELECT CAST(sum(n_r) AS BIGINT) FROM rm) AS n_total),
         |g AS (SELECT rm.r, cm.c, rm.n_r, cm.n_c,
         |             COALESCE(cells.n_obs, 0) AS n_obs
         |      FROM rm CROSS JOIN cm
         |      LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c),
         |e AS (SELECT g.*, t.n_total, t.r_card, t.c_card, $exp AS expected
         |      FROM g CROSS JOIN tot t),
         |q AS (SELECT *, CAST(floor((CAST(n_obs AS DOUBLE) - expected)
         |        * (CAST(n_obs AS DOUBLE) - expected) / expected
         |        * 1000000000.0) AS BIGINT) AS tq FROM e)
         |SELECT r AS source, c AS lang, n_obs, n_r, n_c, n_total, expected,
         |  CAST(tq AS DOUBLE) / 1000000000.0 AS chi2_term,
         |  CAST(sum(tq) OVER () AS DOUBLE) / 1000000000.0 AS chi2,
         |  CASE WHEN least(r_card - 1, c_card - 1) = 0 THEN NULL
         |       ELSE sqrt((CAST(sum(tq) OVER () AS DOUBLE) / 1000000000.0)
         |            / (CAST(n_total AS DOUBLE)
         |               * CAST(least(r_card - 1, c_card - 1) AS DOUBLE)))
         |  END AS cramers_v
         |FROM q""".stripMargin
    },

    // identical sequential left fold over the (ts, id)-ordered series
    // (list_reduce seeds with the first element, as the Spark
    // aggregate() over slice(arr, 2, n-1) does)
    "q_ewma" ->
      """WITH v AS (SELECT event_type AS k, epoch_us(ts) AS t, event_id AS id,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE ts IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |             list(CAST(c AS DOUBLE) ORDER BY t, id) AS xs
        |      FROM v GROUP BY 1)
        |SELECT k AS event_type, n,
        |       xs[len(xs)] / 100.0 AS last_value,
        |       list_reduce(xs, (a, b) -> a + (b - a) / 4.0) / 100.0 AS ewma
        |FROM g""".stripMargin,

    // pairwise slopes on the per-type DAY table; median is
    // (min+max)/2.0 over the exact middle order statistics
    "q_theil_sen" ->
      """WITH days AS (
        |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT l.k,
        |        CAST(r.c - l.c AS DOUBLE) / CAST(r.d - l.d AS DOUBLE) AS slope
        |      FROM days l JOIN days r ON l.k = r.k AND l.d < r.d),
        |w AS (SELECT k, slope,
        |        row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
        |        count(*) OVER (PARTITION BY k) AS np FROM p)
        |SELECT k AS event_type, CAST(max(np) AS BIGINT) AS n_pairs,
        |       (min(slope) + max(slope)) / 2.0 AS slope_per_day
        |FROM w WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |GROUP BY 1""".stripMargin,

    // integer trim cut n//20, kept-range min/max clamp, HUGEINT sums
    // (Spark: DECIMAL(38,0)), one division per mean
    "q_robust_mean" ->
      """WITH v AS (SELECT event_type AS g, event_id AS id,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
        |           WHERE value IS NOT NULL),
        |r AS (SELECT g, c,
        |        CAST(row_number() OVER (PARTITION BY g ORDER BY c, id)
        |          AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v),
        |k AS (SELECT g, c, n, (n * 1) // 20 AS cut,
        |        (r > (n * 1) // 20 AND r <= n - (n * 1) // 20) AS kept
        |      FROM r),
        |b AS (SELECT g, c, n, cut, kept,
        |        min(CASE WHEN kept THEN c END) OVER (PARTITION BY g) AS lo,
        |        max(CASE WHEN kept THEN c END) OVER (PARTITION BY g) AS hi
        |      FROM k)
        |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(cut) AS BIGINT) AS n_cut,
        |  CASE WHEN sum(CASE WHEN kept THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(sum(CASE WHEN kept THEN CAST(c AS HUGEINT) END)
        |           AS DOUBLE)
        |         / CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
        |         / 100.0 END AS trimmed_mean,
        |  CASE WHEN sum(CASE WHEN kept THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(sum(CAST(least(greatest(c, lo), hi) AS HUGEINT))
        |           AS DOUBLE)
        |         / CAST(max(n) AS DOUBLE) / 100.0 END AS winsorized_mean
        |FROM b GROUP BY 1""".stripMargin,

    "q_markov" ->
      """WITH v AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
        |             event_type AS to_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND event_type IS NOT NULL),
        |p AS (SELECT u, to_type,
        |        lag(to_type) OVER (PARTITION BY u ORDER BY t, id)
        |          AS from_type FROM v),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, m.n_from,
        |       CAST(c.n AS DOUBLE) / CAST(m.n_from AS DOUBLE) AS p
        |FROM c JOIN m USING (from_type)""".stripMargin
  )
}
