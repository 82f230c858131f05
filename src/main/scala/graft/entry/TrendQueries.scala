package graft.entry

import graft.agg.{Aggregates, TimeSeries}
import graft.graph.Graph
import graft.llm.Dedup
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Trend/recommendation wave: item-item collaborative filtering,
  * rolling-window volume anomalies, lead–lag cross-correlation, Holt
  * double exponential smoothing, RFM segmentation, and
  * sorted-neighborhood dedup clusters. Operators live in
  * [[graft.graph.Graph]], [[graft.agg.TimeSeries]],
  * [[graft.agg.Aggregates]] and [[graft.llm.Dedup]].
  */
object TrendQueries {
  type Q = (SparkSession, String) => DataFrame

  /** CF knobs (shared with the oracle). */
  private val CfTopK = 50; private val CfMaxCtx = 128L
  /** Rolling-anomaly window (days) and σ multiplier. */
  private val RaWin = 7; private val RaK = 3
  /** Cross-correlation series + max lag. */
  private val XcA = "click"; private val XcB = "purchase"
  private val XcMaxLag = 7
  /** SNM pair knobs (the q_snm_dedup values). */
  private val SnmWin = 2; private val SnmKey = 40
  private val SnmPfx = 64; private val SnmDist = 8

  val queries: Map[String, Q] = Map(
    // "customers who bought X also bought Y": item-item cosine over
    // basket sets, degree-gated contexts, array-unrolled pairs
    "q_item_cf" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      Graph.cooccurrenceTopK(e, col("cust"), col("part"), CfTopK, CfMaxCtx)
    }),

    // per-type daily volume vs the trailing 7-day baseline — the
    // integer-exact 3σ spike flag plus its z-score
    "q_rolling_anomaly" -> ((s, d) =>
      TimeSeries.rollingAnomaly(Tables.events(s, d), col("event_type"),
        col("ts"), RaWin, RaK)
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // do purchases follow clicks? corr(click_d, purchase_{d+lag}),
    // lag 0..7 days, exact power sums per lag
    "q_xcorr" -> ((s, d) =>
      TimeSeries.crossCorr(Tables.events(s, d), col("event_type"),
        col("ts"), XcA, XcB, XcMaxLag)),

    // Holt level+trend per type — the trending-series smoother beside
    // q_ewma's level-only fold; identical sequential fold both engines
    "q_holt" -> ((s, d) =>
      TimeSeries.holt(Tables.events(s, d), col("event_type"), col("ts"),
        col("event_id"), col("value"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // RFM customer-value grid over orders — exact rank quintiles on
    // recency/frequency/monetary, the classic warehouse segmentation
    "q_rfm" -> ((s, d) =>
      Aggregates.rfm(Tables.orders(s, d), col("o_custkey"),
        col("o_orderdate").cast("timestamp"), col("o_totalprice"))
        .withColumnsRenamed(Map("e" -> "o_custkey"))),

    // entity resolution: SNM candidate pairs → transitive min-label
    // components — the cluster ids a MERGE step consumes
    "q_snm_clusters" -> ((s, d) => {
      val pairs = Dedup.snmPairs(Tables.documents(s, d), col("doc_id"),
        col("lang"), col("text"), SnmWin, SnmKey, SnmPfx, SnmDist)
      Dedup.nearDupComponents(pairs, col("id1"), col("id2"), iters = 5)
    }),

    // exact-dup cluster-size histogram — "what does dedup buy here?"
    // in one page: mass per cluster size, corpus fractions
    "q_dup_cluster_stats" -> ((s, d) =>
      Dedup.dupClusterStats(Tables.documents(s, d), col("text")))
  )

  /** The q_snm_dedup candidate CTE chain (identical knobs). */
  private def snmPairsCte: String =
    s"""d AS (SELECT doc_id, lang,
       |        substring($sqlFold, 1, $SnmPfx) AS p FROM documents
       |      WHERE doc_id IS NOT NULL AND lang IS NOT NULL
       |        AND text IS NOT NULL),
       |r AS (SELECT doc_id, lang, p,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY substring(p, 1, $SnmKey), doc_id) AS rn FROM d),
       |c AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS pa, b.p AS pb
       |      FROM r a JOIN r b ON a.lang = b.lang
       |        AND b.rn - a.rn BETWEEN 1 AND $SnmWin),
       |f AS (SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2,
       |        CAST(levenshtein(pa, pb) AS BIGINT) AS dist FROM c),
       |jp AS (SELECT id1, id2 FROM f WHERE dist <= $SnmDist)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_item_cf" ->
      s"""WITH raw AS (SELECT o_custkey AS c, l_partkey AS i
         |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |             WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
         |deg AS (SELECT c, count(DISTINCT i) AS deg FROM raw GROUP BY c),
         |keep AS (SELECT c FROM deg WHERE deg >= 2 AND deg <= $CfMaxCtx),
         |e AS (SELECT DISTINCT r.c, r.i FROM raw r JOIN keep USING (c)),
         |support AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i
         |            FROM e GROUP BY i),
         |p AS (SELECT a.i AS item_a, b.i AS item_b
         |      FROM e a JOIN e b ON a.c = b.c AND a.i < b.i),
         |g AS (SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_both
         |      FROM p GROUP BY 1, 2),
         |sc AS (SELECT g.item_a, g.item_b, g.n_both,
         |         sa.n_i AS n_a, sb.n_i AS n_b,
         |         CAST(g.n_both AS DOUBLE)
         |           / sqrt(CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE))
         |           AS cosine
         |       FROM g JOIN support sa ON sa.i = g.item_a
         |       JOIN support sb ON sb.i = g.item_b),
         |top AS (SELECT * FROM sc
         |        ORDER BY cosine DESC, item_a, item_b LIMIT $CfTopK)
         |SELECT item_a, item_b, n_both, n_a, n_b, cosine,
         |  CAST(row_number() OVER (ORDER BY cosine DESC, item_a, item_b)
         |    AS BIGINT) AS rank
         |FROM top""".stripMargin,

    "q_rolling_anomaly" -> {
      val varNum = "(CAST(q AS DOUBLE) * CAST(n_win AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
      s"""WITH daily AS (
         |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1, 2),
         |w AS (SELECT k, day, c,
         |        CAST(count(*) OVER win AS BIGINT) AS n_win,
         |        CAST(coalesce(sum(c) OVER win, 0) AS BIGINT) AS s,
         |        sum(CAST(c * c AS HUGEINT)) OVER win AS q
         |      FROM daily WINDOW win AS (PARTITION BY k ORDER BY day
         |        RANGE BETWEEN $RaWin PRECEDING AND 1 PRECEDING))
         |SELECT k AS event_type, day, c, n_win,
         |  CASE WHEN n_win = 0 THEN NULL
         |       ELSE CAST(s AS DOUBLE) / CAST(n_win AS DOUBLE) END AS mean_win,
         |  CASE WHEN n_win = 0 OR $varNum <= 0.0 THEN NULL
         |       ELSE CAST(c * n_win - s AS DOUBLE) / sqrt($varNum) END AS z,
         |  (n_win >= 3 AND CAST(c * n_win - s AS HUGEINT)
         |     * CAST(c * n_win - s AS HUGEINT)
         |     > ${RaK * RaK} * (q * n_win - CAST(s AS HUGEINT) * s))
         |    AS anomaly
         |FROM w""".stripMargin
    },

    "q_xcorr" -> {
      val den = "(sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
      s"""WITH counts AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day,
         |    CAST(sum(CASE WHEN event_type = '$XcA' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN event_type = '$XcB' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cb
         |  FROM events
         |  WHERE ts IS NOT NULL
         |    AND (event_type = '$XcA' OR event_type = '$XcB')
         |  GROUP BY 1),
         |p AS (SELECT l.lag, c1.ca AS x, c2.cb AS y
         |      FROM counts c1
         |      CROSS JOIN (SELECT unnest(range(0, ${XcMaxLag + 1})) AS lag) l
         |      JOIN counts c2 ON c2.day = c1.day + l.lag),
         |a AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        sum(CAST(x * y AS HUGEINT)) AS sxy,
         |        sum(CAST(x * x AS HUGEINT)) AS sxx,
         |        sum(CAST(y * y AS HUGEINT)) AS syy
         |      FROM p GROUP BY 1)
         |SELECT lag, n,
         |  CASE WHEN $den = 0.0 THEN NULL
         |       ELSE (CAST(sxy AS DOUBLE)
         |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |               / CAST(n AS DOUBLE)) / $den END AS corr
         |FROM a""".stripMargin
    },

    // identical sequential [level, trend] fold: init [x₀, x₁−x₀]
    // prepended, then l ← x/4 + (l+b)·0.75, b ← (l′−l)/4 + b·0.75.
    // The state is a 2-element DOUBLE LIST, deliberately NOT a struct:
    // DuckDB 1.0.0's list_reduce mis-evaluates struct-field lambdas
    // whose fields share a subexpression (verified: (a,e) ->
    // {l: (e.l+a.l)*2, b: (e.l+a.l)*2 - a.b} folds b wrong; the
    // list-state twin folds both fields correctly)
    "q_holt" -> {
      val lp = "(e[1] / 4.0 + (a[1] + a[2]) * 0.75)"
      s"""WITH v AS (SELECT event_type AS k, epoch_us(ts) AS t,
         |             event_id AS id,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events
         |           WHERE ts IS NOT NULL AND value IS NOT NULL),
         |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
         |        list([CAST(c AS DOUBLE), 0.0] ORDER BY t, id) AS xs
         |      FROM v GROUP BY 1),
         |f AS (SELECT k,
         |        list_reduce(list_prepend(
         |          [xs[1][1], xs[2][1] - xs[1][1]], xs[2:]),
         |          (a, e) -> [$lp,
         |            ($lp - a[1]) / 4.0 + a[2] * 0.75]) AS st
         |      FROM g WHERE n >= 2)
         |SELECT g.k AS event_type, g.n,
         |  CASE WHEN g.n < 2 THEN NULL ELSE f.st[1] / 100.0 END AS level,
         |  CASE WHEN g.n < 2 THEN NULL ELSE f.st[2] / 100.0 END AS trend,
         |  CASE WHEN g.n < 2 THEN NULL
         |       ELSE (f.st[1] + f.st[2]) / 100.0 END AS forecast1
         |FROM g LEFT JOIN f USING (k)""".stripMargin
    },

    "q_rfm" -> {
      // NULLS FIRST explicit — DuckDB defaults nulls-last where Spark
      // defaults nulls-first on ascending ranks
      def bk(m: String) =
        s"(5 * (row_number() OVER (ORDER BY $m NULLS FIRST, e) - 1)) // (count(*) OVER ()) + 1"
      s"""WITH per AS (
         |  SELECT o_custkey AS e,
         |    max(epoch_us(o_orderdate) // 86400000000) AS recency_day,
         |    CAST(count(*) AS BIGINT) AS frequency,
         |    CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
         |      AS BIGINT) AS monetary_c
         |  FROM orders WHERE o_custkey IS NOT NULL
         |    AND o_orderdate IS NOT NULL
         |  GROUP BY 1),
         |b AS (SELECT e, recency_day, frequency, monetary_c,
         |        ${bk("recency_day")} AS r,
         |        ${bk("frequency")} AS f,
         |        ${bk("monetary_c")} AS m
         |      FROM per)
         |SELECT e AS o_custkey, recency_day, frequency, monetary_c,
         |  CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
         |  CAST(m AS BIGINT) AS m,
         |  CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         |    AS segment
         |FROM b""".stripMargin
    },

    "q_dup_cluster_stats" ->
      """WITH cl AS (SELECT md5(text) AS h FROM documents
        |            WHERE text IS NOT NULL),
        |c2 AS (SELECT h, CAST(count(*) AS BIGINT) AS size FROM cl
        |       GROUP BY h),
        |hist AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
        |           CAST(sum(size) AS BIGINT) AS n_docs FROM c2
        |         GROUP BY size),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM hist)
        |SELECT size, n_clusters, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS frac_docs
        |FROM hist CROSS JOIN t""".stripMargin,

    "q_snm_clusters" -> {
      val steps = (1 to 5).map { i =>
        s"""l$i AS (
           |  SELECT l.node, least(l.label, COALESCE(m.nl, l.label)) AS label
           |  FROM l${i - 1} l LEFT JOIN (
           |    SELECT e.x AS node2, min(t.label) AS nl
           |    FROM edges e JOIN l${i - 1} t ON e.y = t.node GROUP BY e.x) m
           |  ON l.node = m.node2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $snmPairsCte,
         |edges AS (SELECT id1 AS x, id2 AS y FROM jp
         |          UNION ALL SELECT id2 AS x, id1 AS y FROM jp),
         |l0 AS (SELECT DISTINCT x AS node, x AS label FROM edges),
         |$steps
         |SELECT node AS doc_id, label AS component FROM l5""".stripMargin
    }
  )
}
