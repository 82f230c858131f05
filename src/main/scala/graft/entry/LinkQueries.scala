package graft.entry

import graft.agg.Inference
import graft.graph.Graph
import graft.join.Joins
import graft.llm.{Dedup, Selection, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** Linkage/dominance wave: Adamic–Adar link prediction,
  * interval×interval overlap join, sorted-neighborhood dedup,
  * deterministic bootstrap CI, margin-based neighbor scoring
  * (bitext-mining criterion), and the 2-D Pareto skyline. Operators
  * live in [[graft.graph.Graph]], [[graft.join.Joins]],
  * [[graft.llm.Dedup]], [[graft.agg.Inference]],
  * [[graft.llm.Similarity]] and [[graft.llm.Selection]].
  */
object LinkQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Adamic–Adar knobs (shared with the oracle). */
  private val AaTopK = 50; private val AaMaxDeg = 64L
  /** Session gap (30 min) and overlap grid (1 h), epoch µs. */
  private val GapUs = 1800000000L; private val GridUs = 3600000000L
  /** SNM knobs. */
  private val SnmWin = 2; private val SnmKey = 40
  private val SnmPfx = 64; private val SnmDist = 8
  /** Edit-distance truth-set knobs (the q_edit_dedup values). */
  private val EbBucket = 8; private val EbMaxDist = 8
  /** Blocking-recall probe slice: per-(lang, length-bucket) doc cap +
    * hash salt — bounds the truth side's per-cell quadratic to cap²
    * at any corpus size (the audit's lake-scale contract). */
  private val PrCap = 256; private val PrSalt = 7
  /** Margin-scoring knobs (the hubness/LOF panel conventions). */
  private val MgK = 4; private val MgMod = 4L; private val MgTopK = 32

  /** User sessions (gap-split at [[GapUs]]) as closed µs intervals. */
  private def sessions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("id"))
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id").as("id"))
      .withColumn("brk",
        when(col("t") - lag(col("t"), 1).over(w) > GapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t")).as("s_start"), max(col("t")).as("s_end"),
        count(lit(1)).as("n_events"))
  }

  /** Per-(event_type, epoch-day) activity bursts as µs intervals. */
  private def bursts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .groupBy(col("event_type"),
        call_function("div", col("t"), lit(86400000000L)).as("day"))
      .agg(min(col("t")).as("b_start"), max(col("t")).as("b_end"))

  val queries: Map[String, Q] = Map(
    // Adamic–Adar over the customer→part purchase graph: which two
    // customers buy the same NICHE parts — shared rare neighbors count
    // 1/ln(deg), hubs (> maxDeg buyers) excluded before the pair join
    "q_adamic_adar" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      Graph.adamicAdar(e, col("cust"), col("part"), AaTopK, AaMaxDeg)
        .withColumnsRenamed(Map("u" -> "cust_a", "v" -> "cust_b"))
    }),

    // sessions × event-type daily bursts overlap join (grid-bucketed
    // equi-join, overlap-start keep rule), aggregated per
    // (user, event_type): which feeds was each user's activity
    // concurrent with, and for how long
    "q_interval_join" -> ((s, d) =>
      Joins.intervalOverlapJoin(
        sessions(s, d), "s_start", "s_end",
        bursts(s, d), "b_start", "b_end", GridUs)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("overlap_us")).as("total_overlap_us"))),

    // sorted-neighborhood dedup: per-lang sort by 40-char folded
    // prefix, each record vs its next 2 neighbors, banded levenshtein
    // on the first 64 folded chars
    "q_snm_dedup" -> ((s, d) =>
      Dedup.snmPairs(Tables.documents(s, d), col("doc_id"), col("lang"),
        col("text"), SnmWin, SnmKey, SnmPfx, SnmDist)
        .select(col("id1"), col("id2"),
          col("dist").cast("long").as("dist"))),

    // deterministic 64-replicate half-sample bootstrap CI for mean
    // document length — content-hash membership, exact rank CI
    "q_bootstrap_ci" -> ((s, d) =>
      Inference.bootstrapCI(Tables.documents(s, d), col("doc_id"),
        col("n_chars"))),

    // margin-based neighbor scoring over the vec_id % 4 panel — the
    // bitext-mining criterion: cosine renormalized by both endpoints'
    // average k-NN similarity
    "q_margin_knn" -> ((s, d) =>
      Similarity.marginScores(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), MgK, MgMod, MgTopK)),

    // SNM candidate recall against the (lang, length-bucket) edit-
    // distance truth set — the blocking-scheme guardrail (the
    // q_minhash_accuracy convention applied to pair sets). SHIPPED as
    // the PROBE-SLICE form (r14 VERDICT item 5): the truth side is
    // per-cell quadratic BY DEFINITION, so the audit runs on a
    // per-(lang, length-bucket) hash-capped doc sample — every truth
    // pair lives inside one cell (or an adjacent-bucket pair of
    // cells), so cluster-capping cells subsamples pairs without
    // breaking them, and per-cell cost is ≤ cap² at ANY corpus size.
    // Below the cap (all driver corpora) the slice IS the full corpus
    // — values unchanged; the full form stays pinned in LinkageSpec.
    "q_blocking_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("lang"),
          call_function("div", col("n_chars"), lit(EbBucket.toLong)))
        .orderBy(graft.functions.GraftFunctions
          .md5Long(col("doc_id").cast("string"), PrSalt).asc_nulls_last,
          col("doc_id").asc_nulls_last)
      val probe = Tables.documents(s, d)
        .withColumn("__prn", row_number().over(w))
        .filter(col("__prn") <= PrCap).drop("__prn")
      Dedup.pairSetRecall(
        Dedup.snmPairs(probe, col("doc_id"), col("lang"), col("text"),
          SnmWin, SnmKey, SnmPfx, SnmDist),
        Dedup.editDistancePairs(probe, col("doc_id"), col("lang"),
          col("text"), col("n_chars"), EbBucket, EbMaxDist))
    }),

    // 2-D Pareto skyline of orders (maximize price and recency) — the
    // frontier no single score column can select
    "q_skyline" -> ((s, d) =>
      Selection.skyline2d(Tables.orders(s, d), col("o_orderkey"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)),
        // o_orderdate ships as TIMESTAMP_NTZ; the UTC-session cast to
        // TIMESTAMP reinterprets without shifting, matching epoch_us
        call_function("div",
          unix_micros(col("o_orderdate").cast("timestamp")),
          lit(86400000000L)))
        .withColumnsRenamed(Map("id" -> "o_orderkey", "x" -> "price_c",
          "y" -> "order_day")))
  )

  val oracle: Map[String, String] = Map(
    "q_adamic_adar" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey AS s, l_partkey AS w
         |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |           WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
         |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY w),
         |dw AS (SELECT w, CAST(floor(1.0 / ln(CAST(deg AS DOUBLE)) * 1.0E9)
         |         AS BIGINT) AS wq
         |       FROM deg WHERE deg >= 2 AND deg <= $AaMaxDeg),
         |p AS (SELECT a.s AS u, b.s AS v, d.wq
         |      FROM e a JOIN e b ON a.w = b.w AND a.s < b.s
         |      JOIN dw d ON d.w = a.w),
         |g AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
         |        CAST(sum(wq) AS BIGINT) AS sq FROM p GROUP BY u, v),
         |top AS (SELECT u, v, n_common, sq FROM g
         |        ORDER BY sq DESC, u, v LIMIT $AaTopK)
         |SELECT u AS cust_a, v AS cust_b, n_common,
         |  CAST(sq AS DOUBLE) / 1.0E9 AS aa_score,
         |  CAST(row_number() OVER (ORDER BY sq DESC, u, v) AS BIGINT) AS rank
         |FROM top""".stripMargin,

    "q_interval_join" ->
      s"""WITH s AS (SELECT user_id, epoch_us(ts) AS t, event_id AS id
         |           FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |g AS (SELECT user_id, t,
         |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id
         |          ORDER BY t, id) > $GapUs THEN 1 ELSE 0 END AS brk FROM s),
         |c AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id
         |        ORDER BY t) AS sid FROM g),
         |sess AS (SELECT user_id, sid, min(t) AS s_start, max(t) AS s_end
         |         FROM c GROUP BY 1, 2),
         |b AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |        min(epoch_us(ts)) AS b_start, max(epoch_us(ts)) AS b_end
         |      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |      GROUP BY 1, 2),
         |j AS (SELECT sess.user_id, b.event_type,
         |        least(s_end, b_end) - greatest(s_start, b_start) AS ov
         |      FROM sess JOIN b
         |        ON s_start <= b_end AND b_start <= s_end)
         |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_overlaps,
         |  CAST(sum(ov) AS BIGINT) AS total_overlap_us
         |FROM j GROUP BY 1, 2""".stripMargin,

    "q_snm_dedup" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |             substring($sqlFold, 1, $SnmPfx) AS p FROM documents
         |           WHERE doc_id IS NOT NULL AND lang IS NOT NULL
         |             AND text IS NOT NULL),
         |r AS (SELECT doc_id, lang, p,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY substring(p, 1, $SnmKey), doc_id) AS rn FROM d),
         |c AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS pa, b.p AS pb
         |      FROM r a JOIN r b ON a.lang = b.lang
         |        AND b.rn - a.rn BETWEEN 1 AND $SnmWin),
         |f AS (SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2,
         |        CAST(levenshtein(pa, pb) AS BIGINT) AS dist FROM c)
         |SELECT id1, id2, dist FROM f WHERE dist <= $SnmDist""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH s AS (SELECT doc_id AS id, n_chars AS x FROM documents
        |           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx FROM s),
        |reps AS (SELECT r, CAST(count(*) AS BIGINT) AS nr,
        |           CAST(sum(x) AS BIGINT) AS sr
        |         FROM s CROSS JOIN (SELECT unnest(range(0, 64)) AS r)
        |         WHERE CAST('0x' || substring(md5(CAST(id AS VARCHAR) || '|'
        |           || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
        |         GROUP BY r),
        |m AS (SELECT r, CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) AS m
        |      FROM reps),
        |rk AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rk FROM m),
        |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
        |         max(CASE WHEN rk = 4 THEN m END) AS ci_lo,
        |         max(CASE WHEN rk = 61 THEN m END) AS ci_hi FROM rk)
        |SELECT n, n_reps,
        |  CASE WHEN n = 0 THEN NULL
        |       ELSE CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_full,
        |  ci_lo, ci_hi
        |FROM f CROSS JOIN ci""".stripMargin,

    "q_margin_knn" -> {
      val denom = "((CAST(sq AS DOUBLE) / 1.0E9 / CAST(nk AS DOUBLE) + CAST(sqb AS DOUBLE) / 1.0E9 / CAST(nkb AS DOUBLE)) / 2.0)"
      s"""WITH p AS (SELECT vec_id, embedding AS v FROM embeddings
         |           WHERE vec_id % $MgMod = 0),
         |pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |         ${sqlCos("a.v", "b.v")} AS cos
         |       FROM p a JOIN p b ON a.vec_id <> b.vec_id),
         |knn AS (SELECT a, b, cos FROM (
         |    SELECT a, b, cos, row_number() OVER (PARTITION BY a
         |      ORDER BY cos DESC, b) AS rn FROM pr) t WHERE rn <= $MgK),
         |avg AS (SELECT a, CAST(sum(CAST(floor(cos * 1.0E9) AS BIGINT))
         |          AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS nk
         |        FROM knn GROUP BY a),
         |j AS (SELECT k.a, k.b, k.cos, x.sq, x.nk,
         |        y.sq AS sqb, y.nk AS nkb
         |      FROM knn k JOIN avg x ON x.a = k.a JOIN avg y ON y.a = k.b),
         |sc AS (SELECT a AS query_id, b AS neighbor_id, cos,
         |         CASE WHEN $denom <= 0.0 THEN NULL
         |              ELSE cos / $denom END AS margin FROM j),
         |top AS (SELECT query_id, neighbor_id, cos, margin FROM sc
         |        ORDER BY margin DESC NULLS LAST, query_id, neighbor_id
         |        LIMIT $MgTopK)
         |SELECT query_id, neighbor_id, cos, margin,
         |  CAST(row_number() OVER (ORDER BY margin DESC NULLS LAST,
         |    query_id, neighbor_id) AS BIGINT) AS rank
         |FROM top""".stripMargin
    },

    "q_blocking_recall" -> {
      val histSql = ('a' to 'z')
        .map(c => s"len(p) - len(replace(p, '$c', ''))")
        .mkString("[", ", ", "]")
      s"""WITH probe AS (
         |  SELECT doc_id, lang, text, n_chars FROM (
         |    SELECT doc_id, lang, text, n_chars,
         |      row_number() OVER (PARTITION BY lang, n_chars // $EbBucket
         |        ORDER BY CAST('0x'||substring(md5('$PrSalt|' ||
         |          CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) NULLS LAST,
         |          doc_id NULLS LAST) AS prn
         |    FROM documents) WHERE prn <= $PrCap),
         |sd AS (SELECT doc_id, lang,
         |              substring($sqlFold, 1, $SnmPfx) AS p FROM probe
         |            WHERE doc_id IS NOT NULL AND lang IS NOT NULL
         |              AND text IS NOT NULL),
         |sr AS (SELECT doc_id, lang, p,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY substring(p, 1, $SnmKey), doc_id) AS rn FROM sd),
         |sc AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS pa,
         |         b.p AS pb
         |       FROM sr a JOIN sr b ON a.lang = b.lang
         |         AND b.rn - a.rn BETWEEN 1 AND $SnmWin),
         |sf AS (SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2,
         |         levenshtein(pa, pb) AS dist FROM sc),
         |snm AS (SELECT DISTINCT id1, id2 FROM sf WHERE dist <= $SnmDist),
         |ed AS (SELECT doc_id, lang, $sqlFold AS p,
         |         n_chars // $EbBucket AS b FROM probe),
         |eh AS (SELECT doc_id, lang, p, b, $histSql AS hist FROM ed),
         |ec AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.p AS pa,
         |         b.p AS pb, a.hist AS ha, b.hist AS hb
         |       FROM eh a JOIN eh b ON a.lang = b.lang AND a.b = b.b
         |         AND a.doc_id < b.doc_id
         |       UNION ALL
         |       SELECT least(a.doc_id, b.doc_id),
         |         greatest(a.doc_id, b.doc_id),
         |         CASE WHEN a.doc_id < b.doc_id THEN a.p ELSE b.p END,
         |         CASE WHEN a.doc_id < b.doc_id THEN b.p ELSE a.p END,
         |         CASE WHEN a.doc_id < b.doc_id THEN a.hist ELSE b.hist END,
         |         CASE WHEN a.doc_id < b.doc_id THEN b.hist ELSE a.hist END
         |       FROM eh a JOIN eh b ON a.lang = b.lang AND a.b + 1 = b.b),
         |ef AS (SELECT id1, id2, levenshtein(pa, pb) AS dist
         |       FROM ec
         |       WHERE list_sum(list_transform(range(1, 27),
         |         k -> abs(ha[CAST(k AS INTEGER)] - hb[CAST(k AS INTEGER)])))
         |         <= ${2 * EbMaxDist}),
         |truth AS (SELECT DISTINCT id1, id2 FROM ef
         |          WHERE dist <= $EbMaxDist),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_shared
         |       FROM snm JOIN truth USING (id1, id2)),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM snm),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
         |SELECT n_cand, n_truth, n_shared,
         |  CASE WHEN n_truth = 0 THEN NULL
         |       ELSE CAST(n_shared AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |  END AS recall,
         |  CASE WHEN n_cand = 0 THEN NULL
         |       ELSE CAST(n_shared AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |  END AS precision
         |FROM nc CROSS JOIN nt CROSS JOIN st""".stripMargin
    },

    "q_skyline" ->
      """WITH pts AS (
        |  SELECT o_orderkey AS id,
        |         CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS x,
        |         epoch_us(o_orderdate) // 86400000000 AS y
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |gx AS (SELECT x, max(y) AS maxy FROM pts GROUP BY x),
        |sky AS (SELECT x, maxy,
        |          CAST(row_number() OVER (ORDER BY x DESC) AS BIGINT) AS rank
        |        FROM (SELECT x, maxy,
        |                max(maxy) OVER (ORDER BY x DESC ROWS BETWEEN
        |                  UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |              FROM gx) t
        |        WHERE pm IS NULL OR maxy > pm)
        |SELECT p.id AS o_orderkey, p.x AS price_c, p.y AS order_day, s.rank
        |FROM pts p JOIN sky s ON p.x = s.x AND p.y = s.maxy""".stripMargin
  )
}
