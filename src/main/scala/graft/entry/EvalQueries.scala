package graft.entry

import graft.agg.TimeSeries
import graft.llm.{Selection, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Round-13 wave: readability scoring, conditional-bigram-entropy
  * repetitiveness, and CUSUM changepoint detection — plus the
  * retrieval-evaluation / normalization operators that join them in
  * this file. Operators live in [[graft.llm.TextAnalysis]],
  * [[graft.agg.TimeSeries]], [[graft.llm.Selection]] and
  * [[graft.llm.Similarity]]; every quantization/guard embeds
  * token-identically in the DuckDB twins.
  */
object EvalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Ranking-eval panel modulus / list depth (shared with the oracle).
    * 1-in-20 ≈ 100 queries at sf0.1 — per-query metrics are
    * independent, so the panel size trades audit precision for pair
    * count exactly like the hubness modulus. */
  private val RankMod = 20L; private val RankK = 10
  /** JL target dim / pair-panel modulus. */
  private val JlK = 16; private val JlMod = 23L
  /** Mahalanobis outlier threshold (mean z² per live dimension). */
  private val OutlierThresh = 4.0
  /** Neyman allocation budget (docs). */
  private val NeymanBudget = 100L

  val queries: Map[String, Q] = Map(
    // NDCG@10 / MRR / hits@10 of the SQ8 quantized retriever against
    // exact-cosine graded relevance, per 1-in-8 panel query — the
    // ORDER-quality eval beside q_ann_sq8_recall's set-quality floor;
    // a small corpus scores in one task, a large one spreads to the cores;
    // the SQ8 [min,max] calibration is one eager stats job per build
    "q_rank_eval" -> ((s, d) =>
      Similarity.rankingMetrics(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"),
        Similarity.sqTrain(Tables.embeddings(s, d), col("embedding")),
        RankK, RankMod)),

    // diagonal-Mahalanobis embedding outliers from the dimStats
    // calibration — zero-shuffle projection against literal μ/σ state
    "q_embed_outliers" -> ((s, d) =>
      Similarity.embedOutliers(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"),
        Similarity.embedOutlierStats(Tables.embeddings(s, d),
          col("embedding")), OutlierThresh)),

    // JL ±1 random projection to 16 dims + distance-preservation audit
    // on adjacent-id pairs — exact integer squared distances
    "q_random_projection" -> ((s, d) =>
      Similarity.jlPairCheck(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), JlK, JlMod)),
    // Flesch reading ease + FK grade — zero-shuffle codegen
    // projection; exact integer word/sentence/vowel-run counts
    "q_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d), col("doc_id"),
        col("text"))),

    // conditional bigram entropy H(next|current) per doc — the
    // transition-repetitiveness signal; fixed-point ln terms
    "q_bigram_entropy" -> ((s, d) =>
      TextAnalysis.bigramEntropy(Tables.documents(s, d), col("doc_id"),
        col("text"))),

    // CUSUM level-shift changepoint per event type — exact integer
    // argmax of |C_i·n − i·S|, one shuffle + two per-key sorts
    "q_cusum" -> ((s, d) =>
      TimeSeries.cusumChangepoint(Tables.events(s, d), col("event_type"),
        col("ts"), col("event_id"), col("value"))
        .withColumnsRenamed(Map("k" -> "event_type"))),

    // cross-source quantile normalization of doc length — within-source
    // rank maps to the global value at the same (midpoint) quantile
    "q_quantile_norm" -> ((s, d) =>
      Selection.quantileNormalize(Tables.documents(s, d), col("source"),
        col("doc_id"), col("n_chars"))
        .withColumnsRenamed(Map("g" -> "source", "x" -> "n_chars"))),

    // Neyman-optimal stratified allocation of a 100-doc eval budget
    // across sources — exact largest-remainder integer split
    "q_neyman_alloc" -> ((s, d) =>
      Selection.neymanAllocation(Tables.documents(s, d), col("source"),
        col("n_chars"), NeymanBudget)
        .withColumnsRenamed(Map("g" -> "source"))),

    // incremental IVF maintenance: per-cell composition of the merged
    // (base + delta − tombstones) index under frozen centroids
    "q_ann_upsert_cells" -> ((s, d) =>
      upsertMerged(s, d).groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("vec_id") % 10 === 7, lit(1L)).otherwise(lit(0L)))
            .as("n_delta"))),

    // 2-probe top-10 against the merged incremental index — the query
    // path is identical to a freshly rebuilt index (spec-pinned)
    "q_ann_upsert_topk" -> ((s, d) =>
      Similarity.ivfTopKProbes(upsertMerged(s, d), upsertCents(s, d),
        queryId = 0L, k = 10, nProbes = 2)),

    // top principal direction by 3-round power iteration + explained
    // variance — the embedding-anisotropy probe; each round is one
    // corpus job collapsing to a dim-row driver artifact
    "q_pca_power" -> ((s, d) =>
      Similarity.pcaPower(
        graft.core.Xform.spreadToCores(Tables.embeddings(s, d)),
        col("embedding"), dim = PcaDim, iters = PcaIters)),

    // greedy Gonzalez k-center coreset: k maximally-spread exemplars
    // + the covering-radius curve — farthest-point data pruning; each
    // round is one corpus pass against the chosen-literal state
    "q_kcenter" -> ((s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), KCenterK))
  )

  /** PCA dimensionality / power-iteration rounds (shared with the
    * oracle generator). */
  private val PcaDim = 64; private val PcaIters = 3

  /** k-center coreset size (shared with the oracle generator). */
  private val KCenterK = 6

  /** The q_kcenter DuckDB twin — k unrolled greedy rounds (the
    * pcaPowerOracleSql pattern: the oracle REPLAYS the selection loop,
    * so a drifted round fails the hash compare). Distances share the
    * floor((1−cos)·10⁹) integer compare and the lowest-id tie-break. */
  private def kcenterOracleSql(k: Int): String = {
    def dq(j: Int) =
      s"CAST(floor((1.0 - ${sqlCos("e.v", s"c$j.v")}) * 1.0E9) AS BIGINT)"
    val rounds = (1 until k).map { r =>
      val froms = (0 until r).map(j => s"s$j c$j").mkString(", ")
      val notIn = (0 until r).map(j => s"c$j.vec_id").mkString(", ")
      val d = if (r == 1) dq(0)
        else s"least(${(0 until r).map(dq).mkString(", ")})"
      s"""p$r AS (SELECT e.vec_id, e.v, $d AS dq
         |        FROM e, $froms WHERE e.vec_id NOT IN ($notIn)),
         |s$r AS (SELECT vec_id, v, dq FROM p$r
         |        ORDER BY dq DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (s"SELECT CAST(0 AS BIGINT) AS sel_round, vec_id, " +
      "CAST(NULL AS DOUBLE) AS sep_dist FROM s0") +:
      (1 until k).map(r =>
        s"SELECT CAST($r AS BIGINT), vec_id, CAST(dq AS DOUBLE) / 1.0E9 FROM s$r")
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
       |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |$rounds
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Frozen coarse centroids for the upsert family: BASE corpus ids
    * < 16 (base = vec_id % 10 ≠ 7, so 15 cells). */
  private def upsertCents(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 =!= 7 && col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** The merged incremental index: stored base assignment ∪ delta
    * assignment (vec_id % 10 = 7), minus tombstones (vec_id % 13 = 3),
    * all under [[upsertCents]]. Bit-identical to a full rebuild —
    * SimilaritySpec pins the invariant; the ORACLE exercises it by
    * replaying the rebuild form. */
  private def upsertMerged(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val delta = e.filter(col("vec_id") % 10 === 7)
    val assignedBase = Similarity.ivfAssignWith(base, col("vec_id"),
      col("embedding"), upsertCents(s, d))
    Similarity.ivfUpsert(assignedBase, delta, col("vec_id"),
      col("embedding"), upsertCents(s, d),
      e.filter(col("vec_id") % 13 === 3).select(col("vec_id")))
  }

  /** dimStats population variance over the 10⁻⁶-quantized grid — the
    * QaQueries VarSql (per-dim integer power sums in n/sq/sqq). */
  private val VarSql =
    """(CAST(sqq AS DOUBLE)
      |     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
      |    / CAST(n AS DOUBLE) / 1.0E12""".stripMargin

  /** The shared 1/log2(r+1) discount literals (ranks 1..RankK). */
  private val DiscSql = Similarity.ndcgDiscounts(RankK)
    .map(d => s"CAST($d AS DOUBLE)").mkString("[", ", ", "]")

  /** ±1 JL sign for output dim `k`, input dim `j` — md5 parity, twin
    * of Similarity.jlSigns. */
  private def sqlJlSign(k: String, j: String): String =
    s"""(CASE WHEN CAST('0x'||substring(md5('rp'||CAST($k AS VARCHAR)||'|'||CAST($j AS VARCHAR)),1,8) AS BIGINT) % 2 = 0
       |  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)""".stripMargin

  /** The SQ8 ADC fixed-point term — twin of the rankingMetrics lambda
    * (and of the q_ann_sq8 oracle's tq). */
  private val Sq8TermSql =
    """CAST(floor(q.qd * (mm.mn +
      |  (CAST(CASE WHEN mm.mx = mm.mn THEN 0
      |        ELSE least(255, greatest(0,
      |          CAST(floor((e.x - mm.mn) / (mm.mx - mm.mn) * 256.0)
      |               AS BIGINT))) END AS DOUBLE) + 0.5)
      |    * (mm.mx - mm.mn) / 256.0) * 1.0E9) AS BIGINT)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rank_eval" ->
      s"""WITH ex AS (
         |  SELECT vec_id, u.d AS d, u.x AS x FROM (
         |    SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
         |             i -> {'d': i, 'x': CAST(embedding[i+1] AS DOUBLE)})) AS u
         |    FROM embeddings)),
         |mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         |panel AS (SELECT vec_id AS query_id, embedding AS qv
         |          FROM embeddings WHERE vec_id % $RankMod = 0),
         |tq AS (
         |  SELECT e.vec_id, q.query_id, $Sq8TermSql AS tq
         |  FROM ex e JOIN mm USING (d)
         |  JOIN (SELECT vec_id AS query_id, d, x AS qd FROM ex
         |        WHERE vec_id % $RankMod = 0) q USING (d)
         |  WHERE e.vec_id <> q.query_id),
         |sys AS (SELECT vec_id, query_id, CAST(sum(tq) AS BIGINT) AS sqq
         |        FROM tq GROUP BY 1, 2),
         |cosp AS (SELECT e.vec_id, p.query_id,
         |           ${sqlCos("e.embedding", "p.qv")} AS cos
         |         FROM embeddings e JOIN panel p ON e.vec_id <> p.query_id),
         |r AS (SELECT c.query_id, c.vec_id,
         |        CAST(row_number() OVER (PARTITION BY c.query_id
         |          ORDER BY c.cos DESC, c.vec_id) AS BIGINT) AS exact_rank,
         |        CAST(row_number() OVER (PARTITION BY c.query_id
         |          ORDER BY s.sqq DESC, c.vec_id) AS BIGINT) AS sys_rank
         |      FROM cosp c JOIN sys s
         |        ON c.vec_id = s.vec_id AND c.query_id = s.query_id),
         |rr AS (SELECT query_id, vec_id, exact_rank, sys_rank,
         |        CASE WHEN exact_rank <= $RankK
         |          THEN ${RankK + 1} - exact_rank ELSE 0 END AS rel
         |       FROM r),
         |g AS (SELECT query_id, count(*) AS n_cands,
         |        CAST(sum(CASE WHEN exact_rank <= $RankK
         |          THEN CAST(floor(CAST(rel AS DOUBLE)
         |            * ($DiscSql)[CAST(exact_rank AS INT)] * 1.0E9) AS BIGINT)
         |          ELSE 0 END) AS BIGINT) AS idcg_q,
         |        CAST(sum(CASE WHEN sys_rank <= $RankK
         |          THEN CAST(floor(CAST(rel AS DOUBLE)
         |            * ($DiscSql)[CAST(sys_rank AS INT)] * 1.0E9) AS BIGINT)
         |          ELSE 0 END) AS BIGINT) AS dcg_q,
         |        min(CASE WHEN rel > 0 THEN sys_rank END) AS first_rel,
         |        CAST(sum(CASE WHEN sys_rank <= $RankK AND rel > 0
         |          THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |      FROM rr GROUP BY query_id)
         |SELECT query_id, n_cands,
         |  CAST(dcg_q AS DOUBLE) / 1.0E9 AS dcg,
         |  CAST(idcg_q AS DOUBLE) / 1.0E9 AS idcg,
         |  CASE WHEN idcg_q = 0 THEN NULL
         |    ELSE CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE) END AS ndcg,
         |  1.0 / CAST(first_rel AS DOUBLE) AS mrr,
         |  hits AS hits_at_k
         |FROM g""".stripMargin,

    "q_embed_outliers" ->
      s"""WITH q AS (
         |  SELECT vec_id, i AS dim,
         |    CAST(floor(CAST(e.embedding[i+1] AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM embeddings e, unnest(range(0, len(e.embedding))) AS u(i)),
         |g AS (SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
         |        sum(CAST(q * q AS DECIMAL(38,0))) AS sqq FROM q GROUP BY dim),
         |st AS (SELECT dim,
         |         CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS m,
         |         sqrt(CASE WHEN $VarSql < 0 THEN 0.0 ELSE $VarSql END) AS s
         |       FROM g),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_live FROM st WHERE s > 0),
         |tq AS (
         |  SELECT q.vec_id,
         |    CASE WHEN st.s > 0 THEN CAST(floor(
         |      ((CAST(q.q AS DOUBLE) / 1000000.0 - st.m) / st.s)
         |      * ((CAST(q.q AS DOUBLE) / 1000000.0 - st.m) / st.s)
         |      * 1000000.0) AS BIGINT) ELSE 0 END AS tq
         |  FROM q JOIN st USING (dim)),
         |sc AS (SELECT vec_id,
         |         CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1000000.0 AS score
         |       FROM tq GROUP BY vec_id)
         |SELECT vec_id, score, nl.n_live AS n_live_dims,
         |  score > $OutlierThresh * CAST(nl.n_live AS DOUBLE) AS outlier
         |FROM sc CROSS JOIN nl""".stripMargin,

    "q_random_projection" ->
      s"""WITH xq AS (
         |  SELECT vec_id, u.d AS d,
         |    CAST(floor(CAST(e.embedding[u.d+1] AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS xq,
         |    len(e.embedding) AS dim
         |  FROM embeddings e, unnest(range(0, len(e.embedding))) AS u(d)),
         |y AS (SELECT vec_id, kk.k AS k, CAST(sum(xq *
         |          ${sqlJlSign("kk.k", "d")}) AS BIGINT) AS y
         |      FROM xq CROSS JOIN (SELECT unnest(range(0, $JlK)) AS k) kk
         |      GROUP BY 1, 2),
         |pa AS (SELECT vec_id AS id_a FROM embeddings WHERE vec_id % $JlMod = 0),
         |pb AS (SELECT p.id_a, e.vec_id AS id_b FROM pa p
         |       JOIN embeddings e ON e.vec_id = p.id_a + 1),
         |o2 AS (SELECT p.id_a, p.id_b,
         |         CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS o2,
         |         CAST(min(a.dim) AS BIGINT) AS dim
         |       FROM pb p JOIN xq a ON a.vec_id = p.id_a
         |       JOIN xq b ON b.vec_id = p.id_b AND b.d = a.d
         |       GROUP BY 1, 2),
         |p2 AS (SELECT p.id_a, p.id_b,
         |         CAST(sum((ya.y - yb.y) * (ya.y - yb.y)) AS BIGINT) AS p2
         |       FROM pb p JOIN y ya ON ya.vec_id = p.id_a
         |       JOIN y yb ON yb.vec_id = p.id_b AND yb.k = ya.k
         |       GROUP BY 1, 2)
         |SELECT o2.id_a, o2.id_b,
         |  CAST(o2.o2 AS DOUBLE) / 1.0E12 AS orig_d2,
         |  CAST(p2.p2 AS DOUBLE) / 1.0E12 AS proj_d2,
         |  CASE WHEN o2.o2 = 0 THEN NULL
         |    ELSE (CAST(p2.p2 AS DOUBLE) * CAST(o2.dim AS DOUBLE))
         |      / (CAST(o2.o2 AS DOUBLE) * $JlK.0) END AS jl_ratio
         |FROM o2 JOIN p2 USING (id_a, id_b)""".stripMargin,

    "q_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len($sqlToks) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
         |    AS n_sentences,
         |  CAST(len(regexp_extract_all($sqlFold, '[aeiouy]+')) AS BIGINT)
         |    AS n_syllables
         |FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words = 0 OR n_sentences = 0 THEN NULL
         |    ELSE 206.835
         |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |  END AS flesch,
         |  CASE WHEN n_words = 0 OR n_sentences = 0 THEN NULL
         |    ELSE 0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |      + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |      - 15.59
         |  END AS fk_grade
         |FROM c""".stripMargin,

    "q_bigram_entropy" ->
      s"""WITH t AS (SELECT doc_id AS doc, $sqlFoldToks AS tk FROM documents),
         |b AS (SELECT doc, CAST(len(tk) - 1 AS BIGINT) AS n,
         |        tk[i + 1] AS u, tk[i + 2] AS v
         |      FROM t CROSS JOIN LATERAL unnest(range(0, len(tk) - 1)) AS w(i)
         |      WHERE len(tk) >= 2),
         |cnt AS (SELECT doc, u, v, count(*) AS c_uv, min(n) AS n
         |        FROM b GROUP BY 1, 2, 3),
         |cu AS (SELECT doc, n, c_uv,
         |         CAST(sum(c_uv) OVER (PARTITION BY doc, u) AS BIGINT) AS c_u
         |       FROM cnt),
         |tt AS (SELECT doc, n, c_uv,
         |         CAST(floor(CAST(c_uv AS DOUBLE) / CAST(n AS DOUBLE)
         |           * ln(CAST(c_u AS DOUBLE) / CAST(c_uv AS DOUBLE))
         |           * 1.0E9) AS BIGINT) AS tq
         |       FROM cu)
         |SELECT doc AS doc_id, min(n) AS n_bigrams,
         |  count(*) AS n_distinct_bigrams,
         |  CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1.0E9 AS bigram_entropy
         |FROM tt GROUP BY doc""".stripMargin,

    "q_pca_power" -> Similarity.pcaPowerOracleSql(PcaDim, PcaIters),

    "q_kcenter" -> kcenterOracleSql(KCenterK),

    "q_ann_upsert_cells" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
         |  FROM embeddings WHERE vec_id % 10 <> 7 AND vec_id < 16),
         |av AS (SELECT vec_id, embedding AS v FROM embeddings
         |       WHERE vec_id % 13 <> 3),
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT a.vec_id, a.v, c.cid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqlCos("a.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM av a CROSS JOIN cents c) t WHERE rn = 1)
         |SELECT cid, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta
         |FROM assigned GROUP BY cid""".stripMargin,

    "q_ann_upsert_topk" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
         |  FROM embeddings WHERE vec_id % 10 <> 7 AND vec_id < 16),
         |av AS (SELECT vec_id, embedding AS v FROM embeddings
         |       WHERE vec_id % 13 <> 3),
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT a.vec_id, a.v, c.cid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqlCos("a.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM av a CROSS JOIN cents c) t WHERE rn = 1),
         |q AS (SELECT v AS qv FROM assigned WHERE vec_id = 0),
         |pc AS (SELECT c.cid FROM cents c CROSS JOIN q
         |       ORDER BY ${sqlCos("c.cv", "q.qv")} DESC, c.cid LIMIT 2)
         |SELECT a.vec_id, ${sqlCos("a.v", "q.qv")} AS cos
         |FROM assigned a JOIN pc ON a.cid = pc.cid CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,

    "q_quantile_norm" ->
      """WITH v AS (SELECT source AS g, doc_id, n_chars AS x
        |           FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT g, doc_id, x,
        |        CAST(row_number() OVER (PARTITION BY g ORDER BY x, doc_id)
        |          AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_g
        |      FROM v),
        |gi AS (SELECT x AS gval,
        |         CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT)
        |           AS gidx
        |       FROM v),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM v)
        |SELECT r.doc_id, r.g AS source, r.x AS n_chars, gi.gval AS norm_x
        |FROM r CROSS JOIN t
        |JOIN gi ON ((2 * r.r - 1) * t.n_total + r.n_g) // (2 * r.n_g)
        |  = gi.gidx""".stripMargin,

    "q_neyman_alloc" -> {
      val varSql =
        """(CAST(sqq AS DOUBLE)
          |  - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE))
          |  / CAST(n_docs AS DOUBLE)""".stripMargin
      s"""WITH v AS (SELECT source AS g, n_chars AS x FROM documents
         |           WHERE n_chars IS NOT NULL AND source IS NOT NULL),
         |gg AS (SELECT g, count(*) AS n_docs, CAST(sum(x) AS BIGINT) AS sq,
         |         sum(CAST(x * x AS DECIMAL(38,0))) AS sqq
         |       FROM v GROUP BY g),
         |s AS (SELECT g, n_docs,
         |        sqrt(CASE WHEN $varSql < 0 THEN 0.0 ELSE $varSql END) AS sd
         |      FROM gg),
         |w AS (SELECT g, n_docs, sd,
         |        CAST(floor(CAST(n_docs AS DOUBLE) * sd * 1.0E6) AS BIGINT)
         |          AS wq
         |      FROM s),
         |w2 AS (SELECT *, CAST(sum(wq) OVER () AS BIGINT) AS wtot FROM w),
         |w3 AS (SELECT *,
         |        CASE WHEN wtot = 0 THEN NULL
         |          ELSE ($NeymanBudget * wq) // wtot END AS base,
         |        CASE WHEN wtot = 0 THEN NULL
         |          ELSE ($NeymanBudget * wq) % wtot END AS rem
         |       FROM w2),
         |w4 AS (SELECT *,
         |        $NeymanBudget - CAST(sum(base) OVER () AS BIGINT) AS leftover,
         |        CAST(row_number() OVER (ORDER BY rem DESC, g) AS BIGINT)
         |          AS rrk
         |       FROM w3),
         |f AS (SELECT g, n_docs, sd,
         |        CAST(wq AS DOUBLE) / 1.0E6 AS weight,
         |        CASE WHEN wtot = 0 THEN NULL
         |          ELSE base + CASE WHEN rrk <= leftover THEN 1 ELSE 0 END
         |        END AS alloc_uncapped
         |      FROM w4)
         |SELECT g AS source, n_docs, sd, weight, alloc_uncapped,
         |  CASE WHEN alloc_uncapped IS NULL THEN NULL
         |    ELSE least(alloc_uncapped, n_docs) END AS n_alloc
         |FROM f""".stripMargin
    },

    "q_cusum" ->
      """WITH v AS (SELECT event_type AS k, epoch_us(ts) AS t, event_id AS id,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT k, t, id, c,
        |        CAST(row_number() OVER (PARTITION BY k ORDER BY t, id)
        |          AS BIGINT) AS i,
        |        CAST(sum(c) OVER (PARTITION BY k ORDER BY t, id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ci,
        |        CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |        CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS s
        |      FROM v),
        |d AS (SELECT k, t, id, i, ci, n, s,
        |        abs(CAST(ci AS DECIMAL(38,0)) * n
        |          - CAST(i AS DECIMAL(38,0)) * s) AS dnum
        |      FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |        ORDER BY dnum DESC, t, id) AS rk FROM d)
        |SELECT k AS event_type, n, t AS cp_t, i AS cp_index,
        |  CAST(dnum AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS max_drift,
        |  CAST(ci AS DOUBLE) / CAST(i AS DOUBLE) / 100.0 AS mean_left,
        |  CASE WHEN i = n THEN NULL
        |    ELSE CAST(s - ci AS DOUBLE) / CAST(n - i AS DOUBLE) / 100.0
        |  END AS mean_right
        |FROM r WHERE rk = 1""".stripMargin
  )
}
