package graft.entry

import graft.graph.Graph
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Corpus/embedding QA wave: per-dimension embedding health, kNN
  * hubness audit, duplication-inflation accounting, templated-page
  * detection, PSI numeric drift, Jensen–Shannon source-pair
  * divergence, windowed co-occurrence counts, and k-core peeling of
  * the near-dup candidate graph. Operators live in
  * [[graft.llm.Similarity]], [[graft.llm.Dedup]],
  * [[graft.llm.TextAnalysis]], [[graft.agg.RobustStats]] and
  * [[graft.graph.Graph]]; every quantization/guard embeds
  * token-identically in the DuckDB twins.
  */
object QaQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Hubness neighbor-list size / query-panel modulus / hub threshold
    * (2k/mod — the panel-scaled convention; shared with the oracle). */
  private val HubK = 10; private val HubMod = 4L
  private val HubAt = 2L * HubK / HubMod
  /** Line-boilerplate doc threshold (same value as q_line_dedup). */
  private val TemplMaxDocs = 2L
  /** PSI reference-quantile bucket count. */
  private val PsiBuckets = 10
  /** Co-occurrence window width / collocation top-K. */
  private val CoWin = 4; private val CoTopK = 64
  /** k-core threshold and synchronous peel rounds. */
  private val KcK = 8; private val KcRounds = 3
  private val LpaRounds = 3
  /** LOF panel: FIXED-SIZE anchor set (residue AND id ceiling — a
    * rate alone is panel² quadratic in the corpus; 15.9 s at sf1,
    * measured, vs fixed cost with the ceiling). */
  private val LofK = 5; private val LofMod = 4L; private val LofMax = 1000L
  private val LofAt = 1.5

  val queries: Map[String, Q] = Map(
    // per-dimension embedding profile: one posexplode + one <=dim-key
    // map-combined agg; collapsed-dim flag compares the shared
    // variance expression
    "q_embed_dim_stats" -> ((s, d) =>
      Similarity.dimStats(Tables.embeddings(s, d), col("embedding"))),

    // k-occurrence hubness of the embedding corpus — exact top-10
    // lists for a deterministic 1-in-4 query panel (the rate
    // estimator; panel-scaled hub threshold), dense zero rows
    "q_hubness" -> ((s, d) =>
      Similarity.hubness(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), HubK, HubMod, HubAt)),

    // per-source duplication inflation: global exact-hash cluster
    // sizes discount each doc's char mass; integer-div fixed point,
    // DECIMAL(38,0) accumulation
    "q_dup_inflation" -> ((s, d) =>
      Dedup.dupInflation(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source"))),

    // templated-page verdict on the line-boilerplate relation: a doc
    // >= 1/2 of whose lines are corpus boilerplate is a template shell
    "q_template_docs" -> ((s, d) =>
      Dedup.templateDocs(Tables.documents(s, d), col("doc_id"),
        col("text"), TemplMaxDocs)),

    // PSI length drift, en (reference) vs non-en: exact reference
    // deciles, Laplace smoothing, KL fixed-point terms — the total-
    // reallocation companion of q_ks_drift's worst-point statistic
    "q_psi" -> ((s, d) =>
      graft.agg.RobustStats.psi(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en", PsiBuckets)),

    // pairwise Jensen–Shannon between source unigram distributions —
    // the source-similarity map beside q_kl_drift's per-source alarm
    "q_js_sources" -> ((s, d) =>
      TextAnalysis.jsSourcePairs(Tables.documents(s, d), col("text"),
        col("source"))),

    // windowed co-occurrence collocations (±4 tokens, top-64) — the
    // word2vec-style statistic generalizing q_pmi's adjacent bigrams
    "q_cooccur" -> ((s, d) =>
      TextAnalysis.cooccurWindow(Tables.documents(s, d), col("doc_id"),
        col("text"), CoWin, CoTopK)),

    // 8-core of the customer–supplier purchase graph after 3 peels —
    // the dense trading core; low-degree periphery peels away
    "q_kcore" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      Graph.kCore(e, col("src"), col("dst"), KcK, KcRounds)
    }),

    // synchronous LPA communities of the same purchase graph — dense
    // trading groups INSIDE components; ties pinned to min label,
    // rounds unrolled identically in the oracle
    "q_lpa" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      Graph.lpaCommunities(e, col("src"), col("dst"), LpaRounds)
    }),

    // Local Outlier Factor over a FIXED-SIZE panel (residue AND
    // ceiling — the contrastiveMine anchor contract) — density-
    // RELATIVE outliers (the Mahalanobis screen's local companion);
    // both LOF double sums are fixed-point LONG, panel² audit cost
    // bounded at any corpus size
    "q_lof" -> ((s, d) =>
      Similarity.lofOutliers(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), LofK,
        col("vec_id") % LofMod === 0L && col("vec_id") < LofMax, LofAt)),

    // Quarantine accounting for the non-finite embedding ingest guard
    // ([[Tables.embeddings]] / FiniteVector): how many vectors arrived
    // NULL vs were dropped for carrying NaN/±Inf/NULL elements. Reads
    // the RAW table (exempt from the oracle guard CTE) — one
    // zero-shuffle 1-row aggregate, the lineage line a lake-scale
    // ingest dashboard alerts on
    "q_embed_quarantine" -> ((s, d) => {
      import graft.functions.FiniteVector
      Tables.rawEmbeddings(s, d).agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("embedding").isNull, 1L)), lit(0L))
          .as("n_null_in"),
        coalesce(sum(when(col("embedding").isNotNull &&
          !FiniteVector(col("embedding")), 1L)), lit(0L))
          .as("n_quarantined"))
    }),

    // lineage lines for the other two ingest guards (the
    // q_embed_quarantine contract): how many orphan rows the
    // documents/events seams drop — zero-shuffle raw-read aggregates
    "q_doc_quarantine" -> ((s, d) =>
      Tables.rawDocuments(s, d).agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("doc_id").isNull, 1L)), lit(0L))
          .as("n_orphan"))),

    "q_event_quarantine" -> ((s, d) =>
      Tables.rawEvents(s, d).agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("event_id").isNull, 1L)), lit(0L))
          .as("n_orphan"),
        coalesce(sum(when(col("value").isNotNull &&
          (isnan(col("value")) || abs(col("value")) === Double.PositiveInfinity),
          1L)), lit(0L)).as("n_nonfinite"))),

    // stored-double metric quarantine lineage (r16): how many rows each
    // TPC-H seam guard drops — one raw scan per table, 1-row crossJoin
    "q_metric_quarantine" -> ((s, d) => {
      def bad(name: String, alias: String) =
        Tables.rawTable(s, d, name).agg(
          coalesce(sum(when(Tables.metricColumns(name).map(c =>
            col(c).isNotNull && (isnan(col(c)) ||
              abs(col(c)) === Double.PositiveInfinity)).reduce(_ || _),
            1L)), lit(0L)).as(alias))
      bad("lineitem", "n_li_bad")
        .crossJoin(bad("orders", "n_ord_bad"))
        .crossJoin(bad("customer", "n_cust_bad"))
        .crossJoin(bad("part", "n_part_bad"))
        .crossJoin(bad("supplier", "n_supp_bad"))
    }),

    // one-row embedding-norm health line: zero-norm count + exact
    // norm quartiles off the quantized-norm count table (native
    // SumSquares scan, domain-bounded cumulate window)
    "q_embed_norm_profile" -> ((s, d) =>
      Similarity.normProfile(Tables.embeddings(s, d), col("embedding"))),

    // per-source mojibake scan: U+FFFD replacement chars (decoder
    // already gave up upstream) + C0 controls other than tab/LF/CR
    // (binary spill) — zero-shuffle scan + |sources|-key agg
    "q_mojibake_scan" -> ((s, d) =>
      TextAnalysis.encodingScan(Tables.documents(s, d), col("source"),
        col("text"))
        .withColumnsRenamed(Map("g" -> "source")))
  )

  private val VarSql =
    """(CAST(sqq AS DOUBLE)
      |     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
      |    / CAST(n AS DOUBLE) / 1.0E12""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_embed_dim_stats" ->
      s"""WITH q AS (
         |  SELECT i AS dim,
         |    CAST(floor(CAST(e.embedding[i+1] AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM embeddings e, unnest(range(0, len(e.embedding))) AS u(i)),
         |g AS (SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
         |        sum(CAST(q * q AS DECIMAL(38,0))) AS sqq,
         |        min(q) AS mnq, max(q) AS mxq FROM q GROUP BY dim)
         |SELECT dim, n,
         |  CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_v,
         |  $VarSql AS var_v,
         |  CAST(mnq AS DOUBLE) / 1000000.0 AS min_v,
         |  CAST(mxq AS DOUBLE) / 1000000.0 AS max_v,
         |  $VarSql < 1.0E-6 AS collapsed
         |FROM g""".stripMargin,

    "q_hubness" ->
      s"""WITH topk AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${sqlCos("c.embedding", "q.embedding")} DESC,
         |                      c.vec_id) AS rn
         |    FROM embeddings c CROSS JOIN embeddings q
         |    WHERE q.vec_id % $HubMod = 0 AND c.vec_id <> q.vec_id) t
         |  WHERE rn <= $HubK),
         |hits AS (SELECT vec_id, count(*) AS hits FROM topk GROUP BY 1)
         |SELECT e.vec_id, coalesce(h.hits, 0) AS n_hits,
         |  coalesce(h.hits, 0) >= $HubAt AS hub,
         |  coalesce(h.hits, 0) = 0 AS antihub
         |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.vec_id""".stripMargin,

    "q_dup_inflation" ->
      """WITH d AS (SELECT source AS g, md5(text) AS h,
        |             CAST(length(text) AS BIGINT) AS m
        |           FROM documents
        |           WHERE text IS NOT NULL AND source IS NOT NULL),
        |cs AS (SELECT h, count(*) AS csize FROM d GROUP BY h),
        |a AS (SELECT g, count(*) AS n_docs, CAST(sum(m) AS BIGINT)
        |          AS n_chars_total,
        |        sum(CAST((m * 1000000000) // csize AS DECIMAL(38,0))) AS effq,
        |        CAST(sum(CASE WHEN csize = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_unique
        |      FROM d JOIN cs USING (h) GROUP BY g)
        |SELECT g AS source, n_docs, n_chars_total, n_unique,
        |  CAST(effq AS DOUBLE) / 1.0E9 AS effective_chars,
        |  CASE WHEN effq = 0 THEN NULL
        |       ELSE CAST(n_chars_total AS DOUBLE)
        |              / (CAST(effq AS DOUBLE) / 1.0E9)
        |  END AS inflation
        |FROM a""".stripMargin,

    "q_template_docs" ->
      s"""WITH sp AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |lines AS (
         |  SELECT doc_id,
         |         CAST('0x'||substring(md5(ls[i+1]),1,15) AS BIGINT) AS h
         |  FROM sp, unnest(range(0, len(ls))) AS u(i)),
         |bp AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1)
         |  WHERE n_docs > $TemplMaxDocs),
         |j AS (SELECT l.doc_id,
         |        CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS is_bp
         |      FROM lines l LEFT JOIN bp b ON l.h = b.h)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(is_bp) AS BIGINT) AS n_boiler,
         |  CAST(sum(is_bp) AS BIGINT) * 2 >= count(*) * 1 AS templated
         |FROM j GROUP BY doc_id""".stripMargin,

    "q_psi" ->
      s"""WITH s AS (SELECT n_chars AS x,
         |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f
         |           FROM documents WHERE n_chars IS NOT NULL),
         |g AS (SELECT x, CAST(sum(f) AS BIGINT) AS a,
         |        CAST(sum(1 - f) AS BIGINT) AS b FROM s GROUP BY x),
         |t AS (SELECT CAST(sum(a) AS BIGINT) AS n_ref,
         |        CAST(sum(b) AS BIGINT) AS n_cur FROM g),
         |cum AS (SELECT x, CAST(sum(a) OVER (ORDER BY x) AS BIGINT) AS ca
         |        FROM g),
         |bounds AS (
         |  SELECT i, min(x) AS bound
         |  FROM cum CROSS JOIN t, unnest(range(1, $PsiBuckets)) AS u(i)
         |  WHERE ca * $PsiBuckets >= i * n_ref GROUP BY i),
         |barr AS (SELECT list(bound ORDER BY i) AS barr FROM bounds),
         |bk AS (SELECT len(list_filter(barr.barr, v -> v <= s.x)) AS bucket,
         |         s.f
         |       FROM s CROSS JOIN barr),
         |cnt AS (SELECT bucket, CAST(sum(f) AS BIGINT) AS na,
         |          CAST(sum(1 - f) AS BIGINT) AS nb FROM bk GROUP BY bucket),
         |spine AS (SELECT unnest(range(0, $PsiBuckets)) AS bucket),
         |dense AS (SELECT sp.bucket, coalesce(cnt.na, 0) AS n_ref_b,
         |            coalesce(cnt.nb, 0) AS n_cur_b
         |          FROM spine sp LEFT JOIN cnt USING (bucket)),
         |pq AS (SELECT bucket, n_ref_b, n_cur_b,
         |         CAST(n_ref_b + 1 AS DOUBLE)
         |           / CAST(n_ref + $PsiBuckets AS DOUBLE) AS p,
         |         CAST(n_cur_b + 1 AS DOUBLE)
         |           / CAST(n_cur + $PsiBuckets AS DOUBLE) AS q
         |       FROM dense CROSS JOIN t),
         |tt AS (SELECT bucket, n_ref_b, n_cur_b,
         |         CAST(floor((p - q) * ln(p / q) * 1.0E9) AS BIGINT) AS tq
         |       FROM pq)
         |SELECT bucket, n_ref_b, n_cur_b,
         |  CAST(tq AS DOUBLE) / 1.0E9 AS psi_term,
         |  CAST(sum(tq) OVER () AS DOUBLE) / 1.0E9 AS psi
         |FROM tt""".stripMargin,

    "q_js_sources" ->
      s"""WITH tk AS (SELECT source AS g, unnest($sqlToks) AS t
         |      FROM documents WHERE source IS NOT NULL),
         |tb AS (SELECT g, ${sqlMd5Long("'17|' || t")} % 256 AS b FROM tk),
         |gb AS (SELECT g, b, count(*) AS n_gb FROM tb GROUP BY 1, 2),
         |gt AS (SELECT g, CAST(sum(n_gb) AS BIGINT) AS n_g FROM gb GROUP BY 1),
         |grid AS (
         |  SELECT gt.g, gt.n_g, r.b, coalesce(gb.n_gb, 0) AS c
         |  FROM gt CROSS JOIN (SELECT unnest(range(0, 256)) AS b) r
         |  LEFT JOIN gb ON gt.g = gb.g AND r.b = gb.b),
         |pairs AS (
         |  SELECT l.g AS g1, r2.g AS g2,
         |         CAST(l.c + 1 AS DOUBLE) / CAST(l.n_g + 256 AS DOUBLE) AS p,
         |         CAST(r2.c + 1 AS DOUBLE) / CAST(r2.n_g + 256 AS DOUBLE) AS q
         |  FROM grid l JOIN grid r2 ON l.b = r2.b AND l.g < r2.g),
         |m AS (SELECT g1, g2, p, q, (p + q) / 2.0 AS m FROM pairs),
         |tt AS (SELECT g1, g2,
         |         CAST(floor((0.5 * p * ln(p / m) + 0.5 * q * ln(q / m))
         |           * 1.0E9) AS BIGINT) AS tq
         |       FROM m)
         |SELECT g1 AS source_a, g2 AS source_b,
         |  CAST(sum(tq) AS DOUBLE) / 1.0E9 AS jsd
         |FROM tt GROUP BY 1, 2""".stripMargin,

    "q_cooccur" ->
      s"""WITH tk AS (SELECT doc_id AS doc, $sqlToks AS tks FROM documents),
         |pos AS (SELECT doc, i AS pos, tks[i+1] AS tok
         |        FROM tk, unnest(range(0, len(tks))) AS u(i)),
         |probe AS (SELECT doc, pos + d AS pos, tok AS t1
         |          FROM pos, unnest(range(1, ${CoWin + 1})) AS w(d)),
         |pairs AS (SELECT least(p.t1, q.tok) AS ta, greatest(p.t1, q.tok) AS tb
         |          FROM probe p JOIN pos q ON p.doc = q.doc AND p.pos = q.pos),
         |cnt AS (SELECT ta, tb, count(*) AS n FROM pairs GROUP BY 1, 2),
         |top AS (SELECT ta, tb, n FROM cnt ORDER BY n DESC, ta, tb
         |        LIMIT $CoTopK)
         |SELECT ta, tb, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, ta, tb) AS BIGINT) AS rank
         |FROM top""".stripMargin,

    "q_kcore" -> {
      val steps = (1 to KcRounds).map { i =>
        s"""d$i AS (SELECT n, count(*) AS deg FROM (
           |    SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
           |  GROUP BY 1),
           |k$i AS (SELECT n FROM d$i WHERE deg >= $KcK),
           |e$i AS (SELECT a, b FROM e${i - 1}
           |        WHERE a IN (SELECT n FROM k$i)
           |          AND b IN (SELECT n FROM k$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT CAST(o_custkey AS BIGINT) * 2 AS src,
         |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM raw WHERE src <> dst),
         |$steps
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS n FROM e$KcRounds UNION ALL SELECT b FROM e$KcRounds) u
         |GROUP BY 1""".stripMargin
    },

    "q_lpa" -> {
      val steps = (1 to LpaRounds).map { i =>
        s"""c$i AS (SELECT u.n AS node, l.label, count(*) AS cnt
           |        FROM und u JOIN l${i - 1} l ON u.m = l.node GROUP BY 1, 2),
           |l$i AS (SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node
           |      ORDER BY cnt DESC, label) AS rn FROM c$i) r
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT CAST(o_custkey AS BIGINT) * 2 AS src,
         |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM raw WHERE src <> dst),
         |und AS (SELECT a AS n, b AS m FROM e0
         |        UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT n AS node, n AS label FROM und),
         |$steps,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l$LpaRounds GROUP BY 1)
         |SELECT l.node, l.label AS community, sz.community_size
         |FROM l$LpaRounds l JOIN sz USING (label)""".stripMargin
    },

    "q_lof" ->
      s"""WITH p AS (SELECT vec_id, embedding AS v FROM embeddings
         |           WHERE vec_id % $LofMod = 0 AND vec_id < $LofMax),
         |pr AS (SELECT pa.vec_id AS a, pb.vec_id AS b,
         |         1.0 - ${sqlCos("pa.v", "pb.v")} AS dist
         |       FROM p pa JOIN p pb ON pa.vec_id <> pb.vec_id),
         |knn AS (SELECT a, b, dist FROM (
         |    SELECT a, b, dist,
         |      row_number() OVER (PARTITION BY a ORDER BY dist, b) AS rn
         |    FROM pr) r WHERE rn <= $LofK),
         |kd AS (SELECT a, max(dist) AS kdist FROM knn GROUP BY 1),
         |reach AS (SELECT k1.a, k1.b, greatest(k1.dist, kd.kdist) AS reach
         |          FROM knn k1 JOIN kd ON kd.a = k1.b),
         |lr AS (SELECT a, CAST(count(*) AS BIGINT) AS n_nn,
         |         CAST(sum(CAST(floor(reach * 1.0E9) AS BIGINT)) AS BIGINT)
         |           AS rq
         |       FROM reach GROUP BY 1),
         |l2 AS (SELECT a, n_nn,
         |         CASE WHEN rq = 0 THEN NULL
         |              ELSE CAST(n_nn AS DOUBLE) / (CAST(rq AS DOUBLE) / 1.0E9)
         |         END AS lrd
         |       FROM lr),
         |num AS (SELECT k1.a,
         |          CAST(sum(CAST(floor(l.lrd * 1.0E9) AS BIGINT)) AS BIGINT)
         |            AS lq,
         |          CAST(count(*) AS BIGINT) AS nn2
         |        FROM knn k1 JOIN l2 l ON l.a = k1.b GROUP BY 1)
         |SELECT l2.a AS vec_id, l2.n_nn, l2.lrd,
         |  CASE WHEN l2.lrd IS NULL OR num.lq IS NULL THEN NULL
         |       ELSE (CAST(num.lq AS DOUBLE) / 1.0E9 / CAST(nn2 AS DOUBLE))
         |            / l2.lrd END AS lof,
         |  (CASE WHEN l2.lrd IS NULL OR num.lq IS NULL THEN NULL
         |        ELSE (CAST(num.lq AS DOUBLE) / 1.0E9 / CAST(nn2 AS DOUBLE))
         |             / l2.lrd END) >= $LofAt AS outlier
         |FROM l2 JOIN num ON num.a = l2.a""".stripMargin,

    // RAW read by design (SparkEntry.RawTableQueries exempts it from the
    // guard CTE): counts what the guard WOULD null out
    "q_embed_quarantine" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_null_in,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL AND
         |      len(list_filter(embedding,
         |        x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
         |    THEN 1 END), 0) AS BIGINT) AS n_quarantined
         |FROM embeddings""".stripMargin,

    // RAW reads by design (SparkEntry.RawTableQueries exempts them)
    "q_doc_quarantine" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_orphan
         |FROM documents""".stripMargin,

    "q_event_quarantine" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(CASE WHEN event_id IS NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_orphan,
         |  CAST(coalesce(sum(CASE WHEN value IS NOT NULL
         |    AND NOT isfinite(value) THEN 1 END), 0)
         |    AS BIGINT) AS n_nonfinite
         |FROM events""".stripMargin,

    // RAW reads by design (SparkEntry.RawTableQueries exempts it):
    // counts what each stored-double metric guard drops
    "q_metric_quarantine" ->
      s"""SELECT
         |  (SELECT CAST(coalesce(sum(CASE WHEN NOT (
         |     (l_quantity IS NULL OR isfinite(l_quantity))
         |     AND (l_extendedprice IS NULL OR isfinite(l_extendedprice))
         |     AND (l_discount IS NULL OR isfinite(l_discount))
         |     AND (l_tax IS NULL OR isfinite(l_tax))) THEN 1 END), 0)
         |   AS BIGINT) FROM lineitem) AS n_li_bad,
         |  (SELECT CAST(coalesce(sum(CASE WHEN NOT
         |     (o_totalprice IS NULL OR isfinite(o_totalprice)) THEN 1 END), 0)
         |   AS BIGINT) FROM orders) AS n_ord_bad,
         |  (SELECT CAST(coalesce(sum(CASE WHEN NOT
         |     (c_acctbal IS NULL OR isfinite(c_acctbal)) THEN 1 END), 0)
         |   AS BIGINT) FROM customer) AS n_cust_bad,
         |  (SELECT CAST(coalesce(sum(CASE WHEN NOT
         |     (p_retailprice IS NULL OR isfinite(p_retailprice)) THEN 1 END), 0)
         |   AS BIGINT) FROM part) AS n_part_bad,
         |  (SELECT CAST(coalesce(sum(CASE WHEN NOT
         |     (s_acctbal IS NULL OR isfinite(s_acctbal)) THEN 1 END), 0)
         |   AS BIGINT) FROM supplier) AS n_supp_bad""".stripMargin,

    // quantized-norm count table + exact rank selection (cum*den >=
    // k*n is the pure integer form of cum >= ceil(n*q)); sqrt is
    // correctly-rounded IEEE on both engines, the sum-of-squares runs
    // the identical index-order double chain
    "q_embed_norm_profile" ->
      s"""WITH v AS (
         |  SELECT CAST(floor(sqrt(coalesce(list_sum(list_transform(
         |      embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |      0.0)) * 1000.0) AS BIGINT) AS nq
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |cc AS (SELECT nq, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
         |cum AS (SELECT nq, c,
         |          CAST(sum(c) OVER (ORDER BY nq ROWS BETWEEN UNBOUNDED
         |            PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |          CAST(sum(c) OVER () AS BIGINT) AS n
         |        FROM cc)
         |SELECT CAST(coalesce(max(n), 0) AS BIGINT) AS n_vecs,
         |  CAST(coalesce(sum(CASE WHEN nq = 0 THEN c END), 0) AS BIGINT)
         |    AS n_zero,
         |  CAST(min(CASE WHEN cum * 4 >= n THEN nq END) AS DOUBLE) / 1000.0
         |    AS p25_norm,
         |  CAST(min(CASE WHEN cum * 2 >= n THEN nq END) AS DOUBLE) / 1000.0
         |    AS p50_norm,
         |  CAST(min(CASE WHEN cum * 4 >= n * 3 THEN nq END) AS DOUBLE)
         |    / 1000.0 AS p75_norm,
         |  CAST(max(nq) AS DOUBLE) / 1000.0 AS max_norm
         |FROM cum""".stripMargin,

    // pattern text is shared verbatim with the engine rlike (RE2 and
    // java.util.regex agree on \\x hex classes); chr(65533) = U+FFFD
    "q_mojibake_scan" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN contains(text, chr(65533))
         |    THEN 1 END), 0) AS BIGINT) AS n_replacement,
         |  CAST(coalesce(sum(CASE WHEN regexp_matches(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]') THEN 1 END), 0)
         |    AS BIGINT) AS n_ctrl,
         |  CAST(coalesce(sum(CASE WHEN contains(text, chr(65533))
         |    THEN 1 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS repl_rate,
         |  CAST(coalesce(sum(CASE WHEN regexp_matches(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]') THEN 1 END), 0)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ctrl_rate
         |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin
  )
}
