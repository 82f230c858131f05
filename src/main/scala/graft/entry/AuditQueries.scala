package graft.entry

import graft.agg.Inference
import graft.functions.WordpieceStats
import graft.llm.{Dedup, Privacy, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Release-audit wave: k-anonymity/l-diversity disclosure risk,
  * Kruskal–Wallis k-sample rank test, KMV bottom-k sketch Jaccard
  * across sources, and greedy wordpiece tokenization stats. Operators
  * live in [[graft.llm.Privacy]], [[graft.agg.Inference]],
  * [[graft.llm.Dedup]] and [[graft.functions.WordpieceStats]]; every
  * constant below embeds token-identically in the DuckDB twins.
  */
object AuditQueries {
  type Q = (SparkSession, String) => DataFrame

  /** k-anonymity knobs: class floor, diversity floor, length-bucket
    * width for the quasi-identifier generalization. */
  private val AnonK = 5; private val AnonL = 3; private val AnonBucket = 256L
  /** KMV sketch size (ε ≈ 1/√k ≈ 12.5%). */
  private val KmvK = 64
  /** BPE training rounds (shared with the unrolled oracle). */
  private val BpeRounds = 6
  /** t-closeness threshold. */
  private val TClose = 0.2

  val queries: Map[String, Q] = Map(
    // one-row dataset card: the release-reviewer summary (mass,
    // cardinalities, exact-dup rate, majority-language share)
    "q_dataset_card" -> ((s, d) =>
      TextAnalysis.datasetCard(Tables.documents(s, d), col("text"),
        col("lang"), col("source"), col("n_chars"))),

    // disclosure-risk audit over (source, lang, length-bucket) quasi-
    // identifiers with the exact length as the sensitive attribute —
    // one map-combined groupBy, corpus folds ride the class table
    "q_k_anonymity" -> ((s, d) =>
      Privacy.kAnonymity(Tables.documents(s, d),
        Seq("source" -> col("source"), "lang" -> col("lang"),
          "len_bucket" -> call_function("div", col("n_chars"),
            lit(AnonBucket))),
        col("n_chars"), AnonK, AnonL)),

    // t-closeness: total-variation distance between each QI class's
    // lang mix and the corpus mix — the third disclosure gate; exact
    // integer cross-multiplications, one cell aggregate + window folds
    "q_t_closeness" -> ((s, d) =>
      Privacy.tCloseness(Tables.documents(s, d),
        Seq("source" -> col("source"),
          "len_bucket" -> call_function("div", col("n_chars"),
            lit(AnonBucket))),
        col("lang"), TClose)),

    // Kruskal–Wallis rank H of event value across event types — the
    // distribution-free ANOVA; 2×midrank integer algebra, one corpus
    // scan, domain-sized window
    "q_kruskal_wallis" -> ((s, d) =>
      Inference.kruskalWallis(Tables.events(s, d), col("event_type"),
        col("value"))
        .withColumnsRenamed(Map("g" -> "event_type"))),

    // KMV bottom-k content sketches per source → pairwise Jaccard +
    // union-cardinality estimates — the sketch-scale syndication map
    "q_kmv_jaccard" -> ((s, d) =>
      Dedup.kmvSourceJaccard(Tables.documents(s, d), col("source"),
        col("text"), KmvK)),

    // BPE tokenizer training: 6 merge rounds over the (word, count)
    // vocabulary — one token shuffle, vocab-sized rounds, 1-row driver
    // artifacts (the centroid discipline applied to merges)
    "q_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), col("text"),
        BpeRounds)),

    // train→apply composition: tokenize the corpus with the learned
    // merges (vocabulary join, never an automaton re-scan) and report
    // per-doc compression — the token-budget planner's divisor
    "q_bpe_apply" -> ((s, d) =>
      TextAnalysis.bpeApply(Tables.documents(s, d), col("doc_id"),
        col("text"), BpeRounds)),

    // greedy longest-match subword tokenization audit per doc: words,
    // matched pieces, UNK chars, fertility — one native scan pass
    "q_wordpiece" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          WordpieceStats(TextAnalysis.foldLower(col("text"))).as("wp"))
        .select(col("doc_id"), col("wp.n_words").as("n_words"),
          col("wp.n_tokens").as("n_tokens"), col("wp.n_unk").as("n_unk"),
          when(col("wp.n_words") === 0L, lit(null).cast("double"))
            .otherwise((col("wp.n_tokens") + col("wp.n_unk")).cast("double") /
              col("wp.n_words").cast("double")).as("fertility")))
  )

  val oracle: Map[String, String] = Map(
    "q_dataset_card" ->
      s"""WITH t AS (SELECT
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
         |  FROM documents)
         |SELECT n_docs, n_text_docs, n_chars, n_words, n_langs, n_sources,
         |  n_distinct_texts,
         |  CASE WHEN n_text_docs = 0 THEN NULL
         |       ELSE CAST(n_text_docs - n_distinct_texts AS DOUBLE)
         |            / CAST(n_text_docs AS DOUBLE) END AS dup_rate,
         |  CASE WHEN n_lang_tagged = 0 THEN NULL
         |       ELSE CAST(n_en AS DOUBLE) / CAST(n_lang_tagged AS DOUBLE)
         |       END AS en_share
         |FROM t""".stripMargin,

    "q_k_anonymity" ->
      s"""WITH c AS (
         |  SELECT source, lang, n_chars // $AnonBucket AS len_bucket,
         |         CAST(count(*) AS BIGINT) AS class_size,
         |         CAST(count(DISTINCT n_chars) AS BIGINT) AS l_distinct
         |  FROM documents GROUP BY 1, 2, 3)
         |SELECT source, lang, len_bucket, class_size, l_distinct,
         |       class_size >= $AnonK AS k_anonymous,
         |       l_distinct >= $AnonL AS l_diverse,
         |       CAST(sum(class_size) OVER () AS BIGINT) AS n_total,
         |       CAST(coalesce(sum(CASE WHEN class_size < $AnonK
         |                               THEN class_size END) OVER (), 0)
         |         AS BIGINT) AS n_suppressed,
         |       CAST(coalesce(sum(CASE WHEN class_size < $AnonK
         |                               THEN class_size END) OVER (), 0)
         |         AS DOUBLE) / CAST(sum(class_size) OVER () AS DOUBLE)
         |         AS suppression_rate
         |FROM c""".stripMargin,

    // mirrors Privacy.tCloseness: decimal cross-multiplications, the
    // complement identity for absent sensitive values (no spine), one
    // mirrored double expression
    "q_t_closeness" ->
      s"""WITH cells AS (
         |  SELECT source, n_chars // $AnonBucket AS len_bucket, lang AS s,
         |         CAST(count(*) AS BIGINT) AS n_cs
         |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2, 3),
         |m AS (SELECT *,
         |        CAST(sum(n_cs) OVER (PARTITION BY s) AS BIGINT) AS n_s,
         |        CAST(sum(n_cs) OVER (PARTITION BY source, len_bucket)
         |          AS BIGINT) AS n_c,
         |        CAST(sum(n_cs) OVER () AS BIGINT) AS n
         |      FROM cells),
         |g AS (SELECT source, len_bucket,
         |        CAST(max(n_c) AS BIGINT) AS class_size,
         |        CAST(count(*) AS BIGINT) AS n_sens_present,
         |        CAST(max(n) AS BIGINT) AS n_total,
         |        sum(abs(CAST(n_cs AS HUGEINT) * n
         |              - CAST(n_s AS HUGEINT) * n_c)) AS dev,
         |        sum(CAST(n_s AS HUGEINT)) AS mass_present
         |      FROM m GROUP BY 1, 2)
         |SELECT source, len_bucket, class_size, n_sens_present,
         |       (CAST(dev AS DOUBLE)
         |        + CAST(CAST(n_total AS HUGEINT) * class_size
         |               - mass_present * class_size AS DOUBLE))
         |       / (2.0 * CAST(class_size AS DOUBLE)
         |          * CAST(n_total AS DOUBLE)) AS tv_dist,
         |       (CAST(dev AS DOUBLE)
         |        + CAST(CAST(n_total AS HUGEINT) * class_size
         |               - mass_present * class_size AS DOUBLE))
         |       / (2.0 * CAST(class_size AS DOUBLE)
         |          * CAST(n_total AS DOUBLE)) <= $TClose AS t_close
         |FROM g""".stripMargin,

    // mirrors Inference.kruskalWallis: per-(g,v) counts, distinct-value
    // 2×midrank window, decimal rank sums, exact integer div of
    // R2²/(4n_g) (identical truncation), ONE double expression each
    // for h and the tie-corrected h
    "q_kruskal_wallis" ->
      """WITH gv AS (SELECT event_type AS g, value AS v,
        |              CAST(count(*) AS BIGINT) AS n_gv
        |            FROM events
        |            WHERE event_type IS NOT NULL AND value IS NOT NULL
        |            GROUP BY 1, 2),
        |dom AS (SELECT v, CAST(sum(n_gv) AS BIGINT) AS n_v FROM gv
        |        GROUP BY 1),
        |dm AS (SELECT v, n_v,
        |         2 * CAST(sum(n_v) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) - n_v + 1 AS mid2
        |       FROM dom),
        |pg AS (SELECT g, CAST(sum(n_gv) AS BIGINT) AS n_g,
        |              CAST(sum(n_gv * mid2) AS BIGINT) AS rank_sum2
        |       FROM gv JOIN dm USING (v) GROUP BY 1),
        |tie AS (SELECT CAST(sum(n_v*n_v*n_v - n_v) AS BIGINT) AS tie3
        |        FROM dm),
        |t AS (SELECT g, n_g, rank_sum2,
        |             CAST(sum(n_g) OVER () AS BIGINT) AS n,
        |             CAST(count(*) OVER () AS BIGINT) AS k,
        |             CAST(sum((CAST(rank_sum2 AS HUGEINT) * rank_sum2)
        |               // (4 * n_g)) OVER () AS BIGINT) AS tsum
        |      FROM pg)
        |SELECT g AS event_type, n_g, rank_sum2, n, k,
        |  CASE WHEN k <= 1 OR n <= k THEN NULL
        |       ELSE 12.0 * CAST(tsum AS DOUBLE)
        |            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |            - 3.0 * (CAST(n AS DOUBLE) + 1.0) END AS h,
        |  CASE WHEN k <= 1 OR n <= k
        |            OR 1.0 - CAST(tie3 AS DOUBLE)
        |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                  * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) <= 0.0
        |       THEN NULL
        |       ELSE (12.0 * CAST(tsum AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |             - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |            / (1.0 - CAST(tie3 AS DOUBLE)
        |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                  * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
        |       END AS h_tie_corrected
        |FROM t CROSS JOIN tie""".stripMargin,

    // mirrors Dedup.kmvSourceJaccard: md5Long identities, per-source
    // bottom-k by row_number, pool = k' smallest of the union,
    // matches = pool ∩ A ∩ B, KMV union estimate off the pool max
    "q_kmv_jaccard" ->
      s"""WITH sh AS (SELECT DISTINCT source AS src,
         |              CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
         |            FROM documents
         |            WHERE text IS NOT NULL AND source IS NOT NULL),
         |r AS (SELECT src, h,
         |        row_number() OVER (PARTITION BY src ORDER BY h) AS rn
         |      FROM sh),
         |sig AS (SELECT src, list(h ORDER BY h) AS sig,
         |          CAST(count(*) AS BIGINT) AS k_eff
         |        FROM r WHERE rn <= $KmvK GROUP BY 1),
         |p AS (SELECT a.src AS src_a, b.src AS src_b, a.sig AS sa,
         |             b.sig AS sb,
         |             list_sort(list_distinct(list_concat(a.sig, b.sig)))
         |               AS u,
         |             least(a.k_eff, b.k_eff,
         |               CAST(len(list_distinct(list_concat(a.sig, b.sig)))
         |                 AS BIGINT)) AS k_used
         |      FROM sig a JOIN sig b ON a.src < b.src),
         |q AS (SELECT src_a, src_b, k_used,
         |             u[1:CAST(k_used AS INT)] AS pool
         |      FROM p),
         |m AS (SELECT q.src_a, q.src_b, q.k_used,
         |             CAST(len(list_intersect(list_intersect(q.pool, p.sa),
         |               p.sb)) AS BIGINT) AS n_match,
         |             q.pool[CAST(q.k_used AS INT)] AS pool_max
         |      FROM q JOIN p ON q.src_a = p.src_a AND q.src_b = p.src_b)
         |SELECT src_a, src_b, k_used, n_match,
         |       CASE WHEN k_used < 2 THEN NULL
         |            ELSE CAST(n_match AS DOUBLE) / CAST(k_used AS DOUBLE)
         |            END AS jaccard_kmv,
         |       CASE WHEN k_used < 2 THEN NULL
         |            ELSE CAST(k_used - 1 AS DOUBLE) * 1152921504606846976.0
         |                 / CAST(pool_max AS DOUBLE) END AS union_est
         |FROM m""".stripMargin,

    // generated unrolled twins — see TextAnalysis.bpeTrainOracleSql /
    // bpeApplyOracleSql (shared CTE chain)
    "q_bpe_train" -> TextAnalysis.bpeTrainOracleSql(BpeRounds),
    "q_bpe_apply" -> TextAnalysis.bpeApplyOracleSql(BpeRounds),

    // mirrors WordpieceStats: the recursive CTE runs the same greedy
    // longest-match automaton (list_max over matching pieces, UNK
    // advances 1) against the interpolated shared vocabulary; docs
    // with zero words coalesce to zeros off the doc spine
    "q_wordpiece" ->
      s"""WITH RECURSIVE w AS (
         |  SELECT doc_id, unnest($sqlFoldToks) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |st AS (
         |  SELECT doc_id, w, 1 AS pos, 0 AS n_tok, 0 AS n_unk FROM w
         |  UNION ALL
         |  SELECT doc_id, w, pos + coalesce(bl, 1),
         |         n_tok + CASE WHEN bl IS NULL THEN 0 ELSE 1 END,
         |         n_unk + CASE WHEN bl IS NULL THEN 1 ELSE 0 END
         |  FROM (SELECT doc_id, w, pos, n_tok, n_unk,
         |          list_max(list_transform(list_filter(
         |            ${WordpieceStats.vocabSqlList},
         |            p -> substr(w, pos, len(p)) = p), p -> len(p))) AS bl
         |        FROM st WHERE pos <= len(w)) x),
         |fin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |               CAST(sum(n_unk) AS BIGINT) AS n_unk
         |        FROM st WHERE pos > len(w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(f.n_words, 0) AS n_words,
         |       coalesce(f.n_tokens, 0) AS n_tokens,
         |       coalesce(f.n_unk, 0) AS n_unk,
         |       CASE WHEN coalesce(f.n_words, 0) = 0 THEN NULL
         |            ELSE CAST(f.n_tokens + f.n_unk AS DOUBLE)
         |                 / CAST(f.n_words AS DOUBLE) END AS fertility
         |FROM documents d LEFT JOIN fin f USING (doc_id)
         |WHERE d.text IS NOT NULL""".stripMargin
  )
}
