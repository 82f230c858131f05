package graft.entry

import graft.functions.GraftFunctions.{tokens, tokensFolded}
import graft.llm.{Bloom, Selection, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Model-based data-selection queries: the hashed linear quality
  * classifier (GPT-3/CCNet shape), DSIR importance weighting (Xie et
  * al. 2023), and the Bloom-filter membership gate (broadcast-state
  * prefilter for cross-corpus dedup). Operators live in
  * [[graft.llm.Selection]] and [[graft.llm.Bloom]]; every quantization
  * and hash below embeds identically in the DuckDB twins.
  */
object SelectionQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Bloom width for q_bloom_gate: 4096 bits / k=4. Sized so sf0.01's
    * ~46-key reference slice leaves the filter sparse (FP ~ 1e-5) while
    * sf0.1's ~10× slice pushes occupancy to ~0.36 and makes genuine
    * false positives appear — both regimes of the accounting ledger get
    * exercised without changing the query. */
  private val BloomBits = 4096

  /** Word blocklist for q_word_filter: two tokens that occur in the
    * synthetic corpus ("slow" ~2%/doc) and two that never do, so both
    * the hit and miss paths run on real data. */
  private val BlockedWords = Seq("slow", "broken", "spam", "casino")

  /** Fleiss-kappa rater thresholds: min tokens (the rule-ablation
    * value) and min chars. */
  private val FkMinToks = 5; private val FkMinChars = 30L

  val queries: Map[String, Q] = Map(
    // fastText-style hashed linear scorer — zero-shuffle codegen
    // projection over the token array
    "q_quality_classifier" -> ((s, d) =>
      Selection.qualityClassifier(Tables.documents(s, d), col("doc_id"),
        col("text"))),

    // DSIR: importance log-weights against the lang='en' target slice;
    // one explode, 256-key counts, broadcast weight join, one doc shuffle
    "q_dsir" -> ((s, d) =>
      Selection.dsirScore(Tables.documents(s, d), col("doc_id"),
        col("text"), col("lang") === "en")),

    // C4-style word-blocklist gate — case-insensitive token match,
    // zero-shuffle projection
    "q_word_filter" -> ((s, d) =>
      TextAnalysis.wordBlocklist(Tables.documents(s, d), col("doc_id"),
        col("text"), BlockedWords)),

    // Bloom membership gate: reference slice doc_id % 11 == 0 folds
    // into broadcast bit-array state; the probe side is a projection;
    // exact is_dup rides along as the false-positive ledger
    "q_bloom_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Bloom.gate(docs.filter(col("doc_id") % 11 === 0),
        docs.filter(col("doc_id") % 11 =!= 0),
        col("doc_id"), col("text"), BloomBits)
    }),

    // priority sampling: k=100 weight-proportional docs (weight =
    // n_chars) via hash-uniform u div w priorities — all integer, heap
    // top-k, no shuffle
    "q_priority_sample" -> ((s, d) =>
      Selection.prioritySample(Tables.documents(s, d), col("doc_id"),
        col("n_chars"), k = 100)),

    // stratified twin: 20 weight-proportional docs per language — one
    // windowed shuffle on the group key, no global order
    "q_priority_sample_group" -> ((s, d) =>
      Selection.prioritySamplePerGroup(Tables.documents(s, d), col("lang"),
        col("doc_id"), col("n_chars"), k = 20)),

    // Cohen's kappa between the model gate (classifier keep) and the
    // rule gate (blocklist keep): both evaluate inside the scan
    // projection, one 5-long reduce — calibration at parquet-read speed
    // rule gate via codegen arrays_overlap instead of an interpreted
    // filter+isin lambda — same boolean on null-free token arrays
    "q_scorer_kappa" -> ((s, d) =>
      Selection.agreementKappa(Tables.documents(s, d),
        Selection.clfKeep(col("text")),
        !arrays_overlap(tokensFolded(col("text")),
          array(BlockedWords.map(lit): _*)))),

    // Fleiss' kappa across three binary quality gates (classifier
    // margin, token floor, char floor) — do the gates agree beyond
    // their marginal vote rates? Zero shuffles: raters evaluate in the
    // scan projection, totals are one map-combined 1-row aggregate
    "q_fleiss_kappa" -> ((s, d) =>
      graft.agg.Inference.fleissKappa(
        Tables.documents(s, d).filter(col("text").isNotNull),
        Seq(Selection.clfMargin(col("text")) > 0L,
          size(tokens(col("text"))) >= FkMinToks,
          col("n_chars") >= FkMinChars))),

    // leave-one-source-out quality ablation: corpus mean classifier
    // margin with vs without each source — the "should we drop this
    // feed?" readout; one group agg + a ≤|sources|-row window
    "q_source_ablation" -> ((s, d) =>
      Selection.sourceAblation(Tables.documents(s, d), col("source"),
        col("text"))
        .withColumnsRenamed(Map("g" -> "source")))
  )

  // ======================================================================
  // DuckDB oracle twins — hash/quantization formulas mirror the Scala
  // operator constants term for term (md5Long = first 15 md5 hex digits;
  // Scale = 1e9; weight mix = Weyl constant 2654435761).
  // ======================================================================

  /** The 4 bloom positions of an md5 hex column — offsets 1/9/17/25,
    * 7 hex digits (28 bits) each, mod [[BloomBits]]. */
  private def sqlBloomPos(h: String): String =
    Seq(1, 9, 17, 25).map(o =>
      s"CAST('0x'||substring($h,$o,7) AS BIGINT) % $BloomBits")
      .mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(
    // the (n_docs, s_votes, s_agree) totals are exact LONGs; p_bar /
    // p_e / kappa replay the engine's double chain token-for-token
    "q_fleiss_kappa" -> {
      val margin = s"CAST(coalesce(list_sum(list_transform(tk, t -> " +
        s"((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0) " +
        "AS BIGINT)"
      val pbar = "CAST(s_agree AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 6.0)"
      val p1 = "CAST(s_votes AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 3.0)"
      val pe = s"(($p1) * ($p1) + (1.0 - ($p1)) * (1.0 - ($p1)))"
      s"""WITH toks AS (SELECT $sqlToks AS tk, n_chars FROM documents
         |              WHERE text IS NOT NULL),
         |v AS (SELECT
         |    (CASE WHEN $margin > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN len(tk) >= $FkMinToks THEN 1 ELSE 0 END)
         |  + (CASE WHEN n_chars >= $FkMinChars THEN 1 ELSE 0 END) AS p
         |  FROM toks),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(coalesce(sum(p), 0) AS BIGINT) AS s_votes,
         |        CAST(coalesce(sum(p * (p - 1) + (3 - p) * (2 - p)), 0)
         |          AS BIGINT) AS s_agree
         |      FROM v)
         |SELECT n_docs, CAST(3 AS BIGINT) AS n_raters, s_votes, s_agree,
         |  CASE WHEN n_docs = 0 THEN NULL ELSE $pbar END AS p_bar,
         |  CASE WHEN n_docs = 0 THEN NULL ELSE $pe END AS p_e,
         |  CASE WHEN n_docs = 0 OR 1.0 - $pe = 0.0 THEN NULL
         |       ELSE (($pbar) - $pe) / (1.0 - $pe) END AS kappa
         |FROM a""".stripMargin
    },

    "q_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |m AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
         |    CASE WHEN tk IS NULL THEN NULL
         |      ELSE CAST(coalesce(list_sum(list_transform(tk, t ->
         |        ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |        AS BIGINT) END AS q_margin
         |  FROM toks)
         |SELECT doc_id, n_toks, q_margin,
         |  CASE WHEN n_toks = 0 THEN 0.0
         |       ELSE CAST(q_margin AS DOUBLE) / (CAST(n_toks AS DOUBLE) * 1000.0)
         |  END AS q_score,
         |  (n_toks > 0 AND q_margin > 0) AS keep
         |FROM m""".stripMargin,

    "q_source_ablation" ->
      s"""WITH toks AS (SELECT source, $sqlToks AS tk FROM documents
         |              WHERE source IS NOT NULL),
         |m AS (
         |  SELECT source,
         |    CAST(coalesce(list_sum(list_transform(tk, t ->
         |      ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |      AS BIGINT) AS q_margin
         |  FROM toks),
         |per AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
         |          sum(CAST(q_margin AS HUGEINT)) AS sm
         |        FROM m GROUP BY 1),
         |w AS (SELECT g, n_docs, sm,
         |        CAST(sum(n_docs) OVER () AS BIGINT) AS nt,
         |        sum(sm) OVER () AS smt FROM per)
         |SELECT g AS source, n_docs,
         |  CAST(smt AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_margin_all,
         |  CASE WHEN nt = n_docs THEN NULL
         |       ELSE CAST(smt - sm AS DOUBLE) / CAST(nt - n_docs AS DOUBLE)
         |  END AS mean_margin_without,
         |  CASE WHEN nt = n_docs THEN NULL
         |       ELSE CAST(smt - sm AS DOUBLE) / CAST(nt - n_docs AS DOUBLE)
         |            - CAST(smt AS DOUBLE) / CAST(nt AS DOUBLE)
         |  END AS delta
         |FROM w""".stripMargin,

    "q_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang, $sqlToks AS tk FROM documents),
         |tw AS (SELECT doc_id, (lang = 'en') AS is_tgt, unnest(tk) AS w FROM toks),
         |bw AS (SELECT doc_id, is_tgt, ${sqlMd5Long("w")} % 256 AS b FROM tw),
         |cnt AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS rawc,
         |         CAST(count(*) FILTER (WHERE is_tgt) AS BIGINT) AS tgtc
         |  FROM bw GROUP BY 1),
         |tot AS (SELECT CAST(sum(rawc) AS BIGINT) AS raw_tot,
         |               CAST(sum(tgtc) AS BIGINT) AS tgt_tot FROM cnt),
         |bk AS (SELECT unnest(range(0, 256)) AS b),
         |wt AS (
         |  SELECT bk.b,
         |    CAST(floor(ln(
         |      ((coalesce(cnt.tgtc, 0) + 1.0) * (tot.raw_tot + 256.0)) /
         |      ((coalesce(cnt.rawc, 0) + 1.0) * (tot.tgt_tot + 256.0)))
         |      * 1000000000.0) AS BIGINT) AS lwq
         |  FROM bk LEFT JOIN cnt USING (b) CROSS JOIN tot),
         |sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |         CAST(sum(lwq) AS BIGINT) AS swq
         |  FROM bw JOIN wt USING (b) GROUP BY 1)
         |SELECT doc_id, n_toks,
         |  CAST(swq AS DOUBLE) / 1000000000.0 AS dsir_logw,
         |  (swq > 0) AS selected
         |FROM sc""".stripMargin,

    "q_word_filter" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter($sqlToks,
         |      t -> lower(t) IN (${BlockedWords.map(w => s"'$w'").mkString(", ")})))
         |      AS BIGINT) AS n_blocked
         |  FROM documents)
         |SELECT doc_id, n_blocked, (n_blocked = 0) AS keep FROM m""".stripMargin,

    "q_bloom_gate" ->
      s"""WITH ref AS (
         |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 11 = 0),
         |rp AS (SELECT unnest(${sqlBloomPos("h")}) AS pos FROM ref),
         |bloom AS (
         |  SELECT pos // 32 AS word,
         |         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS wbits
         |  FROM rp GROUP BY 1),
         |probe AS (
         |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
         |pp AS (SELECT doc_id, h, unnest(${sqlBloomPos("h")}) AS pos FROM probe),
         |ph AS (
         |  SELECT doc_id, h, pos // 32 AS word,
         |         CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS mask
         |  FROM pp),
         |hits AS (
         |  SELECT doc_id, h,
         |    CASE WHEN h IS NULL THEN NULL
         |      ELSE bool_and(coalesce((b.wbits & ph.mask) = ph.mask, false))
         |    END AS maybe_dup
         |  FROM ph LEFT JOIN bloom b USING (word) GROUP BY 1, 2)
         |SELECT doc_id, maybe_dup,
         |       (h IS NOT NULL AND h IN (SELECT h FROM ref)) AS is_dup
         |FROM hits""".stripMargin,

    // priority sampling: same md5-uniform, same integer floor-division
    // (DuckDB // on positive BIGINTs ⇔ Spark div), same (priority,
    // doc_id) order
    "q_priority_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         |         ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} + 1 AS u
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, weight, u // weight AS priority
         |FROM w ORDER BY priority, doc_id LIMIT 100""".stripMargin,

    "q_priority_sample_group" ->
      s"""WITH w AS (
         |  SELECT lang AS grp, doc_id, CAST(n_chars AS BIGINT) AS weight,
         |         ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} + 1 AS u
         |  FROM documents WHERE n_chars > 0),
         |p AS (
         |  SELECT grp, doc_id, weight, u // weight AS priority,
         |         row_number() OVER (PARTITION BY grp
         |           ORDER BY u // weight, doc_id) AS rn
         |  FROM w)
         |SELECT grp, doc_id, weight, priority FROM p WHERE rn <= 20""".stripMargin,

    // contingency table from one conditional aggregate; po/pe/kappa are
    // the SAME SQL text the Spark plan evaluates (Selection.kappaSql)
    "q_scorer_kappa" ->
      s"""WITH toks AS (SELECT $sqlToks AS tk FROM documents),
         |g AS (
         |  SELECT
         |    (len(tk) > 0 AND
         |     CAST(coalesce(list_sum(list_transform(tk, t ->
         |       ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |       AS BIGINT) > 0) AS a,
         |    (len(list_filter(tk,
         |      t -> lower(t) IN (${BlockedWords.map(w => s"'$w'").mkString(", ")}))) = 0) AS b
         |  FROM toks),
         |ct AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(*) FILTER (WHERE a AND b) AS BIGINT) AS n11,
         |         CAST(count(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS n10,
         |         CAST(count(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS n01,
         |         CAST(count(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT) AS n00
         |  FROM g)
         |SELECT n, n11, n10, n01, n00,
         |       ${Selection.poSql("n", "n11", "n00")} AS po,
         |       ${Selection.peSql("n", "n11", "n10", "n01", "n00")} AS pe,
         |       ${Selection.kappaSql("n", "n11", "n10", "n01", "n00")} AS kappa
         |FROM ct""".stripMargin
  )
}
