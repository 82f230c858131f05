package graft.entry

import graft.llm.{Contamination, Dedup, Linkage, Preference, Privacy, Selection, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql._

/** Round-14 curation wave: Fellegi–Sunter record linkage, ε-DP noisy
  * count release, DoReMi-style one-step domain reweighting, Unicode-
  * script profiling, and the LSH banding planner. Operators live in
  * [[graft.llm.Linkage]], [[graft.llm.Privacy]], [[graft.llm.Selection]],
  * [[graft.llm.TextAnalysis]] and [[graft.llm.Dedup]]; every constant
  * below embeds token-identically in the DuckDB twins.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Fellegi–Sunter knobs: fixed match prior, top-K pairs. */
  private val FsM = 0.9; private val FsTopK = 50
  /** DP-release knobs: epsilon and the deterministic noise salt. */
  private val DpEps = 0.5; private val DpSalt = 3
  /** DoReMi step size. */
  private val DrEta = 1.0
  /** LSH planner configurations (b, r) — powers of two only (the
    * exact-squaring contract of [[Dedup.lshPlan]]). */
  private val LshConfigs = Seq((4, 4), (8, 4), (16, 4), (8, 8), (16, 2))
  private val LshGridN = 19
  /** pass@k: task residue + the k grid. */
  private val PassTaskMod = 37L; private val PassKs = Seq(1, 5, 10)
  /** Bradley–Terry MM rounds and the duel length-bucket width. */
  private val BtRounds = 4; private val DuelBucket = 128L
  /** Canary strings the release audit scans for (tokenization-proof;
    * the driver corpus plants none — exact-zero parity — and the
    * adversarial corpus plants canary 0). */
  private val Canaries = Seq("GRAFT-CANARY-7Q4-ZEBRA", "GRAFT-CANARY-0X5591")
  /** Rule-ablation gate battery: blocklist / margin / length / lang
    * agreement — and the unique-kill attribution per rule. */
  private val BlockedWords = Seq("slow", "broken", "spam", "casino")
  private val RuleMinToks = 5

  /** UniMax allocation: token budget + per-language repeat cap. The
    * budget sits below Σcap at sf0.01+ (waterfill regime) and above it
    * at sf0.001 (all-capped regime) — both branches gate-exercised. */
  private val UmBudget = 5000L; private val UmMaxEpochs = 2L

  /** Contrastive mining: FIXED-SIZE anchor panel (residue AND id
    * ceiling — a rate alone is quadratic; 220 s at sf1, measured) +
    * hard negatives per anchor. */
  private val CmAnchorMod = 4L; private val CmAnchorMax = 1000L
  private val CmKNeg = 3

  /** Language-preference duels: within (source, length-bucket) blocks,
    * the higher-classifier-margin doc's language wins (shared by
    * q_duel_matrix and q_bradley_terry; the oracle derives the same
    * duel stream by self-join — identical pair SET). */
  private def langDuels(s: SparkSession, d: String): DataFrame =
    Preference.duels(Tables.documents(s, d),
      Seq("src" -> col("source"),
        "lb" -> call_function("div", col("n_chars"), lit(DuelBucket))),
      col("lang"), Selection.clfMargin(col("text")), col("doc_id"))

  val queries: Map[String, Q] = Map(
    // Fellegi–Sunter candidate scoring over (nation, balance-bucket)
    // blocked customer pairs: u-rates estimated from the candidates,
    // quantized log2 weights, top-50 by summed weight. The block
    // tuple is the scale knob — nation alone left 6k-record blocks at
    // sf1 (18M pairs EACH, measured OOM); the balance bucket bounds
    // the per-cell quadratic, exactly the editDistancePairs contract
    "q_fs_linkage" -> ((s, d) =>
      Linkage.fellegiSunter(Tables.customer(s, d), col("c_custkey"),
        Seq("nation" -> col("c_nationkey"),
          "acct_k" -> floor(col("c_acctbal") / lit(1000.0))),
        Seq("segment" -> col("c_mktsegment"),
          "name2" -> substring(col("c_name"), -2, 2),
          "cent" -> (floor(col("c_acctbal") * lit(100.0)) % lit(10L))),
        FsM, FsTopK)),

    // ε-DP per-source count release with deterministic hash-Laplace
    // noise — one map-combined groupBy + a |groups|-row projection
    "q_dp_release" -> ((s, d) =>
      Privacy.dpRelease(Tables.documents(s, d), col("source"), DpEps,
        DpSalt)),

    // one-step DoReMi domain reweighting: mixture shares scaled by
    // exp(eta x excess proxy loss), proxy = negated classifier margin
    "q_domain_reweight" -> ((s, d) =>
      Selection.domainReweight(Tables.documents(s, d), col("source"),
        -Selection.clfMargin(col("text")), DrEta)),

    // Unicode-script character mix per source — the label-vs-script
    // drift monitor; six fused regexp strips + one groupBy
    "q_script_profile" -> ((s, d) =>
      TextAnalysis.scriptProfile(Tables.documents(s, d), col("source"),
        col("text"))),

    // LSH banding S-curves for the candidate configs — pure generated
    // math (exact squaring/sqrt chains, never libm pow)
    "q_lsh_plan" -> ((s, d) => Dedup.lshPlan(s, LshConfigs, LshGridN)),

    // unbiased pass@k over doc_id-residue tasks with the classifier
    // gate as the verdict — quantized log-product, k > n emits NULL
    "q_pass_at_k" -> ((s, d) =>
      Preference.passAtK(Tables.documents(s, d),
        col("doc_id") % PassTaskMod,
        Selection.clfMargin(col("text")) > 0L, PassKs)),

    // per-language-pair duel counts and win rates off the shared
    // blocked preference stream
    "q_duel_matrix" -> ((s, d) => Preference.winMatrix(langDuels(s, d))),

    // Bradley-Terry strength ratings from the same duels — 4 MM
    // rounds, every per-round sum quantized (bit-deterministic)
    "q_bradley_terry" -> ((s, d) =>
      Preference.bradleyTerry(langDuels(s, d), BtRounds)),

    // canary-string memorization probe — exact substring containment,
    // zero-shuffle projection; empty = healthy (adversarial plants one)
    "q_canary_scan" -> ((s, d) =>
      Contamination.canaryScan(Tables.documents(s, d), col("doc_id"),
        col("text"), Canaries)),

    // quality-gate ablation: per rule, how many docs it fails and how
    // many it ALONE fails (unique kills — the redundancy audit a gate
    // battery needs before dropping a rule); one fused scan, 1-row agg
    "q_rule_ablation" -> ((s, d) => {
      import graft.functions.GraftFunctions
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val f1 = arrays_overlap(GraftFunctions.tokensFolded(col("text")),
        array(BlockedWords.map(lit): _*))
      val f2 = Selection.clfMargin(col("text")) <= 0L
      val f3 = size(GraftFunctions.tokens(col("text"))) < RuleMinToks
      val f4 = !(TextAnalysis.langId(col("text")) <=> col("lang"))
      val flags = docs.select(f1.as("f1"), f2.as("f2"), f3.as("f3"),
        f4.as("f4"))
      def others(i: Int) = (1 to 4).filter(_ != i)
        .map(j => !col(s"f$j")).reduce(_ && _)
      val aggs = (1 to 4).flatMap(i => Seq(
        sum(when(col(s"f$i"), 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col(s"f$i") && others(i), 1L).otherwise(0L)).as(s"u$i")))
      val a = flags.agg(count(lit(1)).as("n_docs"), aggs: _*)
      val names = Seq("blocklist", "low_margin", "too_short",
        "lang_mismatch")
      a.select(explode(array(names.zipWithIndex.map { case (nm, ix) =>
          struct(lit(nm).as("rule"), col(s"n${ix + 1}").as("n_fail"),
            col(s"u${ix + 1}").as("n_unique_fail"), col("n_docs"))
        }: _*)).as("r"))
        .select(col("r.rule").as("rule"), col("r.n_fail").as("n_fail"),
          col("r.n_unique_fail").as("n_unique_fail"),
          col("r.n_docs").as("n_docs"))
        .withColumn("fail_rate",
          col("n_fail").cast("double") / col("n_docs").cast("double"))
    }),

    // UniMax budget allocation across languages: uniform waterfill
    // under a 2-epoch per-language cap — one corpus token groupBy,
    // closed-form cap/water-level split over the |langs|-row table
    "q_unimax" -> ((s, d) =>
      Selection.unimaxAlloc(Tables.documents(s, d), col("lang"),
        coalesce(TextAnalysis.bpeTokenEstimate(col("text")), lit(0L)),
        UmBudget, UmMaxEpochs)),

    // contrastive training-pair mining: nearest same-label positive +
    // top-3 different-label hard negatives per anchor — bounded panel
    "q_contrastive_pairs" -> ((s, d) =>
      Similarity.contrastiveMine(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), col("label"),
        col("vec_id") % CmAnchorMod === 0L && col("vec_id") < CmAnchorMax,
        CmKNeg))
  )

  // ======================================================================
  // DuckDB oracle twins
  // ======================================================================

  private val SqlAlnumToks =
    "list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), t -> len(t) > 0)"

  /** Exact x^n as the exponentiation-by-squaring multiplication chain —
    * textually mirrors [[Dedup.lshPlan]]'s powChain (libm pow is only
    * within-1-ulp and may differ across engines). */
  private def powSql(x: String, n: Int): String =
    if (n == 1) x else { val h = powSql(x, n / 2); s"($h * $h)" }
  private def sqrtSql(x: String, r: Int): String =
    if (r == 1) x else sqrtSql(s"sqrt($x)", r / 2)

  /** Per-field FS weight terms (shared clamp + log2 chains). */
  private def fsWeightSql(f: String): String = {
    val u = s"least(greatest(CAST(na_$f AS DOUBLE) / CAST(n AS DOUBLE), " +
      "1e-9), (1.0 - 1e-9))"
    s"""CASE WHEN agree_$f
       |  THEN CAST(floor(ln(0.9 / $u) / ln(2.0) * 1000000.0) AS BIGINT)
       |  ELSE CAST(floor(ln((1.0 - 0.9) / (1.0 - $u)) / ln(2.0)
       |       * 1000000.0) AS BIGINT) END""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_fs_linkage" -> {
      val fields = Seq("segment", "name2", "cent")
      s"""WITH c AS (
         |  SELECT c_custkey AS rid, c_nationkey AS nation,
         |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acct_k,
         |         c_mktsegment AS segment,
         |         right(c_name, 2) AS name2,
         |         CAST(floor(c_acctbal * 100.0) AS BIGINT) % 10 AS cent
         |  FROM customer),
         |p AS (
         |  SELECT a.rid AS id1, b.rid AS id2,
         |    (a.segment IS NOT DISTINCT FROM b.segment) AS agree_segment,
         |    (a.name2 IS NOT DISTINCT FROM b.name2) AS agree_name2,
         |    (a.cent IS NOT DISTINCT FROM b.cent) AS agree_cent
         |  FROM c a JOIN c b ON a.nation = b.nation AND a.acct_k = b.acct_k
         |    AND a.rid < b.rid),
         |u AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${fields.map(f => s"CAST(sum(CASE WHEN agree_$f THEN 1 ELSE 0 END) AS BIGINT) AS na_$f").mkString(",\n         |    ")}
         |  FROM p),
         |q AS (
         |  SELECT id1, id2, agree_segment, agree_name2, agree_cent,
         |    ${fields.map(f => s"(CASE WHEN agree_$f THEN 1 ELSE 0 END)").mkString(" + ")} AS n_agree,
         |    ${fields.map(f => "(" + fsWeightSql(f).replace("\n", "\n         |    ") + ")").mkString("\n         |    + ")} AS sq
         |  FROM p CROSS JOIN u)
         |SELECT id1, id2, agree_segment, agree_name2, agree_cent,
         |  CAST(n_agree AS BIGINT) AS n_agree,
         |  CAST(sq AS DOUBLE) / 1000000.0 AS score
         |FROM q ORDER BY sq DESC, id1, id2 LIMIT $FsTopK""".stripMargin
    },

    "q_dp_release" ->
      s"""WITH g AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n
         |           FROM documents GROUP BY 1),
         |r AS (SELECT g, n,
         |        (CAST(${sqlMd5Long(s"'$DpSalt|' || coalesce(CAST(g AS VARCHAR), '') || (CASE WHEN g IS NULL THEN 'N' ELSE 'V' END)")}
         |          % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS p
         |      FROM g)
         |SELECT g,
         |  CAST(greatest(floor(CAST(n AS DOUBLE) +
         |    (-1.0 / $DpEps) * sign(p - 0.5) *
         |    ln(1.0 - 2.0 * abs(p - 0.5))), 0.0) AS BIGINT) AS n_released,
         |  CAST($DpEps AS DOUBLE) AS epsilon
         |FROM r""".stripMargin,

    "q_domain_reweight" ->
      s"""WITH toks AS (SELECT source, $sqlToks AS tk FROM documents),
         |m AS (
         |  SELECT source AS g,
         |    CASE WHEN tk IS NULL THEN NULL
         |      ELSE -CAST(coalesce(list_sum(list_transform(tk, t ->
         |        ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |        AS BIGINT) END AS lq
         |  FROM toks),
         |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
         |          sum(CAST(lq AS HUGEINT)) AS sl
         |        FROM m WHERE lq IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
         |               sum(sl) AS slt FROM per),
         |w1 AS (
         |  SELECT g, n_docs,
         |    CAST(sl AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000.0)
         |      AS mean_loss,
         |    CAST(sl AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000.0)
         |      - CAST(slt AS DOUBLE) / (CAST(nt AS DOUBLE) * 1000.0)
         |      AS excess_loss,
         |    CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE) AS base_share
         |  FROM per CROSS JOIN tot),
         |w2 AS (
         |  SELECT g, n_docs, mean_loss, excess_loss, base_share,
         |    CAST(floor(base_share * exp($DrEta * excess_loss)
         |      * 1.0E12) AS BIGINT) AS rq
         |  FROM w1),
         |rs AS (SELECT CAST(sum(rq) AS BIGINT) AS rst FROM w2)
         |SELECT g, n_docs, mean_loss, excess_loss, base_share,
         |  CAST(rq AS DOUBLE) / CAST(rst AS DOUBLE) AS weight
         |FROM w2 CROSS JOIN rs""".stripMargin,

    "q_script_profile" -> {
      val classes = Seq(
        "latin" -> "[A-Za-z]", "digit" -> "[0-9]",
        "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
        "greek" -> "[\\x{0370}-\\x{03FF}]",
        "han" -> "[\\x{4E00}-\\x{9FFF}]",
        "space" -> "[ \\t\\n]")
      val per = classes.map { case (nm, re) =>
        s"CAST(length(text) - length(regexp_replace(text, '$re', '', 'g')) AS BIGINT) AS __$nm"
      }.mkString(",\n         |    ")
      val sums = classes.map { case (nm, _) =>
        s"CAST(sum(__$nm) AS BIGINT) AS n_$nm" }.mkString(",\n         |    ")
      val fracs = classes.map { case (nm, _) =>
        s"CASE WHEN n_chars = 0 THEN NULL ELSE CAST(n_$nm AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS frac_$nm"
      }.mkString(",\n         |  ")
      s"""WITH per AS (
         |  SELECT source AS g, CAST(length(text) AS BIGINT) AS __c,
         |    $per
         |  FROM documents),
         |a AS (
         |  SELECT g, CAST(sum(__c) AS BIGINT) AS n_chars,
         |    $sums
         |  FROM per GROUP BY 1)
         |SELECT g, n_chars, ${classes.map(c => "n_" + c._1).mkString(", ")},
         |  $fracs
         |FROM a""".stripMargin
    },

    "q_lsh_plan" -> {
      val arms = LshConfigs.map { case (b, r) =>
        val sr = powSql("s", r)
        val p = s"(1.0 - ${powSql(s"(1.0 - $sr)", b)})"
        val t = sqrtSql(s"${1.0 / b}", r)
        s"""SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r, s,
           |  $p AS p_collision, $t AS threshold FROM grid""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH grid AS (
         |  SELECT CAST(i AS DOUBLE) / ${LshGridN + 1}.0 AS s
         |  FROM (SELECT unnest(range(1, ${LshGridN + 1})) AS i))
         |$arms""".stripMargin
    },

    "q_pass_at_k" -> {
      // each k-arm unrolls the binomial ratio as the same fixed-order
      // (term)·(term)·… chain the engine builds — divides/multiplies
      // only, never ln/exp (last-ulp libm divergence, measured here)
      val arms = PassKs.map { k =>
        val prod = (0 until k).map(i =>
          s"(CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE))")
          .mkString(" * ")
        s"""SELECT task, n, c, CAST($k AS BIGINT) AS k,
           |  CASE WHEN n < $k THEN NULL
           |       WHEN n - c < $k THEN 1.0
           |       ELSE 1.0 - ($prod) END AS pass_rate
           |FROM per""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |m AS (
         |  SELECT doc_id % $PassTaskMod AS task,
         |    CASE WHEN tk IS NULL THEN NULL
         |      ELSE (CAST(coalesce(list_sum(list_transform(tk, t ->
         |        ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |        AS BIGINT) > 0) END AS ok
         |  FROM toks),
         |per AS (SELECT task, CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
         |        FROM m WHERE ok IS NOT NULL GROUP BY 1)
         |$arms""".stripMargin
    },

    "q_duel_matrix" ->
      s"""WITH $DuelCte
         |g AS (
         |  SELECT least(win, lose) AS item_a, greatest(win, lose) AS item_b,
         |    CAST(count(*) AS BIGINT) AS n_duels,
         |    CAST(sum(CASE WHEN win < lose THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins_a
         |  FROM d GROUP BY 1, 2)
         |SELECT item_a, item_b, n_duels, wins_a,
         |  CAST(wins_a AS DOUBLE) / CAST(n_duels AS DOUBLE) AS win_rate_a
         |FROM g""".stripMargin,

    "q_bradley_terry" -> {
      // unrolled MM chain: each round = denominator sums (quantized),
      // raw update, quantized normalizer — mirrors Preference
      // .bradleyTerry's driver iteration term for term
      val rounds = (1 to BtRounds).map { t =>
        val prev = s"w${t - 1}"
        s"""d$t AS (
           |  SELECT x.item,
           |    CAST(sum(CAST(floor(CAST(nij.n AS DOUBLE) / (x.w + y.w)
           |      * 1.0E9) AS BIGINT)) AS BIGINT) AS dq
           |  FROM $prev x JOIN nij ON nij.i = x.item
           |  JOIN $prev y ON y.item = nij.j
           |  GROUP BY 1),
           |u$t AS (
           |  SELECT i.item,
           |    CASE WHEN d.dq IS NULL OR d.dq = 0 THEN 0.0
           |         ELSE CAST(coalesce(wn.w, 0) AS DOUBLE)
           |              / (CAST(d.dq AS DOUBLE) / 1.0E9) END AS wraw
           |  FROM items i LEFT JOIN d$t d ON d.item = i.item
           |  LEFT JOIN wins wn ON wn.item = i.item),
           |s$t AS (SELECT CAST(sum(CAST(floor(wraw * 1.0E9) AS BIGINT))
           |          AS BIGINT) AS sq FROM u$t),
           |w$t AS (SELECT item, wraw * (CAST(ni AS DOUBLE)
           |          / (CAST(sq AS DOUBLE) / 1.0E9)) AS w
           |        FROM u$t CROSS JOIN s$t CROSS JOIN cnt)""".stripMargin
      }.mkString(",\n")
      s"""WITH $DuelCte
         |wins AS (SELECT win AS item, CAST(count(*) AS BIGINT) AS w
         |         FROM d GROUP BY 1),
         |pairs AS (SELECT win AS i, lose AS j, CAST(count(*) AS BIGINT) AS n
         |          FROM d GROUP BY 1, 2),
         |nij AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
         |          SELECT i, j, n FROM pairs
         |          UNION ALL SELECT j AS i, i AS j, n FROM pairs)
         |        GROUP BY 1, 2),
         |items AS (SELECT DISTINCT i AS item FROM nij),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS ni FROM items),
         |w0 AS (SELECT item, 1.0 AS w FROM items),
         |$rounds
         |SELECT i.item, CAST(coalesce(wn.w, 0) AS BIGINT) AS n_wins,
         |  nd.n_duels, wf.w AS rating
         |FROM items i LEFT JOIN wins wn ON wn.item = i.item
         |JOIN (SELECT i AS item, CAST(sum(n) AS BIGINT) AS n_duels
         |      FROM nij GROUP BY 1) nd ON nd.item = i.item
         |JOIN w$BtRounds wf ON wf.item = i.item""".stripMargin
    },

    "q_rule_ablation" -> {
      val sums = (1 to 4).flatMap(i => Seq(
        s"CAST(sum(CASE WHEN f$i THEN 1 ELSE 0 END) AS BIGINT) AS n$i",
        s"CAST(sum(CASE WHEN f$i AND ${(1 to 4).filter(_ != i)
          .map(j => s"NOT f$j").mkString(" AND ")} THEN 1 ELSE 0 END) AS BIGINT) AS u$i"))
        .mkString(",\n         |    ")
      val arms = Seq("blocklist" -> 1, "low_margin" -> 2,
        "too_short" -> 3, "lang_mismatch" -> 4).map { case (nm, i) =>
        s"""SELECT '$nm' AS rule, n$i AS n_fail, u$i AS n_unique_fail,
           |  n_docs, CAST(n$i AS DOUBLE) / CAST(n_docs AS DOUBLE)
           |    AS fail_rate FROM a""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $sqlToks AS tk,
         |    list_filter(string_split(lower(translate(text, 'İΣ', 'iσ')),
         |      ' '), t -> len(t) > 0) AS ftk
         |  FROM documents WHERE text IS NOT NULL),
         |sc AS (
         |  SELECT doc_id, 'de' AS c, CAST(len(list_filter(tk, t -> lower(t) IN ('der','die','und','das','ist'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) AS s FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'en', CAST(len(list_filter(tk, t -> lower(t) IN ('the','and','of','to','is'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'es', CAST(len(list_filter(tk, t -> lower(t) IN ('el','la','que','los','es'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'fr', CAST(len(list_filter(tk, t -> lower(t) IN ('le','la','et','les','est'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks),
         |g AS (
         |  SELECT doc_id, CASE WHEN s IS NULL THEN NULL ELSE c END
         |    AS lang_guess
         |  FROM (SELECT doc_id, c, s, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY s DESC, c) AS rn FROM sc) t
         |  WHERE rn = 1),
         |f AS (
         |  SELECT t.doc_id,
         |    (len(list_filter(ftk, x -> x IN (${BlockedWords.map(w => s"'$w'").mkString(", ")}))) > 0) AS f1,
         |    (CAST(coalesce(list_sum(list_transform(tk, t2 ->
         |      ((${sqlMd5Long("t2")} % 64) * 2654435761) % 2001 - 1000)), 0)
         |      AS BIGINT) <= 0) AS f2,
         |    (len(tk) < $RuleMinToks) AS f3,
         |    (g.lang_guess IS DISTINCT FROM t.lang) AS f4
         |  FROM toks t JOIN g USING (doc_id)),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    $sums
         |  FROM f)
         |$arms""".stripMargin
    },

    "q_unimax" ->
      s"""WITH t AS (
         |  SELECT lang AS g,
         |    COALESCE(list_sum(list_transform($SqlAlnumToks,
         |      t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS tq
         |  FROM documents),
         |per AS (SELECT g, CAST(sum(tq) AS BIGINT) AS n_tokens
         |        FROM t GROUP BY 1),
         |c AS (SELECT g, n_tokens, n_tokens * $UmMaxEpochs AS cap FROM per),
         |r AS (SELECT g, n_tokens, cap,
         |        CAST(row_number() OVER (ORDER BY cap, g NULLS LAST)
         |          AS BIGINT) AS rn,
         |        CAST(sum(cap) OVER (ORDER BY cap, g NULLS LAST ROWS BETWEEN
         |          UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
         |      FROM c),
         |lc AS (SELECT CAST(count(*) AS BIGINT) AS L FROM r),
         |af AS (SELECT r.*, lc.L,
         |         (CAST(cap AS HUGEINT) * (lc.L - rn + 1)
         |          + CAST(prefix - cap AS HUGEINT)
         |          <= CAST($UmBudget AS HUGEINT)) AS affordable
         |       FROM r CROSS JOIN lc),
         |kk AS (SELECT
         |         CAST(coalesce(sum(CASE WHEN affordable THEN 1 END), 0)
         |           AS BIGINT) AS k,
         |         CAST(coalesce(sum(CASE WHEN affordable THEN cap END), 0)
         |           AS BIGINT) AS prefix_k
         |       FROM af),
         |al AS (SELECT af.g, af.n_tokens, af.cap,
         |         CASE WHEN af.rn <= kk.k THEN CAST(af.cap AS DOUBLE)
         |              WHEN af.L = kk.k THEN NULL
         |              ELSE CAST($UmBudget - kk.prefix_k AS DOUBLE)
         |                   / CAST(af.L - kk.k AS DOUBLE) END AS allocated
         |       FROM af CROSS JOIN kk)
         |SELECT g, n_tokens, cap, allocated,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE allocated / CAST(n_tokens AS DOUBLE) END AS epochs
         |FROM al""".stripMargin,

    "q_canary_scan" -> {
      val values = Canaries.zipWithIndex
        .map { case (c, i) => s"($i, '$c')" }.mkString(", ")
      s"""SELECT doc_id, CAST(cid AS BIGINT) AS canary_id, canary
         |FROM documents
         |CROSS JOIN (VALUES $values) AS c(cid, canary)
         |WHERE text IS NOT NULL AND contains(text, canary)""".stripMargin
    },

    "q_contrastive_pairs" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
         |a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS albl
         |      FROM base WHERE vec_id % $CmAnchorMod = 0
         |        AND vec_id < $CmAnchorMax),
         |s AS (
         |  SELECT a.anchor_id, a.albl, b.vec_id, b.label AS lbl,
         |    ${sqlCos("b.embedding", "a.av")} AS cos
         |  FROM base b CROSS JOIN a WHERE b.vec_id <> a.anchor_id),
         |p AS (SELECT anchor_id, 'positive' AS role, CAST(rn AS BIGINT)
         |        AS rank, vec_id, cos
         |      FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |              ORDER BY cos DESC, vec_id) AS rn
         |            FROM s WHERE lbl = albl) WHERE rn <= 1),
         |ng AS (SELECT anchor_id, 'hard_negative' AS role,
         |         CAST(rn AS BIGINT) AS rank, vec_id, cos
         |       FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |               ORDER BY cos DESC, vec_id) AS rn
         |             FROM s WHERE lbl <> albl) WHERE rn <= $CmKNeg)
         |SELECT * FROM p UNION ALL SELECT * FROM ng""".stripMargin
  )

  /** Shared duel-stream CTE (q_duel_matrix, q_bradley_terry): the
    * margin-scored blocked self-join twin of [[langDuels]] — the pair
    * SET is identical to the engine's sorted-array unroll. Leaves a
    * CTE `d(win, lose)` in scope (caller continues the WITH chain). */
  private lazy val DuelCte: String =
    s"""toks AS (SELECT doc_id, source, lang, n_chars, $sqlToks AS tk
       |         FROM documents),
       |sc AS (
       |  SELECT doc_id, source, lang, n_chars // $DuelBucket AS lb,
       |    CASE WHEN tk IS NULL THEN NULL
       |      ELSE CAST(coalesce(list_sum(list_transform(tk, t ->
       |        ((${sqlMd5Long("t")} % 64) * 2654435761) % 2001 - 1000)), 0)
       |        AS BIGINT) END AS m
       |  FROM toks),
       |r AS (SELECT * FROM sc WHERE lang IS NOT NULL AND m IS NOT NULL
       |      AND source IS NOT NULL AND lb IS NOT NULL),
       |d AS (
       |  SELECT CASE WHEN a.m > b.m THEN a.lang ELSE b.lang END AS win,
       |         CASE WHEN a.m > b.m THEN b.lang ELSE a.lang END AS lose
       |  FROM r a JOIN r b ON a.source = b.source AND a.lb = b.lb
       |    AND a.doc_id < b.doc_id
       |  WHERE a.lang <> b.lang AND a.m <> b.m),""".stripMargin
}
