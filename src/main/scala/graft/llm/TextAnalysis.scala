package graft.llm

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (driver north-star).
  * Everything is built from codegen'd built-ins (no UDFs) so the whole
  * stage fuses into the scan — at 100 TB these run at parquet-read speed.
  */
object TextAnalysis {

  /** Whitespace + punctuation-aware token count ("BPE-ish": splits on
    * non-alphanumeric boundaries, counts sub-word chunks of ≤4 chars as
    * the reference tokenizers do for long words). */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), t => length(t) > 0))

  /** Approximate BPE token count: ceil(chars/4) per word, the standard
    * fast estimator for LLM token budgets. */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(filter(split(text, "[^A-Za-z0-9]+"), t => length(t) > 0),
      lit(0L), (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Whitespace word count. */
  def wordCount(text: Column): Column = size(tokens(text))

  /** Locale-stable lowercase with cross-engine parity. Java's
    * String.toLowerCase applies Unicode FULL case mappings: U+0130 'İ'
    * expands to "i"+U+0307 (combining dot, length 2) and word-final 'Σ'
    * contextually maps to 'ς' (Final_Sigma) — while DuckDB's utf8proc
    * lower() applies SIMPLE mappings ('İ'→'i', 'Σ'→'σ', always).
    * Substituting İ→i and Σ→σ BEFORE lower makes both engines produce
    * identical bytes (those are the only two divergent lowercase mappings
    * under Locale.ROOT; Turkish/Lithuanian rules are locale-gated and the
    * harness mains pin ROOT). Use this — never bare `lower` — on any
    * whole-document column that feeds an oracle-compared value. */
  def foldLower(text: Column): Column = lower(translate(text, "İΣ", "iσ"))

  /** Canonical curation normalization: Unicode NFC (decomposed e+accent ≡
    * precomposed é — without it, content-hash dedup treats equal texts as
    * distinct), then locale-stable lowercase ([[foldLower]] — bare lower()
    * diverges from DuckDB on İ/Σ), then strip control characters. Single
    * codegen-stage projection; the oracle twin is
    * `regexp_replace(lower(nfc_normalize(text)), …)` — DuckDB's simple
    * mappings already produce the folded forms, so the SQL needs no
    * replace. */
  def normalize(text: Column): Column =
    regexp_replace(foldLower(graft.functions.NfcNormalize(text)),
      "[\\x00-\\x1F\\x7F]", "")

  /** Deterministic data-mixture sampling — the training-corpus
    * re-weighting op: keep a row iff md5Long(salt|content) mod 10^6 falls
    * under its group's rate threshold. Content-hash gating (the
    * q_split_assign discipline) makes the decision stable under
    * resharding, repartitioning and reruns, and exactly reproducible in
    * the SQL oracle — none of which holds for seeded `sample()`. A pure
    * codegen filter: pushes to the scan, no shuffle, no RNG state.
    * Thresholds are computed driver-side as longs (rate·10^6) so both
    * engines compare integers — a per-row double→long cast would diverge
    * (Spark truncates, DuckDB rounds). Groups absent from `rates` fall
    * back to `default`; null content hashes to null and is dropped. */
  def mixtureSample(df: DataFrame, content: Column, group: Column,
                    rates: Map[String, Double], default: Double,
                    salt: Int = 7): DataFrame = {
    val scale = 1000000L
    def th(r: Double): Long = math.max(0L, math.min((r * scale).toLong, scale))
    val threshold = rates.foldLeft(lit(th(default))) { case (acc, (g, r)) =>
      when(group === g, lit(th(r))).otherwise(acc)
    }
    df.filter(md5Long(content, salt) % scale < threshold)
  }

  /** C4 line-level cleaning (Raffel et al., arXiv:1910.10683 §2.2) —
    * the rule pack the original C4 build applied BEFORE any model-based
    * scoring, reproduced as a single zero-shuffle projection:
    *
    *  - keep only lines that (after trailing-space trim) end in a
    *    terminal punctuation mark (`.` `!` `?` `"`);
    *  - keep only lines with ≥ 3 space-separated words;
    *  - drop any line containing "javascript" (case-folded);
    *  - gate the whole PAGE: dropped if the text contains "lorem ipsum"
    *    (case-folded) or a curly brace, or if the cleaned text has
    *    fewer than 5 sentence marks (`.` `!` `?`).
    *
    * All string ops live in the Java∩RE2 regex subset and are
    * mirrored operand-for-operand in the oracle (split on single
    * space, rtrim, contains — no locale, no \\s classes whose Unicode
    * width differs between engines). Emits (doc_id, clean_text,
    * n_kept_lines, n_lines, n_sentences, kept) — the cleaned text for
    * survivors, the stats for audit either way. */
  def c4Clean(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = split(text, "\n", -1)
    def keep(l: Column): Column = {
      val t = rtrim(l)
      // explicit last-char compare, NOT a `$`-anchored regex: Java's `$`
      // also matches before a final CR / NEL / LINE-SEP (so a line ending
      // "sentence." + CR would rlike-pass here) while RE2's `$` anchors at true end-of-string —
      // the one regex-subset divergence rtrim doesn't mask (it only
      // strips spaces). substring(-1) sidesteps the anchor entirely on
      // both engines.
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(t, " ", -1), w => length(w) > 0)) >= 3 &&
        !contains(lower(t), lit("javascript"))
    }
    val keptArr = filter(lines, keep _)
    df.select(id.as("doc_id"), text.as("__t"), keptArr.as("__k"))
      .select(col("doc_id"),
        array_join(col("__k"), "\n").as("clean_text"),
        size(col("__k")).cast("long").as("n_kept_lines"),
        size(split(col("__t"), "\n", -1)).cast("long").as("n_lines"),
        length(regexp_replace(array_join(col("__k"), "\n"), "[^.!?]", ""))
          .cast("long").as("n_sentences"),
        (!contains(lower(col("__t")), lit("lorem ipsum")) &&
          !contains(col("__t"), lit("{")) &&
          length(regexp_replace(array_join(col("__k"), "\n"), "[^.!?]", ""))
            .cast("long") >= 5).as("kept"))
  }

  /** Per-group unigram KL drift — the corpus-monitoring op every
    * continuously-ingested training pipeline runs: how far has each
    * source/slice's token distribution drifted from the corpus-wide
    * one? KL(P_g ‖ Q) over HASHED unigram buckets (B = 256, the DSIR
    * discipline: bounded state regardless of vocabulary size, hot
    * tokens spread by hash), Laplace-smoothed on both sides so unseen
    * buckets contribute finitely. A drifting source (new spam
    * campaign, scraper gone wrong, language shift) spikes its KL and
    * pages a human before the data trains anything.
    *
    * Determinism: per-bucket terms p·ln(p/q) quantize to fixed-point
    * longs (floor(term·10^9), the lm-score discipline) so the
    * 256-bucket sum is order-independent integer math; p and q are
    * single correctly-rounded division chains mirrored
    * operand-for-operand in the oracle.
    *
    * Plan shape: one (group, bucket) count aggregate (map-side
    * combined) is the ONLY corpus shuffle; bucket totals, group totals
    * and the dense group×256 grid all derive from that ≤ |groups|·256
    * row table via window sums over the dense grid — one linear plan,
    * one job ([[klFromBucketCounts]] documents the trade).
    * Returns (g, kl_drift). */
  def unigramKlDrift(df: DataFrame, text: Column, group: Column,
                     salt: Int = 17): DataFrame =
    klFromBucketCounts(graft.core.Caches.track(
      klBucketCounts(df, text, group, salt)))

  /** The (g, b, n_gb) hashed-bucket count table [[unigramKlDrift]] is
    * built from — exposed separately because it is ADDITIVE: each token
    * occurrence lives in exactly one micro-batch, so per-batch counts
    * sum to the corpus table (the line-ledger discipline), which is
    * what [[graft.streaming.Streaming.mergeKlLedgerIdempotent]]
    * exploits. */
  def klBucketCounts(df: DataFrame, text: Column, group: Column,
                     salt: Int = 17): DataFrame =
    klBuckets(df, text, group, salt)
      .groupBy(col("g"), col("b")).agg(count(lit(1)).as("n_gb"))

  /** One (g, b) row per token occurrence — [[klBucketCounts]] before
    * its count, the form a ledger merge re-sums in its own shuffle. One
    * native tokenize+hash pass per doc; the corpus-sized explode then
    * carries 8-byte bucket ids instead of token strings (see
    * TokenHashBuckets — value-identical to md5Long(t, salt) % 256). */
  private[graft] def klBuckets(df: DataFrame, text: Column, group: Column,
                               salt: Int = 17): DataFrame =
    df.filter(group.isNotNull)
      .select(group.as("g"), explode(
        graft.functions.TokenHashBuckets(text, salt, 256L)).as("b"))

  /** KL from a (g, b, n_gb) count table (corpus-built or ledger-built —
    * identical results either way, StreamingSpec pins it). Null-group
    * rows are dropped first: groups are non-null by construction
    * ([[klBucketCounts]] filters them), so the only null-g row a caller
    * can hand us is the streaming ledger's batchId sentinel
    * ([[graft.streaming.Streaming.mergeKlLedgerIdempotent]]). Bucket
    * totals are built over the DENSE 0..255 range (empty buckets
    * coalesce to 0) so a globally-unseen bucket still contributes its
    * Laplace-smoothed mass — the oracle mirrors the dense build. */
  def klFromBucketCounts(gb0: DataFrame): DataFrame = {
    val B = 256L
    val gb = gb0.filter(col("g").isNotNull)
    // All totals derive from the DENSE |groups|x256 grid with WINDOW
    // sums instead of broadcast-joined side aggregates: the grid already
    // contains every (g, b) cell (missing counts coalesced to 0), so
    // sum over the b-partition is the dense bucket total and the global
    // sum is the corpus total — value-identical (exact long sums, any
    // order), but the whole computation is one linear plan in ONE job
    // where the broadcast form paid a scheduling round-trip per side
    // aggregate (measured 6 jobs -> 1 at sf0.1). Scale note: the global
    // window funnels the grid through one partition; that is 256·|groups|
    // rows, fine up to ~1e5 groups — beyond that, resurrect the
    // broadcast-side-aggregate form (this monitor's groups are
    // sources/languages, i.e. dozens).
    val grid = gb.groupBy(col("g")).agg(sum(col("n_gb")).as("n_g"))
      .select(col("g"), col("n_g"),
        explode(sequence(lit(0L), lit(B - 1))).as("b"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    grid.join(gb, Seq("g", "b"), "left")
      .select(col("g"), col("b"), col("n_g"),
        coalesce(col("n_gb"), lit(0L)).as("n_gb"))
      .withColumn("n_b", sum(col("n_gb")).over(wB))
      .withColumn("n_all", sum(col("n_gb")).over(wAll))
      .select(col("g"),
        ((col("n_gb") + lit(1L)).cast("double") /
          (col("n_g") + lit(B)).cast("double")).as("p"),
        ((col("n_b") + lit(1L)).cast("double") /
          (col("n_all") + lit(B)).cast("double")).as("q"))
      .select(col("g"),
        floor(col("p") * log(col("p") / col("q")) * lit(1e9))
          .cast("long").as("tq"))
      .groupBy(col("g"))
      .agg((sum(col("tq")).cast("double") / lit(1e9)).as("kl_drift"))
  }

  /** Pairwise Jensen–Shannon divergence between every two groups'
    * hashed-unigram distributions — the symmetric, bounded (≤ ln 2)
    * companion of [[unigramKlDrift]]: KL monitors each source against
    * the corpus mix, JSD maps which sources resemble EACH OTHER (the
    * syndication/registry-merge question "are these two crawls the
    * same distribution?") without either side playing "reference".
    *
    * Same machinery as KL: 256 hashed token buckets
    * ([[klBucketCounts]]), dense per-group grids (empty buckets
    * coalesce to 0), Laplace smoothing so every log argument is
    * positive, and the per-bucket term
    * 0.5·p·ln(p/m) + 0.5·q·ln(q/m) (m the midpoint) quantized to
    * floor(·10⁹) LONG — the total is an exact integer sum in any
    * order, mirrored token-for-token in the oracle.
    *
    * Shape: the |G|·256 dense grid self-joins on the bucket index —
    * |G|²/2·256 term rows. Built for the governance scale where
    * groups are sources/languages (dozens): at |G| ≳ 10³ switch to
    * sketch-based pair screening first. */
  def jsSourcePairs(df: DataFrame, text: Column, group: Column): DataFrame = {
    val B = 256L
    // gb is the corpus-sized work (token explode + hash + agg) and
    // feeds BOTH the per-group totals and the dense-grid join; the
    // grid feeds BOTH sides of the pair join. Untracked, the explode
    // subtree would run four times per action (measured 11 -> 131 s
    // at sf1 under memory pressure). Both persists are |G|·256-row
    // artifacts; releaseCaches frees them.
    val gb = graft.core.Caches.track(klBucketCounts(df, text, group))
    // dense grid in ONE aggregate over the persisted gb: totals and a
    // (b → n_gb) map per group, then the 0..255 explode reads counts
    // out of the map — no join of gb back onto its own totals (the
    // left-join form cost one more exchange + two stages; A/B'd at
    // sf0.1 AND sf1, this shape wins both)
    val grid = graft.core.Caches.track(
      gb.groupBy(col("g")).agg(sum(col("n_gb")).as("n_g"),
          map_from_entries(collect_list(struct(col("b"), col("n_gb"))))
            .as("m"))
        .select(col("g"), col("n_g"), col("m"),
          explode(sequence(lit(0L), lit(B - 1))).as("b"))
        .select(col("g"), col("b"), col("n_g"),
          coalesce(element_at(col("m"), col("b")), lit(0L)).as("c")))
    val l = grid.select(col("g").as("g1"), col("b"),
      col("n_g").as("ng1"), col("c").as("c1"))
    val r = grid.select(col("g").as("g2"), col("b"),
      col("n_g").as("ng2"), col("c").as("c2"))
    l.join(r, Seq("b")).where(col("g1") < col("g2"))
      .select(col("g1"), col("g2"),
        ((col("c1") + lit(1L)).cast("double") /
          (col("ng1") + lit(B)).cast("double")).as("p"),
        ((col("c2") + lit(1L)).cast("double") /
          (col("ng2") + lit(B)).cast("double")).as("q"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .select(col("g1"), col("g2"),
        floor((lit(0.5) * col("p") * log(col("p") / col("m")) +
          lit(0.5) * col("q") * log(col("q") / col("m"))) * lit(1.0e9))
          .cast("long").as("tq"))
      .groupBy(col("g1"), col("g2"))
      .agg((sum(col("tq")).cast("double") / lit(1.0e9)).as("jsd"))
      .select(col("g1").as("source_a"), col("g2").as("source_b"), col("jsd"))
  }

  /** Windowed token co-occurrence counts — the word2vec/GloVe-style
    * corpus statistic generalizing [[pmiTop]]'s adjacent bigrams: an
    * unordered token pair is counted once for every occurrence within
    * `window` positions (self-pairs from a repeated token count too).
    * Top-`topK` pairs by (count DESC, pair) — the collocation
    * inventory an embedding-training or stop-pair-mining stage reads.
    *
    * Shape: pairs are generated ARRAY-LOCALLY inside the scan
    * projection — each token slices its ≤`window` successors out of
    * the same token array (chained posexplode + explode-of-slice
    * generators, window-bounded fan-out, never quadratic in doc
    * length) — so the only shuffle in
    * the whole plan is the map-combined hash agg on the pair key,
    * followed by the global top-K heap (TakeOrderedAndProject). An
    * earlier (doc, pos)-join formulation shuffled window·|tokens| +
    * |tokens| rows of token strings to close the same pairs (measured
    * 23 s vs this form at sf1; join-side spill under pressure took it
    * to 250 s). */
  def cooccurWindow(df: DataFrame, id: Column, text: Column,
                    window: Int = 4, topK: Int = 64): DataFrame = {
    // window pairing as TWO chained codegen generators (posexplode
    // picks the left token, explode of the ≤window-length slice its
    // successors) — the nested transform lambda form ran interpreted
    val pairs = df.select(tokens(text).as("tk"))
      .select(col("tk"), posexplode(col("tk")))
      .select(col("col").as("t"),
        explode(slice(col("tk"), col("pos") + lit(2), lit(window)))
          .as("u"))
      .select(least(col("t"), col("u")).as("ta"),
        greatest(col("t"), col("u")).as("tb"))
    val top = pairs.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ta"), col("tb")).limit(topK)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("ta"), col("tb"))).cast("long"))
  }

  /** Temperature-scaled mixture sampling (the GPT-3 / UniMax-family
    * multinomial mixing rule, α = 0.5): where [[mixtureSample]] takes
    * CALLER-fixed rates, this DERIVES them from the corpus — group g's
    * target share is √n_g / Σ√n_h (temperature flattening: big groups
    * shrink relatively, small languages/domains are boosted), scaled to
    * an overall `budgetFrac` of the corpus, capped at keeping a whole
    * group. √ is the one temperature exponent that is IEEE-exact on
    * both engines (sqrt is correctly rounded; pow(x, α) is libm-drift
    * territory), which is why α is fixed rather than a parameter.
    *
    * Determinism discipline: per-group √n_g is quantized to
    * fixed-point longs (floor(√n_g · 10^9)) BEFORE the cross-group sum
    * so the denominator is integer math (order-independent); the final
    * keep-rate chain is a fixed sequence of correctly-rounded double
    * ops mirrored operand-for-operand in the oracle; the keep decision
    * is the md5-threshold gate (reshard-stable, RNG-free).
    *
    * Plan shape: one count aggregate on the group key collapses to a
    * per-group rate table (|groups| rows — broadcast back), plus the
    * zero-shuffle hash-gate projection; the corpus itself shuffles
    * nowhere. Emits the input columns. */
  def temperatureSample(df: DataFrame, content: Column, group: Column,
                        budgetFrac: Double, salt: Int = 13): DataFrame = {
    val scale = 1000000L
    val q = 1000000000L // fixed-point quantum for √n partials
    val counts = df.filter(group.isNotNull)
      .groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
      .withColumn("__wq", floor(sqrt(col("__n").cast("double")) * q).cast("long"))
    val tot = counts.agg(sum(col("__wq")).as("__sw"),
      sum(col("__n")).as("__nn"))
    // rate_g = min(1, budgetFrac · (wq_g/Σwq) · N / n_g), evaluated in
    // this exact operand order on both engines
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("__g"),
        floor(least(lit(1.0),
          col("__wq").cast("double") / col("__sw").cast("double") *
            lit(budgetFrac) * col("__nn").cast("double") /
            col("__n").cast("double")) * scale).cast("long").as("__th"))
    df.join(broadcast(rates), group === col("__g"))
      .filter(md5Long(content, salt) % scale < col("__th"))
      .drop("__g", "__th")
  }

  /** Deterministic stratified sampling: EXACTLY min(n, |group|) rows per
    * group, chosen by content-hash order — the "balanced eval slice per
    * language/source" op. Where [[mixtureSample]] keeps an expected
    * FRACTION per group, this keeps an exact COUNT, which rate-based
    * gating cannot do. Ordering by md5Long(content, salt) is a uniform
    * pseudo-random permutation that is stable under resharding and
    * reruns (no RNG state) and exactly reproducible in the SQL oracle;
    * `order` breaks hash ties deterministically. One shuffle+sort per
    * group partition (row_number window) — per-group top-n, never a
    * global sort. Emits the input columns plus sample_rank (1..n). */
  def stratifiedSample(df: DataFrame, group: Column, content: Column,
                       order: Column, n: Int, salt: Int = 11): DataFrame = {
    // NULLS LAST: a NULL-content row has no sample key — it must never
    // outrank hashed rows (and DuckDB's default null order is last, so
    // the oracle twin agrees without an explicit clause)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(md5Long(content, salt).asc_nulls_last, order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .withColumn("sample_rank", col("__rn").cast("long"))
      .drop("__rn")
  }

  /** Sequence packing — concat-and-chunk assignment of documents into
    * fixed token-budget training sequences: docs are laid out in `order`
    * within each shard, and each doc's sequence index / offset comes from
    * the prefix sum of token counts (the standard "concatenate then split
    * every `budget` tokens" packing; docs may straddle a boundary).
    * Scale posture: the window partitions by `shard`, so packing runs in
    * parallel per shard with ONE shuffle+sort — a global (shard-less)
    * order would serialize onto one reducer, which is why real pipelines
    * always pack per shard. Integer arithmetic throughout.
    *
    * PRECONDITION: `order` must be UNIQUE within each shard (it doubles
    * as the emitted doc_id). With duplicate `order` values the prefix
    * sum's ROWS frame visits ties in partition-arrival order, making
    * seq_idx/seq_offset nondeterministic across runs and repartitionings
    * — there is no meaningful secondary key to break ties with, because a
    * duplicate `order` is two docs claiming the same identity. Derive
    * `order` from a unique id (content-hash or source row id). */
  def packSequences(df: DataFrame, shard: Column, order: Column,
                    tokenCount: Column, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(order)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cumBefore = coalesce(sum(tokenCount).over(w), lit(0L))
    df.select(shard.as("shard"), order.as("doc_id"),
        tokenCount.cast("long").as("n_tokens"),
        cumBefore.as("cb"))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        // `div` is exact long division; Column./ would detour through
        // DOUBLE and round once a shard's cumulative count passes 2^53,
        // diverging from the oracle's integer `//`
        expr(s"cb div ${budget}L").as("seq_idx"),
        pmod(col("cb"), lit(budget)).as("seq_offset"))
  }

  /** Top-k TF-IDF terms per document — the corpus-statistics text op
    * (keyword extraction / quality signals need it). IDF is the RATIONAL
    * form N/df, not log(N/df): log implementations differ across engines
    * in the last ulp (libm vs Math.log), while division and
    * multiplication are IEEE-correctly-rounded everywhere, so
    * tf·(N/df) is bit-reproducible in the oracle — and log is monotone,
    * so rankings are identical anyway. Terms are lowercased tokens.
    * Plan shape (r16): TWO exchanges total. TF is computed where the
    * tokens already live — [[graft.functions.TermCounts]] folds each
    * doc's token array to (term, tf) pairs in one local pass, so no
    * raw token ever crosses the wire (the old explode → groupBy(doc,
    * term) form shipped every token through a (doc,term) exchange
    * just to count same-row duplicates; r15 VERDICT item 2). The
    * term-keyed exchange for the df window and the doc-keyed top-k
    * aggregation are the two that remain — each is information the
    * row's own partition cannot know, the genuine floor (broadcast-df
    * and agg+explode alternatives A/B-rejected; see below). */
  def tfIdfTopTerms(df: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    // tf locally per doc: explode AFTER counting, so the exploded
    // relation is already (doc, term, tf) — same volume as the old
    // post-aggregation data, zero shuffles spent producing it
    val tf = df.select(id.as("doc_id"),
        explode(graft.functions.TermCounts(
          graft.functions.GraftFunctions.tokensFolded(text))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    // document frequency as a WINDOW over tf (one row per (doc, term),
    // so count per term partition IS df) — the term-keyed exchange.
    // A/B'd r16 at sf1, both rejected: (a) vocab-broadcast df join —
    // the broadcast BUILD job re-tokenizes (2.80 s) or re-reads a
    // tracked persist of tf (2.60 s) vs 1.72 s for this one-action
    // linear plan; (b) groupBy(term).agg(collect_list) + explode-back
    // — time-identical (1.718 vs 1.717 s; the sort is not the
    // bottleneck) but materializes per-term arrays, which OOMs on a
    // stopword-grade term at lake scale while the sort-window streams
    // and spills. The remaining floor is the tokenize pass itself
    // (0.64 s of the 1.72 at sf1) plus the two irreducible exchanges.
    val wT = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    // N as a LAZY 1-row broadcast, not a driver count(): an eager action
    // here would scan the corpus once more at query-CONSTRUCTION time
    val n = df.select(count(lit(1)).cast("double").as("n_docs"))
    // per-doc top-k as a grouped collect + in-memory array sort + slice
    // instead of a row_number window: the window form sorts the whole
    // (doc, term) relation inside each doc partition through the sort
    // operator; the grouped form sorts each doc's term list (bounded by
    // doc length) inside the aggregate and ships only k rows out
    // (A/B at sf1: 3.0 → measured below; identical ordering semantics —
    // (−tfidf, term) struct sort ≡ tfidf DESC, term ASC; tfidf > 0
    // always, so the negation never meets −0.0)
    tf.withColumn("df", count(lit(1)).over(wT))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * (col("n_docs") / col("df"))).as("tfidf"))
      .groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("tfidf")).as("nt"), col("term")))), 1, k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"), (-col("col.nt")).as("tfidf"))
  }

  /** Overlapping token-window chunking — the context-window splitter that
    * feeds embedding generation and long-doc training: chunk i covers
    * tokens [i·stride, i·stride + chunkTokens). Pure Column ops (explode
    * of a generated start-index array + slice), fully codegen'd, no
    * shuffle; docs with no tokens produce no chunks (there is nothing to
    * embed). stride < chunkTokens gives overlap; stride == chunkTokens
    * tiles. Emits (doc_id, chunk_idx, chunk_text, n_tokens). */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
                     chunkTokens: Int, stride: Int): DataFrame = {
    val tk = tokens(text)
    df.select(id.as("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        posexplode(filter(sequence(lit(0), size(col("tk")) - 1),
          i => i % stride === 0)).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("tk"), col("start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("tk"), col("start") + 1, lit(chunkTokens)))
          .cast("long").as("n_tokens"))
  }

  /** Percentile-based quality cut: keep the top `frac` of rows per group
    * by quality — how real curation picks thresholds (an absolute score
    * cutoff drifts as the corpus mix changes; "top 50% per language"
    * doesn't). percent_rank is rank arithmetic over the sort, so the
    * decision is exactly reproducible across engines; ties break by
    * `order` for determinism. One shuffle+sort per group partition. */
  def qualityCut(df: DataFrame, group: Column, quality: Column,
                 order: Column, frac: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(quality.desc, order)
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") <= frac).drop("__pr")
  }

  /** Deterministic hash embedding — the STUB text embedder (a real model
    * isn't in this container): component j is derived from md5(text)'s
    * hex bytes with the same affine mixing as the media feature stub, so
    * it is reproducible in SQL and across runs. Pure Column ops; the
    * md5 appears once per output component (dim small, digest cheap —
    * acceptable for a stub whose point is the PLUMBING: chunk → embed →
    * index → search with real distribution and schema). */
  def hashEmbed(text: Column, dim: Int): Column = {
    val h = md5(text)
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (((conv(h.substr(((i % 16) * 2 + 1).cast("int"), lit(2)), 16, 10).cast("long") * 31
        + i.cast("long") * 17) % 256).cast("double") / lit(255.0) - lit(0.5)).cast("float"))
  }

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text).cast("double")
    val punct = (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
    when(total === 0, lit(0.0)).otherwise(punct / total)
  }

  /** Ratio of stopword tokens (tiny fixed English list — heuristic). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(foldLower(text))
    val n = size(toks).cast("double")
    val sw = size(filter(toks, t => t.isin(stopwords: _*))).cast("double")
    when(n === 0, lit(0.0)).otherwise(sw / n)
  }

  /** C4-style word-blocklist gate (C4 §2.2 drops any doc containing a
    * blocklisted word; the text-side counterpart of the URL domain
    * blocklist, Urls.blocklistFilter). Case-insensitive exact token
    * match over the folded whitespace tokens — the stopwordRatio
    * matching discipline, so the oracle twin shares it. Zero-shuffle
    * codegen projection: the list rides inline in the `isin` (a real
    * deployment's list is still only thousands of literals — far under
    * codegen limits; beyond that it becomes a broadcast semi-join).
    * Returns (doc_id, n_blocked, keep). */
  def wordBlocklist(docs: DataFrame, id: Column, text: Column,
                    blocked: Seq[String]): DataFrame = {
    val hits = size(filter(tokens(foldLower(text)),
      t => t.isin(blocked: _*)))
    docs.select(id.as("doc_id"), hits.cast("long").as("n_blocked"),
      (hits === 0).as("keep"))
  }

  /** Mean word length. */
  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: favors mid-length docs, low
    * punctuation, some stopwords (the standard cheap quality heuristic:
    * Gopher-style length/punct/stopword rules, weights fixed). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val swScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    // raw double, fixed op order — bit-reproducible in the SQL oracle
    // (round() is NOT: its half-way behavior differs across engines)
    lenScore * 0.4 + punctScore * 0.3 + swScore * 0.3
  }

  /** n-gram-frequency language ID over a tiny built-in profile set.
    * Scores each candidate language by its marker-token hit ratio and
    * returns the argmax (deterministic tie-break by language code).
    * A heuristic, not a model — but the plumbing (profile broadcast,
    * argmax over per-language scores) is the real shape. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "la", "que", "los", "es"))

  /** Argmax marker-hit-ratio over [[langMarkers]], ties to the smallest
    * code. Native single-pass expression ([[graft.functions.LangId]]) —
    * the HOF form (one `filter(tokens(lower(text)))` chain per language)
    * gets its token array re-inlined into every consumer by
    * CollapseProject, tokenizing each doc ~8×. */
  def langId(text: Column): Column = graft.functions.LangId(text)

  /** Canonical document fingerprint: md5 of the sorted distinct lowercase
    * token set — catches reorderings/duplicated-content docs. Native
    * single-pass expression ([[graft.functions.TokenSetFingerprint]]);
    * value-identical to
    * `md5(array_join(array_sort(array_distinct(tokens(lower(text)))), " "))`. */
  def tokenSetFingerprint(text: Column): Column =
    graft.functions.TokenSetFingerprint(foldLower(text))

  /** Rolling-hash fingerprint (Karp–Rabin over tokens) — order-sensitive
    * twin of [[tokenSetFingerprint]]. */
  def rollingHash(text: Column): Column = rollingFingerprint(text)

  // ---- single-pass counts (native) + derivations -----------------------

  /** All integer counts in one pass — [[graft.functions.TextCounts]].
    * Compute this ONCE as a column, then derive the metrics below from
    * it; each HOF metric above re-tokenizes the document. */
  def counts(text: Column): Column = graft.functions.TextCounts(text)

  def punctRatioFrom(tc: Column): Column =
    when(tc.getField("n_chars") === 0, lit(0.0))
      .otherwise(tc.getField("n_punct").cast("double") / tc.getField("n_chars").cast("double"))

  def stopwordRatioFrom(tc: Column): Column =
    when(tc.getField("n_words") === 0, lit(0.0))
      .otherwise(tc.getField("n_stop").cast("double") / tc.getField("n_words").cast("double"))

  def meanWordLenFrom(tc: Column): Column =
    when(tc.getField("n_words") === 0, lit(0.0))
      .otherwise(tc.getField("sum_word_len").cast("double") / tc.getField("n_words").cast("double"))

  /** Same formula (and bits) as [[qualityScore]], from the counts struct. */
  def qualityFrom(tc: Column): Column = {
    val lenScore = least(tc.getField("n_chars").cast("double") / 500.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatioFrom(tc) * 5.0)
    val swScore = least(stopwordRatioFrom(tc) * 5.0, lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + swScore * 0.3
  }

  // ---- PII scrubbing ---------------------------------------------------

  /** PII regexes shared by the operator and the DuckDB oracle. Kept to
    * the regex subset Java (Spark) and RE2 (DuckDB) treat identically:
    * character classes + bounded greedy quantifiers, no lookarounds, no
    * backrefs. Both engines use Perl leftmost-first matching, so
    * non-overlapping match sets coincide. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction — every production pre-training pipeline runs one:
    * mask emails / phone numbers / IPv4 addresses with typed tokens and
    * report per-doc redaction counts. Returns
    * (doc_id, clean_text, n_emails, n_phones, n_ips).
    *
    * The three passes are SEQUENTIAL (count on the current text, then
    * replace, then next pattern) so a string can only be claimed by one
    * category and both engines see the identical intermediate text —
    * counting all three patterns on the raw text would double-count an
    * IP-looking phone. Pure per-row projection: runs at scan speed, no
    * shuffle, codegen'd regexp_replace/regexp_count — the 100 TB cost
    * is one pass over the text column. */
  def piiScrub(df: DataFrame, id: Column, text: Column): DataFrame = {
    val t0 = text
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, PhoneRe, "<PHONE>")
    val t3 = regexp_replace(t2, Ipv4Re, "<IP>")
    df.select(id.as("doc_id"), t3.as("clean_text"),
      regexp_count(t0, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t1, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(t2, lit(Ipv4Re)).cast("long").as("n_ips"))
  }

  /** Markup-removal constants, shared verbatim with the DuckDB oracle.
    * The tag pattern deliberately uses an explicit char class (no
    * lazy quantifiers, no lookarounds) so it sits in the RE2∩Java
    * subset — same match set on both engines. */
  val TagRe = "<[^<>]*>"

  /** Fixed entity decode table, applied IN ORDER with `&amp;` last —
    * decoding `&amp;` first would turn the literal text `&amp;lt;`
    * into `&lt;` and then double-decode it to `<`. */
  val EntityDecodes: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Mojibake signature substrings: the UTF-8-decoded-as-cp1252 lead
    * sequences (`Ã` for 2-byte, `â€` for the E2-80 punctuation family,
    * `Â` for stray NBSP halves) plus U+FFFD, the decoder's explicit
    * replacement character. Heuristic by design — these sequences are
    * vanishingly rare in clean text and dominant in double-decoded
    * text (ftfy's core observation). */
  val MojibakeSigs: Seq[String] =
    Seq("Ã", "â€", "Â", "�")

  /** Strip HTML-ish markup from a text column: drop tags (replaced by a
    * space so `a<br>b` keeps its word boundary), decode the fixed
    * entity set, collapse runs of whitespace, trim. A real ingest
    * pipeline runs this before every tokenizer-derived signal —
    * tags/entities otherwise pollute shingles, LM scores and dedup
    * hashes. Pure per-row projection: codegen'd regexp_replace +
    * chained exact-substring replaces, zero shuffle, one text pass per
    * stage. The whitespace class is the explicit [ \t\r\n] (Java and
    * RE2 disagree on \s's vertical-tab membership). */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, TagRe, " ")
    val decoded = EntityDecodes.foldLeft(noTags) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** Markup + encoding-damage battery over a document table:
    * clean_text = [[stripMarkup]], n_tags = tag count on the RAW text,
    * n_moji = total [[MojibakeSigs]] occurrences (counted per
    * signature by exact-substring deletion — (len(t) − len(remove))
    * / len(sig) — no regex alternation-order semantics to align), and
    * the mojibake flag. Zero shuffle; the whole battery is one scan. */
  def markupStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val nMoji = MojibakeSigs.map { sig =>
      (length(text) - length(replace(text, lit(sig), lit(""))))
        .cast("long") / lit(sig.length.toLong)
    }.reduce(_ + _)
    // spread first: the regex strip chain is the expensive stage, and a
    // single-split source would run it in one task (qualityRules lesson;
    // no-op at lake scale where scans already split)
    graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"), stripMarkup(text).as("clean_text"),
        regexp_count(text, lit(TagRe)).cast("long").as("n_tags"),
        nMoji.cast("long").as("n_moji"))
      .withColumn("mojibake", col("n_moji") > 0)
  }

  /** Gopher/Rae-style repetition rule pack (Rae et al. 2112.11446,
    * Table A1): per doc, the six structural-repetition signals the
    * standard quality battery thresholds on —
    *
    *  - dup_line_frac / dup_para_frac: fraction of lines (paragraphs)
    *    that are repeat occurrences of an earlier identical one;
    *  - dup_line_char_frac / dup_para_char_frac: the character mass of
    *    those repeat occurrences over the doc's characters (the
    *    REMOVABLE mass — first occurrences don't count);
    *  - top{2,3,4}_char_frac: characters covered by the single most
    *    frequent word n-gram (count × gram length; ties broken by the
    *    longer gram) over the doc's characters.
    *
    * Shapes for 100 TB: line/paragraph/gram text is never a shuffle key —
    * groups key on (doc_id, hash) with the length as a value (the
    * lineDedup discipline; a same-doc hash collision is the accepted
    * negligible trade documented there). ALL FIVE unit kinds (lines,
    * paragraphs, three gram widths) ride ONE kind-tagged explode from a
    * single text scan, and both duplicate fractions and top-gram
    * coverages come out of one conditional aggregate — the whole
    * battery is 2 scans and 2 exchanges, no pivot, no per-kind
    * branches. Thresholding is the caller's business: this emits the
    * fractions. */
  def qualityRules(df: DataFrame, id: Column, text: Column): DataFrame = {
    // the per-token md5 + five-kind explode below is the most
    // CPU-expensive projection in the engine; a small/single-file
    // source scans as one split and would run it single-task
    // (documents.parquet at bench scale is exactly that: one row
    // group). spreadToCores round-robins the RAW docs (pre-expansion
    // bytes) and is a no-op at lake scale where scans already split.
    val docs = graft.core.Xform.spreadToCores(
      df.select(id.as("doc_id"), text.as("text"),
        length(text).cast("long").as("n_chars")))

    // (count, len) packed into one long so a single max() picks the top
    // gram by count, then length — decoded after the aggregate
    val Pack = 1000000L
    // Gram identity is a bounded polynomial combine of per-TOKEN hashes
    // instead of md5 over materialized gram strings: one md5 per token
    // (not per gram), no string concat, and the exploded stream carries
    // three longs per gram instead of the gram text. Gram length
    // reconstructs exactly as Σ token lens + (w-1) separators. The
    // per-step mod keeps acc < 2^42, so acc*K + tok < 2^63 — no Java
    // wraparound. The ORACLE's gram CTE still groups by the literal
    // gram string (the semantic definition); the two agree absent hash
    // collisions (~hundreds of grams per doc against a 2^42 space).
    val GramP = 4398042316799L // prime < 2^42
    val GramK = 1048573L       // prime < 2^20
    // ONE kind-tagged unit stream carries all six signals: kind 0 =
    // lines, 1 = paragraphs, 2/3/4 = gram widths. The whole battery is
    // a single text scan → explode → (doc_id, kind, h) count → per-doc
    // conditional aggregate: 2 exchanges and 2 scans total, where the
    // per-branch form paid 8 scans / 12 exchanges and three joins for
    // identical results. Local CPU-bound timing moves modestly
    // (fresh-plan A/B at sf0.1: ~2.7 s → ~2.35 s; the residual cost is
    // the honest ~1.7 M-unit explode+count volume), but at cluster
    // scale the 4× fewer text-column scans and 6× fewer shuffles are
    // the difference that matters.
    def splitUnits(sep: String, kind: Int): Column =
      transform(split(col("text"), sep, -1), u =>
        struct(lit(kind).as("w"), md5Long(u).as("h"),
          length(u).cast("long").as("len")))
    def gramArr(w: Int): Column =
      // the guard matters: sequence(1, 0) is a DESCENDING [1, 0] in
      // Spark, which would fabricate grams (and index element_at at 0)
      // on docs shorter than w tokens
      when(size(col("th")) >= w,
        transform(sequence(lit(1), size(col("th")) - (w - 1)), i => {
          val h = (1 until w).foldLeft(element_at(col("th"), i) % GramP)(
            (acc, j) => (acc * GramK + element_at(col("th"), i + j) % GramP) % GramP)
          val len = (1 until w).foldLeft(element_at(col("tl"), i))(
            (acc, j) => acc + element_at(col("tl"), i + j)) + (w - 1)
          struct(lit(w).as("w"), h.as("h"), len.as("len"))
        }))
        .otherwise(array().cast("array<struct<w:int,h:bigint,len:bigint>>"))
    val units = docs
      .select(col("doc_id"), col("text"),
        transform(tokens(col("text")), t => md5Long(t)).as("th"),
        transform(tokens(col("text")), t => length(t).cast("long")).as("tl"))
      .select(col("doc_id"), explode(concat(
        splitUnits("\n", 0), splitUnits("\n\n", 1),
        gramArr(2), gramArr(3), gramArr(4))).as("t"))
      .select(col("doc_id"), col("t.w").as("w"), col("t.h").as("h"),
        col("t.len").as("len"))
    def ifKind(k: Int, v: Column): Column = when(col("w") === k, v)
    val perDoc = units
      .groupBy(col("doc_id"), col("w"), col("h"))
      .agg(count(lit(1)).as("c"), max(col("len")).as("len"))
      .withColumn("v", col("c") * Pack + col("len"))
      .groupBy(col("doc_id"))
      .agg(
        (sum(ifKind(0, col("c") - 1)).cast("double") /
          sum(ifKind(0, col("c"))).cast("double")).as("dup_line_frac"),
        sum(ifKind(0, (col("c") - 1) * col("len"))).as("dup_line_chars"),
        (sum(ifKind(1, col("c") - 1)).cast("double") /
          sum(ifKind(1, col("c"))).cast("double")).as("dup_para_frac"),
        sum(ifKind(1, (col("c") - 1) * col("len"))).as("dup_para_chars"),
        max(ifKind(2, col("v"))).as("v2"),
        max(ifKind(3, col("v"))).as("v3"),
        max(ifKind(4, col("v"))).as("v4"))

    def cover(v: Column): Column =
      when(col("n_chars") === 0 || v.isNull, lit(0.0))
        .otherwise((floor(v / Pack) * (v % Pack)).cast("double")
          / col("n_chars").cast("double"))
    def charFrac(chars: Column): Column =
      when(col("n_chars") === 0, lit(0.0))
        .otherwise(chars.cast("double") / col("n_chars").cast("double"))

    docs.select(col("doc_id"), col("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("dup_line_frac"),
        charFrac(col("dup_line_chars")).as("dup_line_char_frac"),
        col("dup_para_frac"),
        charFrac(col("dup_para_chars")).as("dup_para_char_frac"),
        cover(col("v2")).as("top2_char_frac"),
        cover(col("v3")).as("top3_char_frac"),
        cover(col("v4")).as("top4_char_frac"))
  }

  /** Out-of-vocabulary rate against the corpus's own top-`vocabSize`
    * token vocabulary — the tokenizer-coverage audit run before
    * committing a tokenizer/vocab to a corpus (high OOV ⇒ the vocab
    * fragments this slice into bytes/unks). Vocabulary = top tokens by
    * (count DESC, token ASC) — the deterministic tie-break makes the
    * boundary reproducible.
    *
    * Scale: the vocab build is a token hash-aggregate followed by a
    * DISTRIBUTED top-k (TakeOrdered: per-partition heaps merged on the
    * driver — k rows, never a single-partition global sort), and the
    * k-row vocab broadcast-joins back; the corpus itself never
    * shuffles. Emits (doc_id, n_tokens, n_oov, oov_rate) — rate is one
    * long/long division, identical IEEE op on both engines. */
  def oovRate(df: DataFrame, id: Column, text: Column,
              vocabSize: Int): DataFrame = {
    val toks = graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"))
    oovAgainstVocab(df, id, text, vocab)
  }

  /** [[oovRate]] against a CALLER-supplied vocabulary — `vocab` is one
    * `tok` column, typically the top-k cut of a persisted token ledger
    * ([[graft.streaming.Streaming.mergeVocabLedgerIdempotent]]'s
    * streaming build, or yesterday's corpus vocab for drift audits).
    * The vocab broadcasts; the corpus never shuffles before its per-doc
    * aggregate. */
  def oovAgainstVocab(df: DataFrame, id: Column, text: Column,
                      vocab: DataFrame): DataFrame =
    graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"), explode(tokens(text)).as("tok"))
      .join(broadcast(vocab.select(col("tok")).withColumn("__in", lit(1))),
        Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))

  /** Per-source Shannon entropy (nats) of the language distribution —
    * the mixture-health monitor for a multi-source corpus: entropy 0 ⇒
    * the source is monolingual; rising entropy flags crawl drift or
    * mislabeled ingest. Terms are quantized to fixed-point nanonats
    * (floor(term·1e9) as long) before the per-source sum — the
    * [[klFromBucketCounts]] discipline that makes a transcendental
    * aggregate order-independent and therefore bit-stable under any
    * partitioning. Plan: two hash aggregates on (source, lang) then
    * (source) — no window, no sort. */
  def sourceLangEntropy(df: DataFrame, source: Column,
                        lang: Column): DataFrame =
    df.select(source.as("source"), lang.as("lang"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_sl"))
      .withColumn("n_s", sum(col("n_sl"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("source"), col("n_s"),
        floor(-(col("n_sl").cast("double") / col("n_s").cast("double")) *
          log(col("n_sl").cast("double") / col("n_s").cast("double")) *
          lit(1e9)).cast("long").as("tq"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        (sum(col("tq")).cast("double") / lit(1e9)).as("entropy"))

  /** Fixed-point scale for the Zipf log quantization: 1e6 keeps the
    * per-row quantized logs small enough that the exact integer moment
    * sums (Σxy, Σx²) stay far inside Long even at lake scale — x ≤
    * ln(topK)·10⁶ ≈ 6.2e6, y ≤ ln(10¹² tokens)·10⁶ ≈ 2.8e7, so a
    * 512-row product sum tops out near 9e16 ≪ 2⁶³. */
  private val ZipfScale = "1000000.0"

  /** Shared SQL text of the least-squares slope over quantized log-log
    * points — evaluated VERBATIM by both engines (the wilsonLbSql
    * discipline: identical parse tree + IEEE-correctly-rounded ops =
    * bit-equal doubles). The quantization scale cancels in the slope. */
  private def zipfSlopeSql(n: String, sx: String, sy: String,
                           sxy: String, sxx: String): String = {
    val den = s"(CAST($n AS DOUBLE) * CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))"
    val num = s"(CAST($n AS DOUBLE) * CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))"
    // Spark 4 ANSI raises DIVIDE_BY_ZERO even for DOUBLE division, so a
    // single-point fit (x-variance 0) must short-circuit to NULL — the
    // CASE text is shared, so DuckDB agrees instead of emitting inf/nan
    s"(CASE WHEN $den = 0.0 THEN NULL ELSE $num / $den END)"
  }

  /** Intercept text: mean_y − slope·mean_x, un-quantized once at the
    * end (both means carry the same 10⁶ factor). */
  private def zipfInterceptSql(n: String, sx: String, sy: String,
                               sxy: String, sxx: String): String =
    s"(CASE WHEN CAST($n AS DOUBLE) = 0.0 THEN NULL" +
      s" ELSE (CAST($sy AS DOUBLE) / CAST($n AS DOUBLE)" +
      s" - ${zipfSlopeSql(n, sx, sy, sxy, sxx)} * (CAST($sx AS DOUBLE) / CAST($n AS DOUBLE)))" +
      s" / $ZipfScale END)"

  /** SQL (both dialects) for the quantized log of a BIGINT column:
    * floor(ln(v)·10⁶) as BIGINT. libm vs Math.log can differ in the
    * last ulp; the floor quantization is the documented tolerance (the
    * bm25 discipline, Retrieval.scala:51). */
  private def qlogSql(v: String): String =
    s"CAST(floor(ln(CAST($v AS DOUBLE)) * $ZipfScale) AS BIGINT)"

  /** Zipf's-law fit per language: regress ln(freq) on ln(rank) over the
    * top `topK` tokens (by frequency, ties broken by token) with
    * corpus frequency ≥ `minFreq`, reporting the fitted slope (a healthy
    * natural-language corpus sits near −1; machine-generated or
    * boilerplate-heavy text flattens or steepens it), the intercept,
    * and the fitted mass. A curation stack runs this as a corpus-drift
    * alarm: the slope is a one-number fingerprint of the token
    * frequency distribution that survives resharding and sampling.
    *
    * Determinism: the per-row logs quantize through floor(·10⁶) into
    * exact longs (see [[qlogSql]]) and all five regression moments are
    * INTEGER sums — order-independent, so the cross-engine hash gate
    * holds; the final slope/intercept doubles evaluate the SHARED SQL
    * text on both engines.
    *
    * 100 TB posture: one (lang, token) hash shuffle with map-side
    * combine builds the frequency table; the `minFreq` gate cuts the
    * hapax tail BEFORE the per-lang window (at lake scale the surviving
    * vocabulary is ~10⁶ rows per language — the window sorts that, never
    * the corpus); the regression itself aggregates topK rows per lang.
    * Returns (lang, n_fit, slope, intercept). */
  def zipfFit(df: DataFrame, lang: Column, text: Column,
              topK: Int = 512, minFreq: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(lang.as("lang"), explode(tokens(text)).as("w"))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
    val ranked = tf
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("freq").desc, col("w"))))
      .filter(col("rnk") <= topK)
      .select(col("lang"),
        expr(qlogSql("rnk")).as("xq"),
        expr(qlogSql("freq")).as("yq"))
    ranked
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_fit"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
      .select(col("lang"), col("n_fit"),
        expr(zipfSlopeSql("n_fit", "sx", "sy", "sxy", "sxx")).as("slope"),
        expr(zipfInterceptSql("n_fit", "sx", "sy", "sxy", "sxx")).as("intercept"))
  }

  /** DuckDB oracle fragment for [[zipfFit]] — the SAME slope/intercept
    * text the Spark plan evaluates, over the same quantized moments.
    * `toksExpr` is the caller's token-list SQL over `documents.text`. */
  def zipfOracleSql(toksExpr: String, topK: Int = 512, minFreq: Long = 5L): String =
    s"""WITH tf AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lang, unnest($toksExpr) AS w FROM documents) t
       |  GROUP BY 1, 2 HAVING count(*) >= $minFreq),
       |rk AS (
       |  SELECT lang, ${qlogSql("rnk")} AS xq, ${qlogSql("freq")} AS yq
       |  FROM (SELECT lang, freq, row_number() OVER (
       |          PARTITION BY lang ORDER BY freq DESC, w) AS rnk FROM tf) r
       |  WHERE rnk <= $topK),
       |mo AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_fit,
       |         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
       |         CAST(sum(xq * yq) AS BIGINT) AS sxy,
       |         CAST(sum(xq * xq) AS BIGINT) AS sxx
       |  FROM rk GROUP BY 1)
       |SELECT lang, n_fit,
       |       ${zipfSlopeSql("n_fit", "sx", "sy", "sxy", "sxx")} AS slope,
       |       ${zipfInterceptSql("n_fit", "sx", "sy", "sxy", "sxx")} AS intercept
       |FROM mo""".stripMargin

  /** Heaps'-law fit: vocabulary growth V(N) ≈ K·N^β over a fixed
    * corpus-prefix order. β near 0.4–0.6 is healthy natural text;
    * β falling toward 0 means the crawl has stopped finding new
    * vocabulary (saturation — more data adds tokens but no types), and
    * an anomalously high β flags OCR noise or mangled encodings
    * minting endless fake types. The companion drift alarm to
    * [[zipfFit]]: zipf reads the FREQUENCY distribution, Heaps reads
    * the GROWTH curve.
    *
    * Prefix construction without a global sort: docs bucket by id
    * value into `buckets` fixed ranges (floor(B·doc_id/(max+1)) — one
    * 1-row max broadcast, deterministic, order-preserving), each
    * token's contribution to V lands in the bucket of its FIRST-seen
    * doc (min doc_id per token — one token-keyed shuffle), and
    * cumulative sums over the B-row bucket table give the (N_i, V_i)
    * growth points. The regression is [[zipfFit]]'s quantized-moment
    * least squares over (ln N_i, ln V_i) — exact integer sums, shared
    * final-math SQL text.
    *
    * 100 TB posture: one explode→(tok) shuffle for first-seen, one for
    * per-bucket token counts (map-side combined), then everything is
    * B rows. No doc-order sort anywhere.
    *
    * Returns 1 row: (n_points, n_tokens, n_types, beta, log_k). */
  def heapsFit(df: DataFrame, id: Column, text: Column,
               buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(id.as("doc_id"), explode(tokens(text)).as("tok"))
    val mx = df.agg(max(id).cast("long").as("mx"))
    // `div`, not `/`: Spark's `/` on longs goes double and its long cast
    // truncates, while DuckDB's double→BIGINT cast ROUNDS — integer
    // division on both engines sidesteps the mismatch entirely
    def bucketOf(c: String): String =
      s"(CAST($c AS BIGINT) * $buckets) div (mx + 1)"
    // per-bucket occurrence mass
    val occ = toks.crossJoin(broadcast(mx))
      .select(expr(bucketOf("doc_id")).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("occ"))
    // per-bucket NEW types (token's first-seen doc decides its bucket)
    val newTypes = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("d0"))
      .crossJoin(broadcast(mx))
      .select(expr(bucketOf("d0")).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("nt"))
    val w = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = occ.join(newTypes, Seq("bk"), "full")
      .select(col("bk"), coalesce(col("occ"), lit(0L)).as("occ"),
        coalesce(col("nt"), lit(0L)).as("nt"))
      .withColumn("n_cum", sum(col("occ")).over(w))
      .withColumn("v_cum", sum(col("nt")).over(w))
      .filter(col("n_cum") > 0L && col("v_cum") > 0L)
      .select(expr(qlogSql("n_cum")).as("xq"), expr(qlogSql("v_cum")).as("yq"),
        col("n_cum"), col("v_cum"))
    pts.agg(count(lit(1)).as("n_points"),
        max(col("n_cum")).as("n_tokens"), max(col("v_cum")).as("n_types"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
      .select(col("n_points"), col("n_tokens"), col("n_types"),
        expr(zipfSlopeSql("n_points", "sx", "sy", "sxy", "sxx")).as("beta"),
        expr(zipfInterceptSql("n_points", "sx", "sy", "sxy", "sxx")).as("log_k"))
  }

  /** DuckDB oracle for [[heapsFit]] — same buckets, same cumulative
    * sums, same quantized regression text. */
  def heapsOracleSql(toksExpr: String, buckets: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksExpr) AS tok FROM documents),
       |mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
       |occ AS (
       |  SELECT (CAST(doc_id AS BIGINT) * $buckets) // (mx + 1) AS bk,
       |         CAST(count(*) AS BIGINT) AS occ
       |  FROM toks CROSS JOIN mx GROUP BY 1),
       |nt AS (
       |  SELECT (CAST(d0 AS BIGINT) * $buckets) // (mx + 1) AS bk,
       |         CAST(count(*) AS BIGINT) AS nt
       |  FROM (SELECT tok, min(doc_id) AS d0 FROM toks GROUP BY 1) f
       |  CROSS JOIN mx GROUP BY 1),
       |pts AS (
       |  SELECT ${qlogSql("n_cum")} AS xq, ${qlogSql("v_cum")} AS yq,
       |         n_cum, v_cum
       |  FROM (
       |    SELECT bk,
       |           CAST(sum(coalesce(occ, 0)) OVER (ORDER BY bk
       |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
       |           CAST(sum(coalesce(nt, 0)) OVER (ORDER BY bk
       |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v_cum
       |    FROM occ FULL JOIN nt USING (bk)) c
       |  WHERE n_cum > 0 AND v_cum > 0),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_points,
       |         CAST(max(n_cum) AS BIGINT) AS n_tokens,
       |         CAST(max(v_cum) AS BIGINT) AS n_types,
       |         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
       |         CAST(sum(xq * yq) AS BIGINT) AS sxy,
       |         CAST(sum(xq * xq) AS BIGINT) AS sxx
       |  FROM pts)
       |SELECT n_points, n_tokens, n_types,
       |       ${zipfSlopeSql("n_points", "sx", "sy", "sxy", "sxx")} AS beta,
       |       ${zipfInterceptSql("n_points", "sx", "sy", "sxy", "sxx")} AS log_k
       |FROM mo""".stripMargin

  /** Shared SQL text of the PMI ratio p(xy)/(p(x)p(y)) =
    * (c2·N·N)/(B·c1a·c1b) — pure double arithmetic over exact longs,
    * no transcendental, so it is bit-equal across engines AND a
    * monotone stand-in for PMI itself: the top-k ORDER BY runs on this
    * ratio, keeping the ranking ln-free (libm-vs-JVM ulp drift cannot
    * reorder it). */
  private def pmiRatioSql(c2: String, c1a: String, c1b: String,
                          n: String, b: String): String =
    s"((CAST($c2 AS DOUBLE) * CAST($n AS DOUBLE) * CAST($n AS DOUBLE))" +
      s" / (CAST($b AS DOUBLE) * CAST($c1a AS DOUBLE) * CAST($c1b AS DOUBLE)))"

  /** Pointwise mutual information over corpus bigrams: PMI(x,y) =
    * ln p(xy)/(p(x)p(y)) with p from exact occurrence counts (N
    * unigram tokens, B bigram tokens). High-PMI pairs are the corpus's
    * collocations — boilerplate phrases, templated navigation, code
    * idioms — and a curation stack reads the top of this list as a
    * stop-gram candidate inventory (the n-gram analogue of a stopword
    * list). `minCount` cuts the unstable low-count tail (hapax bigrams
    * of hapax words have maximal PMI and zero signal — the standard
    * Church-Hanks caveat).
    *
    * Determinism: the RANKING orders by the ln-free ratio (see
    * [[pmiRatioSql]], bit-equal doubles from longs), ties broken by
    * (w1, w2); only the EMITTED pmi value takes a log, quantized
    * through floor(·10⁹) (the bm25 tolerance, Retrieval.scala:51).
    *
    * 100 TB posture: two explode→hash-agg count tables (map-side
    * combine collapses each task to its distinct grams), two
    * vocab-sized hash joins (c2 ⋈ c1 on each side word — never a
    * corpus-row join), broadcast 1-row totals, and a TakeOrdered top-k
    * (per-partition heaps, no global sort).
    * Returns (w1, w2, c2, c1a, c1b, pmi), topK rows. */
  def pmiTop(df: DataFrame, text: Column, minCount: Long = 5L,
             topK: Int = 64): DataFrame = {
    val tks = df.select(tokens(text).as("tk"))
    val c1 = tks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val totals = tks.select(
        size(col("tk")).cast("long").as("nt"),
        greatest(size(col("tk")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nt")).as("n"), sum(col("nb")).as("b"))
    val c2 = tks.select(explode(graft.functions.Shingles(col("tk"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c2"))
    val ratio = pmiRatioSql("c2", "c1a", "c1b", "n", "b")
    c2.join(c1.select(col("w").as("w1"), col("c1").as("c1a")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("c1").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c2"), col("c1a"), col("c1b"),
        (expr(s"CAST(floor(ln($ratio) * 1.0E9) AS BIGINT)").cast("double") /
          lit(1.0e9)).as("pmi"),
        expr(ratio).as("r"))
      .orderBy(col("r").desc, col("w1"), col("w2"))
      .limit(topK)
      .drop("r")
  }

  /** DuckDB oracle for [[pmiTop]] — same count tables, same ratio and
    * quantized-ln text. `toksExpr` is the token-list SQL over
    * documents.text. */
  def pmiOracleSql(toksExpr: String, minCount: Long = 5L,
                   topK: Int = 64): String = {
    val ratio = pmiRatioSql("c2", "c1a", "c1b", "n", "b")
    s"""WITH toks AS (SELECT $toksExpr AS tk FROM documents),
       |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
       |       FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
       |tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n,
       |               CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS b
       |        FROM toks),
       |bg AS (
       |  SELECT unnest(CASE WHEN len(tk) >= 2
       |         THEN list_transform(range(0, len(tk) - 1),
       |                i -> array_to_string(tk[i+1:i+2], ' '))
       |         ELSE [] END) AS bg
       |  FROM toks),
       |c2 AS (
       |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       |         CAST(count(*) AS BIGINT) AS c2
       |  FROM bg GROUP BY 1, 2 HAVING count(*) >= $minCount)
       |SELECT w1, w2, c2, c1a, c1b,
       |       CAST(floor(ln($ratio) * 1.0E9) AS BIGINT) / 1.0E9 AS pmi
       |FROM (
       |  SELECT c2.w1, c2.w2, c2.c2, a.c1 AS c1a, bb.c1 AS c1b, tot.n, tot.b
       |  FROM c2 JOIN c1 a ON c2.w1 = a.w JOIN c1 bb ON c2.w2 = bb.w
       |  CROSS JOIN tot) j
       |ORDER BY $ratio DESC, w1, w2 LIMIT $topK""".stripMargin
  }

  /** Top-k adjacent character-pair frequencies over the case-folded
    * token vocabulary — the scoring pass of one BPE merge step (Sennrich
    * et al. ACL'16): the rank-1 pair is the merge a tokenizer trainer
    * would apply next, and the full table is the corpus's byte-pair
    * affinity profile.
    *
    * Counting is vocabulary-weighted, not corpus-exploded: tokens
    * collapse to (word, count) FIRST (one shuffle on the word — the
    * same cardinality a tokenizer trainer holds), then each distinct
    * word explodes into its len−1 overlapping 2-grams exactly once —
    * at 100 TB the pair explode runs over the ~10⁷-row vocabulary, not
    * the ~10¹²-token stream. Ranks break ties on the pair string, so
    * the top-k cut is total-order deterministic.
    *
    * Returns (pair, n, rank), rank 1..k. */
  def bpePairCounts(df: DataFrame, text: Column, topK: Int = 32): DataFrame = {
    val wc = df
      .select(explode(graft.functions.GraftFunctions.tokensFolded(text))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
    val top = wc
      .select(explode(transform(
          sequence(lit(1), length(col("w")) - lit(1)),
          i => col("w").substr(i, lit(2)))).as("pair"),
        col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(topK)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("pair").asc)).cast("long"))
  }

  /** BPE tokenizer TRAINING — the iterative merge loop
    * [[bpePairCounts]] only scores round zero of (Sennrich et al.,
    * ACL'16): each round counts adjacent symbol pairs over the
    * vocabulary (weighted by word frequency), picks the most frequent
    * pair (ties → lexicographically smallest (left, right)), and
    * collapses every leftmost non-overlapping occurrence via
    * [[graft.functions.BpeMerge]]. Returns one row per learned merge:
    * (rank, left, right, pair_n) — the merge table a tokenizer ships.
    *
    * Scale discipline: the corpus collapses to (word, count) in ONE
    * token shuffle — the same relation a production trainer holds —
    * and every round thereafter runs on the vocabulary only (explode
    * of len−1 pairs per DISTINCT word, a ≤9-figure relation at
    * 100 TB, never the 10¹²-token stream). Each round's winning pair
    * is a ONE-ROW driver artifact (the centroid discipline) that
    * re-enters round r+1 as expression literals; the per-round vocab
    * is re-persisted and superseded versions release with the handle
    * registry. Rounds stop early when no pair remains (every word
    * fully merged).
    *
    * Exactness: pair counts are exact integer sums; the argmax order
    * (n DESC, left ASC, right ASC) is total, so the learned merge
    * sequence — and therefore every downstream symbol sequence — is
    * bit-identical across engines; the oracle twin replays the same
    * rounds via run-parity merge application
    * ([[bpeTrainOracleSql]]). */
  def bpeTrain(df: DataFrame, text: Column, rounds: Int): DataFrame =
    bpeTrainWithVocab(df, text, rounds)._1

  /** [[bpeTrain]] plus the trained (w, cnt, s) vocabulary — the
    * artifact [[bpeApply]] tokenizes against. */
  def bpeTrainWithVocab(df: DataFrame, text: Column,
                        rounds: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val wc = df
      .select(explode(graft.functions.GraftFunctions.tokensFolded(text))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
    var vocab = graft.core.Caches.track(wc.select(col("w"), col("cnt"),
      transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("s")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val top = vocab.filter(size(col("s")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("s")) - lit(2)),
          i => struct(element_at(col("s"), i + 1).as("l"),
            element_at(col("s"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (l, rr, n) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r.toLong, l, rr, n))
        vocab = graft.core.Caches.track(vocab.select(col("w"), col("cnt"),
          graft.functions.BpeMerge(col("s"), l, rr).as("s")))
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("rank", "left", "right", "pair_n"), vocab)
  }

  /** Tokenize the corpus with the merges [[bpeTrain]] just learned —
    * the train→apply composition a tokenizer pipeline ships: each
    * word's token count is the LENGTH of its trained symbol sequence
    * (identical greedy-merge result for identical words, so apply is a
    * vocabulary JOIN, never a re-scan of the merge automaton), 1-char
    * words pass through as single symbols (they carry no pairs and are
    * excluded from training). Per doc: word count, BPE token count,
    * folded char mass, and chars-per-token compression — the number a
    * token-budget planner divides by.
    *
    * Shape: the corpus explodes to (doc, word) once and hash-joins the
    * (word → |symbols|) vocabulary — the same join a production
    * tokenizer's word-level cache does; all counts exact integers, the
    * compression ratio ONE final double division. */
  def bpeApply(df: DataFrame, id: Column, text: Column,
               rounds: Int): DataFrame = {
    val (_, vocab) = bpeTrainWithVocab(df, text, rounds)
    val sizes = vocab.select(col("w"),
      size(col("s")).cast("long").as("n_syms"))
    val tk = df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        explode(graft.functions.GraftFunctions.tokensFolded(text)).as("w"))
    val agg = tk.join(sizes, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_syms"), length(col("w")).cast("long")))
          .as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_word_chars"))
    df.filter(text.isNotNull).select(id.as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("n_word_chars"), lit(0L)).as("n_word_chars"),
        when(coalesce(col("n_bpe_tokens"), lit(0L)) === 0L,
          lit(null).cast("double"))
          .otherwise(col("n_word_chars").cast("double") /
            col("n_bpe_tokens").cast("double")).as("chars_per_token"))
  }

  /** The [[bpeTrain]] DuckDB twin — `rounds` unrolled CTE blocks, each
    * re-counting pairs, selecting the same (n DESC, l, r) argmax, and
    * applying the merge via run-parity positions: candidate position i
    * is kept iff its offset into its RUN of consecutive candidates is
    * even (runs longer than one position occur only when left = right),
    * which equals the greedy leftmost-non-overlapping scan. */
  def bpeTrainOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, l AS \"left\", r AS \"right\", " +
        s"n AS pair_n FROM m$t").mkString("\nUNION ALL\n")
    s"WITH ${bpeChainSql(rounds)}\n$unions"
  }

  /** The [[bpeApply]] twin: the same unrolled chain, then the corpus
    * token stream joins the trained (wid → |s|) vocabulary. */
  def bpeApplyOracleSql(rounds: Int): String = {
    val fold = "lower(translate(text, 'İΣ', 'iσ'))"
    s"""WITH ${bpeChainSql(rounds)},
       |tk AS (SELECT doc_id, unnest(list_filter(string_split($fold, ' '),
       |         t -> len(t) > 0)) AS w
       |       FROM documents WHERE text IS NOT NULL),
       |sz AS (SELECT wid AS w, CAST(len(s) AS BIGINT) AS n_syms
       |       FROM w$rounds),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(coalesce(n_syms, len(w))) AS BIGINT)
       |           AS n_bpe_tokens,
       |         CAST(sum(len(w)) AS BIGINT) AS n_word_chars
       |       FROM tk LEFT JOIN sz USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(ag.n_words, 0) AS n_words,
       |       coalesce(ag.n_bpe_tokens, 0) AS n_bpe_tokens,
       |       coalesce(ag.n_word_chars, 0) AS n_word_chars,
       |       CASE WHEN coalesce(ag.n_bpe_tokens, 0) = 0 THEN NULL
       |            ELSE CAST(ag.n_word_chars AS DOUBLE)
       |                 / CAST(ag.n_bpe_tokens AS DOUBLE)
       |            END AS chars_per_token
       |FROM documents d LEFT JOIN ag USING (doc_id)
       |WHERE d.text IS NOT NULL""".stripMargin
  }

  /** The shared unrolled CTE chain (w0 … w`rounds`, m1 … m`rounds`). */
  private def bpeChainSql(rounds: Int): String = {
    val base =
      """w0 AS (
        |  SELECT w AS wid, CAST(count(*) AS BIGINT) AS cnt,
        |         list_transform(range(1, len(w)+1),
        |           i -> substr(w, CAST(i AS INT), 1)) AS s
        |  FROM (SELECT unnest(list_filter(string_split(
        |          lower(translate(text, 'İΣ', 'iσ')), ' '),
        |          t -> len(t) > 0)) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE len(w) >= 2 GROUP BY w)""".stripMargin
    val steps = (1 to rounds).map { t =>
      val (prev, p, m, x, g, k, w) =
        (s"w${t - 1}", s"p$t", s"m$t", s"x$t", s"g$t", s"k$t", s"w$t")
      s"""$p AS (SELECT s[i] AS l, s[i+1] AS r,
         |         CAST(sum(cnt) AS BIGINT) AS n
         |       FROM $prev, unnest(range(1, len(s))) AS u(i)
         |       GROUP BY 1, 2),
         |$m AS (SELECT l, r, n FROM $p ORDER BY n DESC, l, r LIMIT 1),
         |$x AS (SELECT v.wid, v.cnt, u.i, v.s[u.i] AS sym,
         |              CASE WHEN u.i < len(v.s) AND v.s[u.i] = $m.l
         |                    AND v.s[u.i+1] = $m.r THEN 1 ELSE 0 END AS hit,
         |              $m.l || $m.r AS mg
         |       FROM $prev v CROSS JOIN $m,
         |            unnest(range(1, len(v.s)+1)) AS u(i)),
         |$g AS (SELECT *, i - CAST(row_number() OVER (PARTITION BY wid, hit
         |                ORDER BY i) AS BIGINT) AS rungrp
         |       FROM $x),
         |$k AS (SELECT *, hit = 1 AND (i - min(i) OVER (PARTITION BY wid,
         |                hit, rungrp)) % 2 = 0 AS kept
         |       FROM $g),
         |$w AS (SELECT wid, any_value(cnt) AS cnt,
         |         list(CASE WHEN kept THEN mg ELSE sym END ORDER BY i)
         |           FILTER (WHERE NOT pk) AS s
         |       FROM (SELECT wid, cnt, i, sym, kept, mg,
         |               coalesce(lag(kept) OVER (PARTITION BY wid
         |                 ORDER BY i), false) AS pk FROM $k) z
         |       GROUP BY wid)""".stripMargin
    }
    s"$base,\n${steps.mkString(",\n")}"
  }

  /** One-row dataset card — the corpus-level summary a dataset release
    * ships (HuggingFace dataset-card numbers): document/char/word
    * mass, language and source cardinalities, exact-dup rate and the
    * majority-language share. Composes the primitives the per-doc
    * audits already verify into the single row a release reviewer
    * reads first.
    *
    * Exactness: every count is an exact integer (count_distinct over
    * md5 identities for the dup rate — the q_dedup_exact identity);
    * the two emitted doubles (dup_rate over non-null texts, en_share
    * over lang-tagged docs) are single divisions of exact LONGs,
    * NULL-guarded for empty denominators.
    *
    * Shape: ONE aggregate over the scan (the multi-count-distinct
    * expands map-side; at 100 TB swap exact distincts for
    * approx_count_distinct and keep the schema). */
  def datasetCard(df: DataFrame, text: Column, lang: Column,
                  source: Column, nChars: Column): DataFrame =
    df.agg(
        count(lit(1)).as("n_docs"),
        count(text).as("n_text_docs"),
        sum(coalesce(nChars, lit(0L))).as("n_chars"),
        coalesce(sum(size(tokens(text)).cast("long")), lit(0L))
          .as("n_words"),
        count_distinct(lang).as("n_langs"),
        count_distinct(source).as("n_sources"),
        count_distinct(md5(text)).as("n_distinct_texts"),
        sum(when(lang === "en", 1L).otherwise(0L)).as("n_en"),
        count(lang).as("n_lang_tagged"))
      .select(col("n_docs"), col("n_text_docs"), col("n_chars"),
        col("n_words"), col("n_langs"), col("n_sources"),
        col("n_distinct_texts"),
        when(col("n_text_docs") === 0L, lit(null).cast("double"))
          .otherwise((col("n_text_docs") - col("n_distinct_texts"))
            .cast("double") / col("n_text_docs").cast("double"))
          .as("dup_rate"),
        when(col("n_lang_tagged") === 0L, lit(null).cast("double"))
          .otherwise(col("n_en").cast("double") /
            col("n_lang_tagged").cast("double")).as("en_share"))

  /** Flesch reading-ease + Flesch–Kincaid grade per document — the
    * classic readability gate a curation pipeline runs beside the
    * Gopher/C4 batteries (docs far outside the human-prose band are
    * OCR junk, code, or word salad).
    *
    * All three raw counts are exact integers from one pass over the
    * text: words = whitespace tokens, sentences = maximal runs of
    * `[.!?]`, syllables = maximal vowel-group runs (`[aeiouy]+`) of
    * the case-folded text — vowel runs cannot span whitespace, so
    * folding the whole document equals folding per word. The two
    * score formulas divide exact integers in a fixed order (IEEE
    * division is correctly rounded, so both engines agree bit-wise);
    * zero words or zero sentences short-circuits to NULL through the
    * same CASE on both engines (ANSI divide guard). Zero-shuffle
    * codegen projection — runs at parquet-scan speed.
    */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val w = size(tokens(text)).cast("long")
    val s = size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long")
    val y = size(regexp_extract_all(foldLower(text), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    df.select(id.as("doc_id"), w.as("n_words"), s.as("n_sentences"),
        y.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") === 0L || col("n_sentences") === 0L,
          lit(null).cast("double"))
          .otherwise(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
          .as("flesch"),
        when(col("n_words") === 0L || col("n_sentences") === 0L,
          lit(null).cast("double"))
          .otherwise(lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
          .as("fk_grade"))
  }

  /** Conditional bigram entropy H(next | current) per document — the
    * repetitiveness signal the unigram batteries miss: templated or
    * machine-looped text repeats TRANSITIONS, so its conditional
    * entropy collapses even when its unigram distribution looks
    * healthy. H = Σ_{uv} (c_uv/N)·ln(c_u/c_uv) over the document's
    * folded-token bigrams (N = token count − 1, c_u counts u as a
    * bigram HEAD, i.e. over the first n−1 positions).
    *
    * Shape: the whole statistic is PER-DOCUMENT math, so it computes
    * inside the scan projection — one native call
    * ([[graft.functions.BigramEntropyStats]], term-for-term identical
    * to the relational explode→count→window→fold form, which
    * [[bigramEntropyRelational]] keeps as the spec's cross-check) and
    * ZERO exchanges. Each ln term is fixed-point quantized
    * (floor(term·1e9) AS BIGINT — the PSI/JS discipline) before the
    * per-doc LONG sum, so neither libm ulp drift nor fold order can
    * leak into the hash compare. Documents with fewer
    * than 2 tokens have no transitions and are absent from the
    * output (mirrored WHERE on both engines).
    */
  def bigramEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val st = graft.functions.BigramEntropyStats(tokensFolded(text))
    df.select(id.as("doc_id"), st.as("st"))
      .filter(col("st.n_bigrams") >= 1L) // i.e. ≥ 2 tokens
      .select(col("doc_id"), col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct_bigrams").as("n_distinct_bigrams"),
        (col("st.entropy_q").cast("double") / lit(1.0e9))
          .as("bigram_entropy"))
  }

  /** The relational explode→count→window→fold form of
    * [[bigramEntropy]] — kept as the cross-check the spec pins the
    * native scan expression against (not on any query path). */
  private[graft] def bigramEntropyRelational(df: DataFrame, id: Column,
                                             text: Column): DataFrame = {
    val tk = tokensFolded(text)
    val b = df
      .select(id.as("doc"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc"), (size(col("tk")) - 1).cast("long").as("n"),
        col("tk"), posexplode(col("tk")))
      .filter(col("pos") < size(col("tk")) - 1)
      .select(col("doc"), col("n"), col("col").as("u"),
        element_at(col("tk"), col("pos") + 2).as("v"))
    val cnt = b.groupBy(col("doc"), col("u"), col("v"))
      .agg(count(lit(1)).as("c_uv"), min(col("n")).as("n"))
    val wcu = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"), col("u"))
    cnt
      .withColumn("c_u", sum(col("c_uv")).over(wcu))
      .select(col("doc"), col("n"), col("c_uv"),
        floor(col("c_uv").cast("double") / col("n").cast("double") *
          log(col("c_u").cast("double") / col("c_uv").cast("double")) *
          lit(1.0e9)).cast("long").as("tq"))
      .groupBy(col("doc"))
      .agg(min(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        (sum(col("tq")).cast("double") / lit(1.0e9)).as("bigram_entropy"))
      .withColumnRenamed("doc", "doc_id")
  }

  /** Full per-document stats frame. */
  def docStats(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(
      id.as("doc_id"),
      length(text).as("n_chars"),
      wordCount(text).as("n_words"),
      tokenCount(text).as("n_tokens"),
      bpeTokenEstimate(text).as("n_bpe_tokens"),
      punctRatio(text).as("punct_ratio"),
      stopwordRatio(text).as("stopword_ratio"),
      meanWordLen(text).as("mean_word_len"),
      qualityScore(text).as("quality"),
      langId(text).as("lang_guess"),
      tokenSetFingerprint(text).as("fingerprint"))

  /** Vocabulary coverage curve: for each cutoff k, the token-mass
    * fraction the top-k most frequent (folded) types cover — the
    * tokenizer/vocab budget question ("does 10k types cover 95% of the
    * stream?") that Zipf's slope implies but doesn't answer in
    * absolute terms. Ranking breaks frequency ties by the token text,
    * so each cutoff is a deterministic prefix.
    *
    * Exactness: frequencies and cumulative masses are exact integer
    * sums; the fraction divides once.
    *
    * Shape: one token-explode agg (the corpus-sized work), then a
    * rank + running-sum window over the VOCAB (domain-sized,
    * single-partition — the zipf regime; gate with a minFreq filter
    * if the type inventory is genuinely unbounded), and a broadcast
    * cutoff spine. */
  def vocabCoverage(df: DataFrame, text: Column,
                    cutoffs: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = df.filter(text.isNotNull)
      .select(explode(graft.functions.GraftFunctions.tokensFolded(text))
        .as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("t"))
    val ranked = vocab
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("f")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val tot = vocab.agg(count(lit(1)).as("v_size"),
      sum(col("f")).as("total"))
    cutoffs.toDF("k").crossJoin(broadcast(tot))
      .join(ranked, col("rank") === least(col("k"), col("v_size")))
      .select(col("k"), least(col("k"), col("v_size")).as("n_types"),
        col("cum").as("mass"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("frac_mass"))
  }
  /** Unicode-script character profile per group — the multilingual-
    * curation drift monitor a declared-language label cannot give
    * (mislabeled or transliterated crawl slices show up as a script
    * mix that contradicts the label). Counts characters in five
    * explicit BMP ranges (Latin letters, digits, Cyrillic, Greek,
    * CJK-unified) plus whitespace; `frac_*` normalize by total
    * characters. Ranges are spelled as explicit \\x{...} intervals —
    * the Java∩RE2 regex subset (the piiScrub discipline), so the
    * DuckDB twin strips the identical classes. Counting is
    * length-minus-stripped over codepoints; NULL text contributes
    * nothing (sum skips NULLs on both engines).
    *
    * Shape: six regexp projections fused into the scan + ONE
    * map-combined groupBy on the group key. Scan-bound. */
  /** Per-group encoding-health scan — the mojibake line of the ingest
    * dashboard (the [[scriptProfile]] companion for BROKEN text): how
    * many docs carry U+FFFD replacement characters (a decoder already
    * gave up upstream — the text is damaged beyond repair and poisons
    * n-gram/dedup features silently) and how many carry C0 control
    * characters other than tab/LF/CR (binary spill into a text column:
    * truncated PDFs, wrong-codec transcodes). At lake scale a feed
    * whose repl_rate jumps is a broken crawler, caught here before the
    * quality classifier dilutes it across the mix.
    *
    * One zero-shuffle scan projection (a contains + one RE2/Java-regex
    * class, identical pattern text both engines) + a map-combined
    * |groups|-key aggregate. Returns (g, n_docs, n_replacement,
    * n_ctrl, repl_rate, ctrl_rate). */
  def encodingScan(df: DataFrame, group: Column, text: Column)
      : DataFrame =
    df.filter(text.isNotNull)
      .select(group.as("g"),
        text.contains(lit("\uFFFD")).as("__repl"),
        text.rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("__ctrl"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("__repl"), 1L)), lit(0L))
          .as("n_replacement"),
        coalesce(sum(when(col("__ctrl"), 1L)), lit(0L)).as("n_ctrl"))
      .select(col("g"), col("n_docs"), col("n_replacement"), col("n_ctrl"),
        (col("n_replacement").cast("double") / col("n_docs").cast("double"))
          .as("repl_rate"),
        (col("n_ctrl").cast("double") / col("n_docs").cast("double"))
          .as("ctrl_rate"))

  def scriptProfile(df: DataFrame, group: Column, text: Column)
      : DataFrame = {
    val classes = Seq(
      "latin" -> "[A-Za-z]", "digit" -> "[0-9]",
      "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "greek" -> "[\\x{0370}-\\x{03FF}]",
      "han" -> "[\\x{4E00}-\\x{9FFF}]",
      "space" -> "[ \\t\\n]")
    def cnt(re: String): Column =
      (length(text) - length(regexp_replace(text, re, ""))).cast("long")
    val per = df.select(Seq(group.as("g"), length(text).cast("long")
      .as("__c")) ++ classes.map { case (n, re) => cnt(re).as(s"__$n") }: _*)
    val agg = per.groupBy(col("g")).agg(
      sum(col("__c")).as("n_chars"),
      classes.map { case (n, _) => sum(col(s"__$n")).as(s"n_$n") }: _*)
    classes.foldLeft(agg) { case (d, (n, _)) =>
      d.withColumn(s"frac_$n",
        when(col("n_chars") === 0L, lit(null).cast("double"))
          .otherwise(col(s"n_$n").cast("double") /
            col("n_chars").cast("double")))
    }
  }
}
