package graft.llm

import graft.core.Caches
import graft.functions.GraftFunctions._
import graft.graph.SmallGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines (driver north-star;
  * SURVEY.md §7.1 step 7). All variants are shuffle-bounded: candidate
  * generation is hash-bucketed (never all-pairs), so the plans scale
  * linearly with corpus size — the only quadratic work happens inside
  * buckets.
  */
object Dedup {

  /** Release every GLOBALLY tracked cache (dedup band tables, graph
    * rank vectors, …) registered since the last release — delegates to
    * [[graft.core.Caches.release]]. Call after the action consuming
    * the returned DataFrame; a concurrent harness wraps each query in
    * [[graft.core.Caches.scope]] instead and closes its own scope. */
  def releaseCaches(): Unit = Caches.release()

  /** Exact dedup by content hash: keeps the lowest-id row per distinct
    * content. One hash-aggregate shuffle; at 100 TB the md5 prefilter means
    * we never shuffle full documents, only (hash, id). */
  def exactByContent(df: DataFrame, content: Column, id: Column): DataFrame =
    df.select(md5(content).as("content_hash"), id.as("keep_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("keep_id")).as("keep_id"))

  /** Cross-source duplication matrix — "which sources carry the same
    * content": for every source pair, the number of DISTINCT content
    * units both publish. The unit is the caller's `content` column:
    * full document text gives the syndication/mirror map (a
    * high-overlap pair means one source mirrors the other and its
    * sampling weight double-counts); exploded w-shingles give the
    * lexical-overlap map (the softer boilerplate/affiliation signal —
    * the driver query's choice, so the matrix is non-vacuous on
    * corpora whose exact dups happen to stay within one source).
    *
    * Scale posture: the corpus collapses to DISTINCT (source, hash)
    * rows first (one hash shuffle with map-side distinct), so the
    * hash-keyed self-join fans out at most #sources rows per content
    * hash — C(k,2) pairs for a unit carried by k sources, bounded by
    * #sources² per unit, never corpus-quadratic; the pair aggregate
    * partial-combines to a |sources|²-row table. NULL content drops
    * (no identity to share). Emits (src_a, src_b, n_shared) with
    * src_a < src_b. */
  def crossSourceDup(df: DataFrame, source: Column, content: Column): DataFrame = {
    // persisted: the self-join would otherwise recompute the (explode→)
    // hash→distinct chain once per side (the minhashBands discipline).
    // Identity is md5Long (the engine-wide 60-bit convention, mirrored
    // in the oracle twin): the distinct and the self-join then key on
    // (src, 8-byte long) instead of (src, 32-char hex string)
    // A/B'd (r15): an explicit h-repartition that lets the distinct
    // and the self-join share ONE exchange loses to this shape at both
    // sf0.1 (1.30 → 1.57 s) and sf1 — the raw exploded shingle stream
    // it shuffles outweighs the saved exchange; map-side dedup earns
    // its second (much smaller) shuffle. Kept: distinct-then-rekey.
    val sh = Caches.track(df.filter(content.isNotNull)
      .select(source.as("src"),
        graft.functions.GraftFunctions.md5Long(content).as("h")).distinct())
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** KMV (bottom-k) sketch Jaccard between every source pair — the
    * SKETCH-SCALE companion of [[crossSourceDup]]: the exact matrix
    * self-joins the full distinct (source, hash) relation on the hash,
    * which at 100 TB shuffles the whole corpus identity set per
    * refresh; the KMV form collapses each source to its k SMALLEST
    * content hashes (Beyer et al.'s k-minimum-values synopsis — a
    * bottom-k order statistic, so the sketch is deterministic given
    * the hash, mergeable, and ε ≈ 1/√k), and every pairwise estimate
    * is then |sources|²-cheap driver-side-sized math.
    *
    * Estimator: for pair (A, B), pool = the k' smallest of
    * sig_A ∪ sig_B with k' = min(k_A, k_B, |union|); pool members
    * present in BOTH signatures are union-sampled intersection hits,
    * so Ĵ = |pool ∩ A ∩ B| / k', and the union size estimate is the
    * KMV cardinality (k'−1)·2⁶⁰ / pool_max (md5Long is uniform on
    * [0, 2⁶⁰)). Both are exact integer/array computations plus ONE
    * final double division — bit-identical across engines. Pairs with
    * k' < 2 emit NULL estimates (a 1-element pool estimates nothing).
    *
    * Shape: one distinct (src, h) shuffle (map-side combined), a
    * per-source bottom-k window (the sort is per-source over its
    * distinct hashes; at lake scale swap in a partial bottom-k
    * aggregate — same output, it is an order statistic), then the
    * ≤|sources|-row signature table broadcast self-joins: the pairwise
    * stage never touches the corpus. */
  def kmvSourceJaccard(df: DataFrame, source: Column, content: Column,
                       k: Int): DataFrame =
    kmvJaccardFromSketch(kmvSketch(df, source, content, k), k)

  /** The per-source bottom-k (src, h) relation [[kmvSourceJaccard]]
    * estimates from — public because it is ALSO the streaming ledger
    * format ([[graft.streaming.Streaming.mergeKmvLedger]]): bottom-k
    * of a union is the bottom-k of the per-batch bottom-k's (an order
    * statistic over a set), so the sketch min-merges idempotently —
    * replayed batches are no-ops by construction, the bloom-ledger
    * guarantee without even a high-water mark. */
  def kmvSketch(df: DataFrame, source: Column, content: Column,
                k: Int): DataFrame = {
    val sh = df.filter(content.isNotNull && source.isNotNull)
      .select(source.as("src"),
        graft.functions.GraftFunctions.md5Long(content).as("h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("h"))
    sh.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select(col("src"), col("h"))
  }

  /** Pairwise KMV estimates over a stored/streamed (src, h) sketch
    * relation — the query half of [[kmvSourceJaccard]]. */
  def kmvJaccardFromSketch(sk: DataFrame, k: Int): DataFrame = {
    val sig = sk
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("h"))).as("sig"),
        count(lit(1)).as("k_eff"))
    val u = array_sort(array_union(col("a.sig"), col("b.sig")))
    val kk = least(col("a.k_eff"), col("b.k_eff"), size(u).cast("long"))
    val pool = slice(u, lit(1), kk.cast("int"))
    val nMatch = size(array_intersect(
      array_intersect(pool, col("a.sig")), col("b.sig"))).cast("long")
    val poolMax = element_at(pool, kk.cast("int"))
    sig.as("a").join(broadcast(sig.as("b")), col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        kk.as("k_used"), nMatch.as("n_match"),
        when(kk < 2L, lit(null).cast("double"))
          .otherwise(nMatch.cast("double") / kk.cast("double"))
          .as("jaccard_kmv"),
        when(kk < 2L, lit(null).cast("double"))
          .otherwise((kk - 1L).cast("double") * lit(1152921504606846976.0) /
            poolMax.cast("double")).as("union_est"))
  }

  /** Incremental exact dedup: dedupe INCOMING docs against an already-
    * ingested corpus — the every-day shape of a continuously-fed lake
    * (yesterday's corpus is fixed; today's drop must not re-add seen
    * content). Returns (content_hash, keep_id) for content that is both
    * new-to-the-corpus and deduped within the increment (lowest id).
    * Anti-join on the hash, so NULL-content rows are kept on both engines
    * (a NULL key never matches) and full documents never shuffle —
    * only (hash, id). At 100 TB the existing side is the stored dedup
    * ledger, bucketed by content_hash so the anti-join co-locates. */
  def exactIncrement(incoming: DataFrame, content: Column, id: Column,
                     existing: DataFrame, existingContent: Column): DataFrame =
    exactByContent(incoming, content, id)
      .join(existing.select(md5(existingContent).as("content_hash"))
          .filter(col("content_hash").isNotNull).distinct(),
        Seq("content_hash"), "left_anti")

  /** Corpus snapshot diff: per-document added / removed / changed /
    * unchanged status between two corpus versions — the audit step
    * between crawls that tells a pipeline what to re-process (changed ∪
    * added), what to tombstone (removed), and what to skip. Compares
    * md5 content hashes under a full-outer id join, so full documents
    * never shuffle — only (id, hash); at lake scale both snapshots are
    * stored bucketed by id and the join co-locates with zero exchanges
    * (the exactIncrement ledger discipline). NULL content hashes to
    * NULL and compares with null-safe equality: NULL→NULL is
    * `unchanged`, NULL→text is `changed`.
    * Returns (doc_id, status, h_prev, h_cur). */
  def corpusDiff(prev: DataFrame, cur: DataFrame, id: Column,
                 content: Column): DataFrame = {
    // presence rides as literal flags, NOT hash nullness: a NULL-content
    // doc dropped from `cur` is removed, not "unchanged NULL<=>NULL"
    val p = prev.select(id.as("doc_id"), md5(content).as("h_prev"),
      lit(true).as("__in_prev"))
    val c = cur.select(id.as("doc_id"), md5(content).as("h_cur"),
      lit(true).as("__in_cur"))
    p.join(c, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__in_prev").isNull, lit("added"))
          .when(col("__in_cur").isNull, lit("removed"))
          .when(col("h_prev") <=> col("h_cur"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("h_prev"), col("h_cur"))
  }

  /** Exact dedup retaining full rows: hash-partitioned top-1 per content
    * hash (no full-row shuffle beyond the one exchange). */
  def exactRows(df: DataFrame, content: Column, id: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(content)).orderBy(id)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash+LSH near-dup candidates: (doc, band_key) pairs. Docs sharing
    * any band key are candidates. k = bands * rowsPerBand hashes.
    * Scale shape: explode to bands× rows, ONE shuffle on band_key —
    * classic shingle→minhash→band→bucket-join.
    *
    * Plan shape: the signature is computed ONCE per doc (project), then
    * the band index is exploded FIRST and the band key derived from the
    * materialized `sig` attribute — deriving keys inside a lambda over
    * the band range would re-evaluate the signature per band. */
  def minhashBands(df: DataFrame, id: Column, text: Column,
                   shingleWidth: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignature(shingles(text, shingleWidth), bands * rowsPerBand)
    // docs shorter than the shingle width have NO shingles and therefore
    // no signal: banding their all-null signatures would make every short
    // doc a spurious near-dup of every other short doc (their "empty"
    // band keys collide). They are excluded here and thus never dominated
    // — dedup keeps them, pair generation skips them.
    df.filter(size(tokens(text)) >= shingleWidth)
      .select(id.as("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .select(col("doc_id"),
        concat_ws("_", col("b").cast("string"),
          md5(array_join(transform(
            slice(col("sig"), col("b") * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")), ","))).as("band_key"))
  }

  /** MinHash-LSH dedup: drop every doc that shares ≥1 LSH band with a
    * lower-id doc. Returns the kept ids. Bucketed self-join (band_key is
    * the join key) — no all-pairs work.
    *
    * The band table is persisted before the self-join: without it Spark
    * executes the scan→shingle→signature subtree once per join side. At
    * lake scale the same move is writing the signature/band table out
    * once and joining against the materialization. */
  def minhashDedupKeptIds(df: DataFrame, id: Column, text: Column,
                          shingleWidth: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val b = Caches.track(minhashBands(df, id, text, shingleWidth, bands, rowsPerBand))
    val dominated = b.as("a").join(b.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id")).distinct()
    df.select(id.as("doc_id")).distinct()
      .join(dominated, Seq("doc_id"), "left_anti")
  }

  /** LSH candidate pair set: docs sharing ≥1 MinHash band, canonical
    * (doc_a < doc_b), deduplicated across bands. The bucketed self-join
    * on band_key is the no-all-pairs discipline every near-dup consumer
    * shares; the band table persists so the self-join does not
    * recompute scan→shingle→signature per side (at lake scale: write
    * the band table once, join the materialization). */
  def lshCandidatePairs(df: DataFrame, id: Column, text: Column,
                        shingleWidth: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2): DataFrame = {
    val b = Caches.track(minhashBands(df, id, text, shingleWidth, bands, rowsPerBand))
    b.as("x").join(b.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
  }

  /** Jaccard-verified near-dup pairs: LSH candidates filtered by exact
    * n-gram Jaccard ≥ threshold. The verify step only touches candidate
    * pairs (bucket-bounded). Emits (doc_a, doc_b, jaccard_sim). */
  def nearDupPairs(df: DataFrame, id: Column, text: Column, threshold: Double,
                   shingleWidth: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val withSh = df.select(id.as("doc_id"),
      array_distinct(graft.functions.ShingleHashes(tokens(text),
        shingleWidth)).as("sh"))
    val cand = lshCandidatePairs(df, id, text, shingleWidth, bands, rowsPerBand)
    cand
      .join(withSh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(withSh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /** Near-dup yield curve: pair and dropped-doc counts at ESCALATING
    * Jaccard thresholds — the tuning table a dedup deployment reads
    * before committing to a cut ("0.8 drops 3% of docs, 0.6 drops
    * 11%" — the aggressiveness/recall trade-off, the
    * [[graft.entry.LlmQueries]] probe-curve discipline applied to
    * dedup). Docs dropped = distinct higher-id pair members (the
    * keep-lowest rule's direct victims; transitive closure only
    * shrinks a cut's KEPT set further, so the curve is a lower
    * bound per threshold — documented, not hidden).
    *
    * Shape: the candidate stream is generated and Jaccard-verified
    * ONCE at the loosest threshold (tracked persist), then each curve
    * point is a filter + two counts over that bounded pair table —
    * never a re-scan, never a second banding pass. */
  def dedupYieldCurve(df: DataFrame, id: Column, text: Column,
                      thresholds: Seq[Double], shingleWidth: Int = 3,
                      bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val base = Caches.track(nearDupPairs(df, id, text, thresholds.min,
      shingleWidth, bands, rowsPerBand))
    thresholds.sorted.map { t =>
      base.filter(col("jaccard_sim") >= t)
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("doc_b")).as("n_docs_dropped"))
        .select(lit(t).as("threshold"), col("n_pairs"),
          col("n_docs_dropped"))
    }.reduce(_ unionByName _)
  }

  /** Default input-leaf bound of [[jaccardJoinPrefix]]'s single-task
    * regime (2 MiB), at most the largest input at which the one task
    * was timed against the cluster branch. On `tools/gen_sf1.py`
    * replicas of sf0.1 at θ = 2/5, `local[4]`, 4 shuffle partitions,
    * one task / cluster: 2.2 / 11.0 s at 1.17 MB of documents and
    * 6.5 / 27.2 s at 2.32 MB, with the same rows. Above the bound the
    * cluster branch runs until a larger input is timed. */
  val SmallJoinMaxBytes: Long = 2L << 20

  /** EXACT Jaccard similarity self-join via prefix filtering (Chaudhuri
    * et al. ICDE'06; Xiao et al. WWW'08 "PPJoin") — the zero-false-
    * negative complement of [[nearDupPairs]]: LSH banding trades recall
    * for candidate volume, prefix filtering keeps recall 1 and still
    * prunes the quadratic. Elements are the doc's distinct w-shingles;
    * the threshold is a RATIONAL n/m so the final predicate is exact
    * integer arithmetic ((m+n)·|A∩B| ≥ n·(|A|+|B|)) — no double
    * compare anywhere.
    *
    * Candidate generation: order the element universe by global
    * (document-frequency asc, element asc) — rare shingles first — and
    * keep each doc's first p = s − ⌈θ·s⌉ + 1 elements under that
    * order. Any pair with J ≥ θ must share a PREFIX element (pigeonhole
    * on the ⌈θ·s⌉-element overlap J ≥ θ forces), so the equi-join on
    * prefix postings is complete; a symmetric size gate (m·s_b ≥ n·s_a
    * both ways) prunes length-incompatible pairs before the join.
    *
    * Scale posture: NO global rank table — the order is applied per
    * doc (window partitioned by doc_id) after a posting⋈df join, so
    * the only corpus-wide aggregates are the df count and the final
    * verify; prefix postings shrink with θ (θ=0.8 keeps ~20% of
    * postings). Verification joins the bounded candidate set back to
    * the full shingle arrays — the [[nearDupPairs]] verify pattern.
    *
    * A small input with an integral id (the [[SmallGraph]] regime test
    * against `smallInputThreshold`, default [[SmallJoinMaxBytes]]; 0
    * forces the cluster branch above)
    * runs the same prefix filter in ONE task over the codegen'd shingle
    * projection: one job, no exchange (see [[smallJaccardJoin]]).
    *
    * A NULL id, NULL text or a text shorter than `shingleWidth` tokens
    * is in no pair. Ids are expected unique. A duplicated non-null id
    * pairs with no copy of itself, and both branches then filter
    * candidates per id over the merged multiset of its copies' tokens
    * (the per-doc windows) but verify and emit each pair of copies
    * apart, so they agree; that merged filter is not complete for the
    * copies, so some of their pairs with J ≥ n/m may be missed.
    * Emits (doc_a, doc_b, inter, union_sz) for pairs with J ≥ n/m. */
  def jaccardJoinPrefix(df: DataFrame, id: Column, text: Column,
                        thetaNum: Int, thetaDen: Int,
                        shingleWidth: Int = 3,
                        smallInputThreshold: Long = SmallJoinMaxBytes): DataFrame = {
    require(thetaNum > 0 && thetaDen >= thetaNum,
      s"threshold $thetaNum/$thetaDen must sit in (0, 1]")
    val (n, m) = (thetaNum.toLong, thetaDen.toLong)
    def shingled(in: DataFrame) = in.select(id.as("doc_id"),
      array_distinct(graft.functions.ShingleHashes(tokens(text),
        shingleWidth)).as("sh"))
    val ids = df.select(id)
    if (SmallGraph.isSmall(df, smallInputThreshold) && SmallGraph.integral(ids)) {
      val session = df.sparkSession
      import session.implicits._
      val idType = ids.schema.head.dataType
      return shingled(df)
        .select(col("doc_id").cast("long"), col("sh"))
        .filter(size(col("sh")) > 0)
        .as[(Option[Long], Array[Long])]
        .coalesce(1)
        .mapPartitions(smallJaccardJoin(_, n, m))
        .toDF("doc_a", "doc_b", "inter", "union_sz")
        .withColumn("doc_a", col("doc_a").cast(idType))
        .withColumn("doc_b", col("doc_b").cast(idType))
    }
    import org.apache.spark.sql.expressions.Window
    // spread BEFORE the shingle explode: a single-split source would
    // otherwise run the whole tokenize+shingle projection in one task
    // (the qualityRules lesson); no-op at lake scale where scans split
    val withSh = Caches.track(shingled(graft.core.Xform.spreadToCores(df)))
    val posts = withSh.select(col("doc_id"), explode(col("sh")).as("tok"))
    // df via hash aggregate + join-back: A/B-measured 2.9 s vs 13.5 s
    // for the window-over-token form — shingle vocab is explode-sized
    // (~unique per posting), so a WindowExec sort over it dwarfs the
    // hash agg, the reverse of the tfIdfTopTerms trade where the window
    // rides an existing doc-keyed exchange
    val dfreq = posts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc (df asc, tok asc) rank and set size — windows partitioned
    // by doc_id, never a global sort
    val w = Window.partitionBy(col("doc_id"))
    val ordered = posts.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w.orderBy(col("df"), col("tok"))))
      .withColumn("s", count(lit(1)).over(w))
    // p = s − ⌈n·s/m⌉ + 1 without any division: rn ≤ p ⇔ ⌈ns/m⌉ ≤
    // s − rn + 1 ⇔ n·s ≤ m·(s − rn + 1) — exact integer multiplies
    val prefix = Caches.track(ordered
      .filter(col("s") * n <= (col("s") - col("rn") + 1) * m)
      .select(col("doc_id"), col("tok"), col("s"), col("rn")))
    // PPJoin positional filter: a prefix match at ranks (rn_x, rn_y)
    // bounds the achievable overlap by 1 + min(s−rn) tokens, and J ≥
    // n/m needs overlap ≥ n/(m+n)·(s_a+s_b) — keep a pair only if its
    // best match's bound reaches that. SOUND with max() because the
    // globally-first common token is always a prefix match on both
    // sides and maximizes the bound (nothing common precedes it). The
    // max ride the same per-pair shuffle the bare distinct paid;
    // measured at sf0.1: 444 k → 206 k pairs entering the array verify
    // (wall-clock there is join-bound — the pruning is the lake-scale
    // lever, where verify is the quadratic term). Integer throughout.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") &&
          col("x.s") * n <= col("y.s") * m && col("y.s") * n <= col("x.s") * m)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (lit(1L) + least(col("x.s") - col("x.rn"), col("y.s") - col("y.rn")))
          .as("ub"),
        (col("x.s") + col("y.s")).as("ss"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("ub")).as("ub"), max(col("ss")).as("ss"))
      .filter(col("ub") * (m + n) >= col("ss") * n)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(withSh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(withSh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long").as("inter"),
        size(array_union(col("sa.sh"), col("sb.sh"))).cast("long").as("union_sz"))
      .filter(col("inter") * (m + n) >= (col("inter") + col("union_sz")) * n)
  }

  /** The small-input regime of [[jaccardJoinPrefix]]: PPJoin in one
    * task over (doc_id, distinct shingle hashes) rows with non-empty
    * sets. Hashes intern to dense ints and renumber by (df asc, hash
    * asc), df counting every row as the cluster branch's postings do
    * (NULL ids included), so each row becomes an ascending int array
    * under the global order. Rows group by id: one record per id, the
    * merged multiset of its copies (the row itself when the id is
    * unique). Records are probed by their prefixes p = s − ⌈n·s/m⌉ + 1
    * in ascending size against an index of the shorter PPJoin index
    * prefixes s − ⌈2n·s/(m+n)⌉ + 1 of the records before them (p itself
    * when an id is duplicated), which are no larger, under the cluster
    * branch's size gate
    * (n·s_x ≤ m·s_y) and positional bound (the first prefix match
    * bounds the overlap by 1 + min of the remaining lengths).
    * Survivors verify copy by copy with a sorted merge under the same
    * integer predicate. Work is the prefix postings' pair count plus
    * the merges: never Σ df², which a full overlap count pays on
    * common shingles. */
  private def smallJaccardJoin(docs: Iterator[(Option[Long], Array[Long])], n: Long,
                               m: Long): Iterator[(Long, Long, Long, Long)] = {
    val hashes = new graft.core.LongIndex()
    val rowIds = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
    val sets = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var dfc = new Array[Int](1 << 12)
    docs.foreach { case (d, sh) =>
      val s = sh.map { h =>
        val t = hashes.intern(h)
        if (t == dfc.length) dfc = java.util.Arrays.copyOf(dfc, t << 1)
        dfc(t) += 1
        t
      }
      rowIds += d; sets += s
    }
    // rank tokens by (df asc, hash asc): counting sort on df, then the
    // hashes of each df run ascending
    val nt = hashes.size
    val maxDf = if (nt == 0) 0 else dfc.iterator.take(nt).max
    val start = new Array[Int](maxDf + 2)
    var t = 0
    while (t < nt) { start(dfc(t) + 1) += 1; t += 1 }
    var f = 0
    while (f <= maxDf) { start(f + 1) += start(f); f += 1 }
    val sorted = new Array[Long](nt)
    val fill = start.clone()
    t = 0
    while (t < nt) { sorted(fill(dfc(t))) = hashes.id(t); fill(dfc(t)) += 1; t += 1 }
    f = 0
    while (f <= maxDf) { java.util.Arrays.sort(sorted, start(f), start(f + 1)); f += 1 }
    val rank = new Array[Int](nt)
    var r = 0
    while (r < nt) { rank(hashes.intern(sorted(r))) = r; r += 1 }
    // one record per non-NULL id: its copies' ranked sets, and their
    // merged multiset for the candidate filter
    val live = rowIds.indices.filter(rowIds(_).isDefined).sortBy(rowIds(_).get)
    val runs = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    live.indices.foreach { i =>
      if (i == 0 || rowIds(live(i)) != rowIds(live(i - 1))) runs += IndexedSeq(live(i))
      else runs(runs.length - 1) :+= live(i)
    }
    val nd = runs.length
    val ids = runs.map(g => rowIds(g.head).get).toArray
    val copies = runs.map(_.map { x =>
      val s = sets(x).map(rank); java.util.Arrays.sort(s); s
    }.toArray).toArray
    val recs = copies.map { c =>
      if (c.length == 1) c(0) else { val a = c.flatten; java.util.Arrays.sort(a); a }
    }
    def prefix(s: Int): Int = (s - (n * s + m - 1) / m + 1).toInt
    // PPJoin's index prefix s − ⌈2n·s/(m+n)⌉ + 1: a record is only ever
    // probed by records no smaller, so a pair with J ≥ n/m overlaps in
    // ≥ 2n/(m+n)·s of the indexed record's tokens, and their first
    // common token falls inside it. Merged copies of a duplicated id are
    // multisets, for which that bound fails: they index the probe prefix
    val merged = runs.exists(_.length > 1)
    def indexPrefix(s: Int): Int =
      if (merged) prefix(s) else (s - (2 * n * s + m + n - 1) / (m + n) + 1).toInt
    // records by ascending size; index-prefix postings (record,
    // position) per token in that order, so each list is size-ascending
    val order = Array.range(0, nd).sortBy(recs(_).length)
    val pOff = new Array[Int](nt + 1)
    order.foreach { x =>
      var i = 0
      while (i < indexPrefix(recs(x).length)) { pOff(recs(x)(i) + 1) += 1; i += 1 }
    }
    t = 0
    while (t < nt) { pOff(t + 1) += pOff(t); t += 1 }
    val pDoc = new Array[Int](pOff(nt)); val pPos = new Array[Int](pOff(nt))
    val pFill = pOff.clone()
    val seq = new Array[Int](nd) // record → its place in `order`
    var o = 0
    while (o < nd) {
      val x = order(o); seq(x) = o
      var i = 0
      while (i < indexPrefix(recs(x).length)) {
        val tok = recs(x)(i)
        pDoc(pFill(tok)) = x; pPos(pFill(tok)) = i; pFill(tok) += 1
        i += 1
      }
      o += 1
    }
    def overlap(a: Array[Int], b: Array[Int]): Long = {
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      }
      inter
    }
    // per-token cursor past postings too small for every later probe
    val lo = pOff.clone()
    val seen = Array.fill(nd)(-1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    o = 0
    while (o < nd) {
      val x = order(o); val rx = recs(x); val sx = rx.length.toLong
      var i = 0
      while (i < prefix(rx.length)) {
        val tok = rx(i)
        while (lo(tok) < pOff(tok + 1) && n * sx > m * recs(pDoc(lo(tok))).length)
          lo(tok) += 1
        var e = lo(tok)
        while (e < pOff(tok + 1) && seq(pDoc(e)) < o) {
          val y = pDoc(e)
          if (seen(y) != o) {
            seen(y) = o
            val sy = recs(y).length.toLong
            val ub = 1L + math.min(sx - i - 1, sy - pPos(e) - 1)
            if (ub * (m + n) >= (sx + sy) * n)
              for (a <- copies(x); b <- copies(y)) {
                val inter = overlap(a, b)
                if (inter * (m + n) >= (a.length + b.length).toLong * n)
                  out += ((math.min(ids(x), ids(y)), math.max(ids(x), ids(y)),
                    inter, a.length + b.length - inter))
              }
          }
          e += 1
        }
        i += 1
      }
      o += 1
    }
    out.iterator
  }

  /** Exact CONTAINMENT self-join: pairs (a, b) with
    * |A∩B| / |A| ≥ n/m (directional — a is the contained side). This is
    * the near-dup relation symmetric Jaccard cannot see: a snippet
    * pasted into a 100× larger page has J ≈ |A|/|B| ≈ 0 but containment
    * ≈ 1, and containment-dedup (drop the contained member) is the
    * standard superset-dup rule crawl curation applies after Jaccard
    * dedup (reference's dedup charter, README.md:30-34; prefix scheme
    * per Chaudhuri et al., ICDE'06 "A primitive operator for similarity
    * joins").
    *
    * Prefix filter, asymmetric form: order tokens globally by
    * (df asc, tok asc); A must match B inside A's first
    * p = s_a − ⌈t·s_a⌉ + 1 tokens (missing all of them caps the
    * overlap below t·s_a), but B CANNOT be pruned to a prefix — the
    * denominator is |A| alone, so any token of B may witness. Candidate
    * stream is therefore prefix(A) ⋈ postings(B), with the size gate
    * m·s_b ≥ n·s_a (inter ≤ s_b must reach t·s_a) applied inside the
    * join. Integer threshold math throughout; rn ≤ p without division:
    * n·s_a ≤ m·(s_a − rn + 1).
    *
    * Scale posture: same as [[jaccardJoinPrefix]] — df-ordered prefixes
    * put the RAREST tokens in the probe side, candidate volume is
    * Σ_tok df_prefix(tok)·df(tok), never all-pairs; verification joins
    * the candidate set back to the persisted shingle arrays. Emits
    * (doc_a, doc_b, inter, s_a, s_b) with doc_a ≠ doc_b (both
    * directions can appear when each side clears its own threshold). */
  def containmentJoin(df: DataFrame, id: Column, text: Column,
                      thetaNum: Int, thetaDen: Int,
                      shingleWidth: Int = 3): DataFrame = {
    require(thetaNum > 0 && thetaDen >= thetaNum,
      s"threshold $thetaNum/$thetaDen must sit in (0, 1]")
    val (n, m) = (thetaNum.toLong, thetaDen.toLong)
    import org.apache.spark.sql.expressions.Window
    val withSh = Caches.track(graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"),
        array_distinct(graft.functions.ShingleHashes(tokens(text),
          shingleWidth)).as("sh")))
    val posts = withSh.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = posts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
    val ordered = Caches.track(posts.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w.orderBy(col("df"), col("tok"))))
      .withColumn("s", count(lit(1)).over(w)))
    // probe side: A's containment prefix only (rarest tokens); build
    // side: every posting of B — the asymmetry of the predicate
    val prefix = ordered.filter(col("s") * n <= (col("s") - col("rn") + 1) * m)
      .select(col("doc_id").as("doc_a"), col("tok"),
        col("s").as("s_a"), col("rn").as("rn_a"))
    // positional filter (the jaccardJoinPrefix argument, containment
    // denominator): common tokens sort identically by (df, tok) in both
    // docs, so the globally-first common token — always inside A's
    // prefix when the pair is a candidate at all — bounds the overlap
    // by 1 + min(s_a − rn_a, s_b − rn_b); max() over candidate rows is
    // therefore a SOUND per-pair bound, and the groupBy rides the same
    // shuffle the bare pair-distinct paid
    val cand = prefix.join(ordered.select(col("doc_id").as("doc_b"),
        col("tok"), col("s").as("s_b"), col("rn").as("rn_b")),
        Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("s_b") * m >= col("s_a") * n)
      .select(col("doc_a"), col("doc_b"),
        (lit(1L) + least(col("s_a") - col("rn_a"), col("s_b") - col("rn_b")))
          .as("ub"),
        col("s_a"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("ub")).as("ub"), max(col("s_a")).as("s_a"))
      .filter(col("ub") * m >= col("s_a") * n)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(withSh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(withSh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long").as("inter"),
        size(col("sa.sh")).cast("long").as("s_a"),
        size(col("sb.sh")).cast("long").as("s_b"))
      .filter(col("inter") * m >= col("s_a") * n)
  }

  /** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken,
    * SIGMOD'03 "Winnowing: local algorithms for document
    * fingerprinting" — the MOSS algorithm): over the positional
    * sequence of `shingleWidth`-gram hashes, slide a window of
    * `window` consecutive hashes and keep each window's MINIMUM;
    * the distinct kept hashes are the document's fingerprints.
    * Guarantee: any shared run of window+shingleWidth−1 tokens
    * between two documents yields at least one shared fingerprint
    * (every full window inside the run picks the same minimum), at
    * expected density 2/(window+1) — a tunable, recall-guaranteed
    * sparsification the flat posting join of exact-substring dedup
    * doesn't have.
    *
    * Emits one row per doc: (doc_id, n_grams, n_selected) — integer
    * outputs only, the parity-safe surface. [[winnowPairs]] consumes
    * the selected set for cross-doc matching. Plan shape: one
    * posexplode, one doc-partitioned window min (rides a single
    * doc-keyed exchange), one hash aggregate — linear, no global
    * sort. */
  def winnowStats(df: DataFrame, id: Column, text: Column,
                  window: Int = 4, shingleWidth: Int = 3): DataFrame =
    winnowSelected(df, id, text, window, shingleWidth)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count_distinct(col("h")).as("n_selected"))

  /** The selected-fingerprint relation behind [[winnowStats]] /
    * [[winnowPairs]]: (doc_id, h, n_grams) — h DISTINCT per doc.
    * Right-anchored windows (each position p ≥ window−1 looks BACK
    * window hashes) so every emitted window is full; docs shorter
    * than one window keep every hash (the SWA boundary rule —
    * otherwise short docs would have no fingerprint at all). */
  private def winnowSelected(df: DataFrame, id: Column, text: Column,
                             window: Int, shingleWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"),
        posexplode(graft.functions.ShingleHashes(tokens(text), shingleWidth))
          .as(Seq("pos", "h")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(window - 1), 0)
    val wn = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("wmin", min(col("h")).over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("pos") >= lit(window - 1) || col("n") < lit(window))
      .select(col("doc_id"),
        when(col("n") < lit(window), col("h")).otherwise(col("wmin")).as("h"),
        col("n").as("n_grams"))
      .distinct()
  }

  /** Cross-doc fingerprint matching over the winnowed sets: pairs
    * (a < b) sharing ≥ `minShared` selected fingerprints. The posting
    * join runs over the SPARSIFIED relation — expected 2/(window+1) of
    * the gram postings — with the same df-cap discipline as
    * exact-substring dedup: fingerprints appearing in > `maxDf` docs
    * are boilerplate, dropped before the self-join so no bucket goes
    * quadratic. Emits (doc_a, doc_b, shared). */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
                  minShared: Int = 2, window: Int = 4,
                  shingleWidth: Int = 3, maxDf: Int = 64): DataFrame = {
    val sel = Caches.track(
      winnowSelected(df, id, text, window, shingleWidth)
        .select(col("doc_id"), col("h")))
    val capped = sel.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > 1 && col("df") <= maxDf)
      .select(col("h"))
    val posts = sel.join(capped, Seq("h"))
    posts.as("x").join(posts.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SimHash near-dup pairs, Manku-style banding (WWW'07 "Detecting
    * near-duplicates for web crawling"): a `width`-bit simhash split into
    * `bands` disjoint sub-bands of width/bands bits; candidates are pairs
    * agreeing on ≥1 full band, joined on the equi-key
    * (band_idx, band_bits). Emits (doc_a, doc_b, dist).
    *
    * Recall contract (pigeonhole): hamming(a,b) ≤ maxDist flips at most
    * maxDist bits across `bands` disjoint bands, so whenever
    * maxDist < bands at least one band is untouched and the pair IS a
    * candidate — recall 1. With maxDist ≥ bands recall is partial
    * (a pair can differ in every band); callers wanting the guarantee
    * raise `bands` (and `width`, to keep bands wide).
    *
    * Scale posture: bucket space per band is 2^(width/bands) — width is
    * the lever that keeps in-bucket membership (and so the quadratic
    * in-bucket pair work) bounded as the corpus grows. The defaults
    * (60-bit hash, 4 bands of 15 bits, 2^15 buckets/band) guarantee
    * recall for maxDist ≤ 3; a larger corpus moves to a wider base hash
    * with the same structure, never to more probes of a fixed space. */
  def simhashPairs(df: DataFrame, id: Column, text: Column, maxDist: Int,
                   width: Int = 60, bands: Int = 4): DataFrame = {
    require(width % bands == 0, s"bands ($bands) must divide width ($width)")
    val w = width / bands
    val mask = (1L << w) - 1L
    val h = df.select(id.as("doc_id"), simhashN(text, width).as("sh"))
    // band structs are derived from the materialized `sh` attribute at
    // plan-authoring time (bands is static) — one hash per doc, not per band
    val bandArr = array((0 until bands).map(i =>
      struct(lit(i).as("band_idx"),
        shiftrightunsigned(col("sh"), i * w).bitwiseAND(lit(mask)).as("band_bits"))): _*)
    val probes = h.select(col("doc_id"), col("sh"), explode(bandArr).as("p"))
      .select(col("doc_id"), col("sh"),
        col("p.band_idx").as("band_idx"), col("p.band_bits").as("band_bits"))
    probes.as("a").join(probes.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.sh"), col("b.sh")).as("dist")).distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Connected components over a near-dup pair graph — bounded min-label
    * propagation: after `iters` rounds every node's label is the lowest
    * doc id reachable within `iters` hops, so with iters ≥ the component
    * diameter the label IS the component id (near-dup chains are shallow;
    * a handful of rounds covers real corpora). Turning pairs into
    * components is what makes transitive dedup correct: A≈B and B≈C must
    * collapse to ONE kept doc even when A≉C directly. Each round is one
    * edge join + min hash-agg — the standard distributed CC recurrence;
    * labels stay (node, long) so nothing wide shuffles. The recurrence is
    * deterministic (min over integers), so a SQL oracle replays it as a
    * chained CTE.
    *
    * `checkpointEvery` > 0 truncates lineage every that many rounds with
    * an eager `localCheckpoint` — a deep run (20-50 rounds for a
    * high-diameter graph) otherwise pays superlinear analysis/optimizer
    * time on the unbounded plan chain. Labels are unchanged (the min
    * recurrence is deterministic); 0 disables (right for the usual ≤5
    * rounds). A small input runs all rounds in one task
    * ([[graft.graph.SmallGraph]]). Returns (doc_id, component) for every
    * node in `pairs`. */
  def nearDupComponents(pairs: DataFrame, a: Column, b: Column,
                        iters: Int,
                        smallGraphThreshold: Long = SmallGraph.MaxInputBytes,
                        checkpointEvery: Int = 0): DataFrame = {
    if (SmallGraph.isSmall(pairs, smallGraphThreshold))
      return SmallGraph.run(
        pairs.select(a.cast("long").as("x"), b.cast("long").as("y"))
          .filter(col("x").isNotNull && col("y").isNotNull),
        SmallGraph.AsGiven, "doc_id", "component")(g => smallComponents(g, iters))
    // symmetrize in ONE pass (explode of the two orientations — a union
    // of two references would re-run the whole pair-generation subtree,
    // banding + self-join + verify, once per branch), then cluster the
    // edge set by the JOIN side (y) once: every propagation round joins
    // edges on y against the label vector (hashed on node from its own
    // groupBy/distinct), so a y-clustered cached layout makes each
    // round's neighbor join exchange-free on the edge side — one shuffle
    // per round (the min-agg on x) instead of three. At lake scale the
    // per-round edge re-shuffle is the dominant cost. Tracked for
    // releaseCaches().
    val edges = Caches.track(
      pairs.select(a.cast("long").as("x"), b.cast("long").as("y"))
        .select(explode(array(
          struct(col("x"), col("y")),
          struct(col("y").as("x"), col("x").as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .repartition(col("y")))
    var labels = edges.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var i = 0
    while (i < iters) {
      // shuffle_hash on the label/neighbor sides: the label vector is
      // |V| rows — broadcasting it is what must NOT happen at lake scale
      // (and every broadcast is a blocking driver job per round). Both
      // joins arrive hash-clustered on their keys (edges on y, labels on
      // node, nbr on x), so the SHJs plan with zero exchanges — one
      // shuffle per round (the min-agg), total.
      val nbr = edges
        .join(labels.select(col("node").as("y2"), col("label").as("nlbl"))
          .hint("shuffle_hash"), col("y") === col("y2"))
        .groupBy(col("x")).agg(min(col("nlbl")).as("nl"))
        .select(col("x").as("node2"), col("nl"))
      // persist each round: `labels` is referenced TWICE per round (the
      // neighbor join and the left side), so an unpersisted recurrence
      // doubles its own subtree per round — 2^iters plan blowup. With
      // the cache, round i computes once and both references read it.
      labels = Caches.track(
        labels.join(nbr.hint("shuffle_hash"), col("node") === col("node2"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label")))
      i += 1
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint()
    }
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** The small-regime recurrence body: `iters` rounds of min-label
    * propagation over the pair list as given. Replays the distributed
    * recurrence's exact round structure — each round reads the PREVIOUS
    * label vector and takes least(own, min over neighbors) — so labels
    * are bit-identical to the cluster branch and the SQL oracle's
    * chained CTEs. Duplicate pairs are harmless (min is idempotent),
    * matching the distributed form, which never dedups edges either. */
  private def smallComponents(g: SmallGraph.Edges,
                              iters: Int): Iterator[(Long, Long)] = {
    val n = g.n; val m = g.m; val xs = g.src; val ys = g.dst
    var labels = Array.tabulate(n)(g.id)
    var round = 0
    while (round < iters) {
      val nl = labels.clone()
      var r = 0
      while (r < m) {
        val xi = xs(r); val yi = ys(r)
        if (labels(yi) < nl(xi)) nl(xi) = labels(yi)
        if (labels(xi) < nl(yi)) nl(yi) = labels(xi)
        r += 1
      }
      labels = nl
      round += 1
    }
    Iterator.tabulate(n)(i => (g.id(i), labels(i)))
  }

  /** One representative per near-dup component — the step that turns
    * component labels into a curation DECISION: keep the highest-quality
    * member (ties to the lowest doc_id), drop the rest. `components` is
    * [[nearDupComponents]] output; `docQuality` maps doc_id → quality.
    * One shuffle on the component key; the row_number pick and the
    * member count share the window partition. Quality doubles order
    * identically on both engines because both compute the score with the
    * same op sequence (SURVEY §8 raw-double discipline). */
  def componentRepresentatives(components: DataFrame,
                               docQuality: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    components.join(docQuality, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
      .filter(col("__rn") === 1)
      .select(col("component"), col("doc_id").as("rep_doc"),
        col("quality").as("rep_quality"),
        col("n_members").cast("long").as("n_members"))
  }

  /** Line-level boilerplate dedup — the CCNet/RefinedWeb curation step:
    * drop LINES that recur across more than `maxDocs` distinct documents
    * (headers, nav bars, cookie banners — content no single-document
    * dedup can see), keeping each document's remaining lines in order.
    * Returns (doc_id, clean_text, n_kept, n_total); a document whose
    * every line is boilerplate survives with clean_text = '' so the
    * caller decides whether to drop empties (the row count stays the
    * input's — lossless bookkeeping).
    *
    * Scale shape (reference has no equivalent; the corpus-level
    * machinery is [[graft.llm.Contamination]]'s hashed n-gram postings
    * applied at line granularity):
    *   1. explode docs into (doc_id, pos, line) and key every line by
    *      its 60-bit md5 hash — full line text never becomes a shuffle
    *      KEY, and the doc-frequency side shuffles only (hash, doc_id);
    *   2. doc-frequency = distinct (hash, doc_id) then count per hash.
    *      The distinct shuffles on the PAIR, so a nav bar present in
    *      100M documents spreads across the cluster instead of funneling
    *      one reducer; the follow-on count per hash is map-side partial
    *      (a hot hash contributes at most one row per partition to the
    *      final exchange) — exact doc counts with no skew hotspot;
    *   3. the boilerplate decision joins back EQUI on the line hash
    *      (left join + null flag, never a cross join; the boilerplate
    *      side is the filtered aggregate, small by construction — lines
    *      recurring in >maxDocs docs are few distinct strings — so AQE
    *      broadcasts it at runtime when it fits);
    *   4. reassembly is one shuffle on doc_id: collect (pos, line)
    *      structs of kept lines, sort by pos, join with newline.
    * Every exchange key is a hash or an id — document text rides as
    * values exactly twice (the explode and the reassembly), the minimum
    * for a rewrite-the-text operator. */
  def lineDedup(df: DataFrame, id: Column, text: Column,
                maxDocs: Long): DataFrame = {
    // Tracked persist: the exploded line table feeds the doc-frequency
    // aggregate AND the decision join-back — uncached, the scan+split
    // re-runs per consumer (released by the harness via releaseCaches).
    val lines = Caches.track(explodeLines(df, id, text))
    applyLineVerdicts(lines,
      lineFrequencies(lines).filter(col("n_docs") > maxDocs).select(col("h")))
  }

  /** The exploded (doc_id, pos, line, h) table [[lineDedup]] runs on —
    * public so the streaming ledger twin shares the exact split
    * semantics (limit -1 keeps trailing empty lines, matching DuckDB
    * string_split). */
  def explodeLines(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        posexplode(split(text, "\n", -1)).as(Seq("pos", "line")))
      .withColumn("h", md5Long(col("line")))

  /** Distinct-doc frequency per line hash — the skew-proof counting
    * stage (distinct (h, doc) pair shuffle, then map-side-combinable
    * count). Additive across disjoint doc sets, which is what makes the
    * streaming ledger merge exact. */
  def lineFrequencies(lines: DataFrame): DataFrame =
    lines.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))

  /** Reassembly under a boilerplate decision: drop lines whose hash is
    * in `boilerplate` (an (h)-column frame), stitch the survivors back
    * in order per doc. */
  def applyLineVerdicts(lines: DataFrame, boilerplate: DataFrame): DataFrame =
    lines.join(boilerplate.select(col("h"), lit(true).as("bp")), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        // collect_list skips nulls, so the when() keeps only non-bp lines;
        // array_sort on (pos, line) structs orders by pos (unique per doc)
        array_join(transform(
          array_sort(collect_list(when(col("bp").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"),
        count(when(col("bp").isNull, lit(1))).as("n_kept"),
        count(lit(1)).as("n_total"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_total"))

  /** Embedding-cosine near-dup pairs above `threshold`, brute-force
    * within-corpus — the small-corpus baseline. For the 100 TB path use
    * [[Similarity.lshBucketedPairs]]. */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val v = df.select(id.as("vec_id"), vec.as("v"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.CosineSimilarity(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): SEMANTIC dedup —
    * MinHash/SimHash catch lexical copies, this catches paraphrases and
    * re-renderings whose embeddings nearly coincide. The trick that makes
    * it tractable is the one the paper names: cluster first (k-means over
    * the embedding space, pre-trained `centroids` (cid, cv) — the
    * [[Similarity.kmeans]] artifact), then compare pairs only WITHIN a
    * cluster, so the quadratic work is bounded by cluster size, never
    * corpus size. At 100 TB k grows with the corpus (k ≈ N / target
    * cluster size), keeping per-cluster work constant; the cross-cluster
    * pairs k-means separates are exactly the ones a high `eps` would
    * reject anyway.
    *
    * Deterministic keep rule: within a cluster, rows are ranked by
    * similarity-to-centroid DESC (ties to the lowest id) — rank 1 is the
    * most central exemplar; a row is dropped iff some HIGHER-ranked row
    * in its cluster has cosine >= eps with it. Exists-semantics, not
    * transitive closure, matching the paper's per-cluster screen (a
    * dropped row cannot shield a later one; its dominator is still
    * present and >= eps pairs are what the join emits).
    *
    * Plan shape: broadcast of k·dim centroid floats + per-row argmax
    * (map-side combined hash-agg), one window shuffle on cid, and an
    * equi self-join on cid — no all-pairs anywhere (PlanSpec pins the
    * no-cartesian shape). Returns (vec_id, cid, rnk, kept). */
  def semDedup(df: DataFrame, id: Column, vec: Column,
               centroids: DataFrame, eps: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(id.as("vec_id"), vec.as("v"))
    val scored = v.crossJoin(broadcast(centroids.select(col("cid"), col("cv"))))
      .select(col("vec_id"), col("v"), col("cid"),
        graft.functions.CosineSimilarity(col("v"), col("cv")).as("ccos"))
    // per-vector argmax over (ccos, -cid): ties to the lowest centroid id,
    // the same pick as ORDER BY ccos DESC, cid (the ivfAssignWith rule)
    val assigned = scored.groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("cid"), col("ccos")),
        struct(col("ccos"), -col("cid"))).as("__b"))
      .select(col("vec_id"), col("__b.v").as("v"),
        col("__b.cid").as("cid"), col("__b.ccos").as("ccos"))
    // persisted: the ranked table feeds both self-join sides and the
    // final verdict join — untracked, Spark would re-run the argmax scan
    // three times (released by the harness via releaseCaches)
    val ranked = Caches.track(assigned.withColumn("rnk",
      row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("ccos").desc, col("vec_id")))))
    val dropped = ranked.as("x").join(ranked.as("y"),
        col("x.cid") === col("y.cid") && col("y.rnk") < col("x.rnk"))
      .filter(graft.functions.CosineSimilarity(col("x.v"), col("y.v")) >= eps)
      .select(col("x.vec_id").as("vec_id")).distinct()
      .withColumn("__d", lit(true))
    ranked.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("rnk").cast("long").as("rnk"),
        col("__d").isNull.as("kept"))
  }

  /** D4 (Tirumala et al., arXiv:2308.12284): SemDeDup THEN
    * prototypicality pruning — after dropping near-duplicate
    * paraphrases, also drop the `protoFrac` MOST prototypical
    * (closest-to-centroid) survivors of each cluster. The paper's
    * observation: the densest region of a semantic cluster is the most
    * redundant training signal even when no pair crosses the dedup
    * threshold, so pruning it diversifies the corpus (the SSL-prototypes
    * rule of Sorscher et al. 2206.14486 composed with SemDeDup).
    *
    * Prototypicality NEEDS no new score: [[semDedup]]'s within-cluster
    * rank IS the centrality order (rnk 1 = most central), so the filter
    * is a pure window over the dedup output — re-ranked among KEPT rows
    * only, as the paper applies it to the deduplicated subset. The drop
    * count is `floor(protoFrac · n_kept_c)` in IEEE double, mirrored
    * bit-for-bit by the oracle.
    *
    * Plan shape: semDedup's shapes plus one window shuffle on cid over
    * the kept rows and a final left join on vec_id — still no all-pairs
    * anywhere. Returns (vec_id, cid, kept_sem, kept) where `kept` is
    * the final D4 selection. */
  def d4(df: DataFrame, id: Column, vec: Column, centroids: DataFrame,
         eps: Double, protoFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the dedup verdict (whose self-join is the expensive
    // subtree) feeds both the proto re-rank and the final join
    val sem = Caches.track(semDedup(df, id, vec, centroids, eps))
    val proto = sem.filter(col("kept"))
      .withColumn("pr",
        row_number().over(Window.partitionBy(col("cid")).orderBy(col("rnk"))))
      .withColumn("n_c", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .select(col("vec_id"),
        (col("pr") > floor(lit(protoFrac) * col("n_c"))).as("__kd"))
    sem.select(col("vec_id"), col("cid"), col("kept").as("kept_sem"))
      .join(proto, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("kept_sem"),
        coalesce(col("__kd"), lit(false)).as("kept"))
  }

  /** Edit-distance near-dup pairs: (id1 < id2, levenshtein) for every
    * same-language pair within `maxDist` unit edits — the
    * typo/OCR-variant dedup that token-set methods (MinHash/SimHash)
    * miss because a character edit rewrites whole shingles.
    *
    * Candidate bounding, in order of cheapness:
    * 1. BLOCK on (lang, n_chars div `bucketWidth`): d ≤ maxDist implies
    *    a length difference ≤ maxDist, so with bucketWidth > maxDist
    *    every qualifying pair lands in the same or adjacent bucket —
    *    two equi-joins (b = b, b+1 = b), disjoint by construction, no
    *    pair dedup needed. Never all-pairs: the quadratic term is per
    *    (lang, bucket) cell, the knob a 100 TB run tightens by adding
    *    a coarse content key to the block.
    * 2. CHAR-FREQUENCY L1 GATE: one unit edit moves the 26-letter
    *    frequency histogram by at most 2 in L1, so
    *    Σ|hist₁−hist₂| > 2·maxDist refutes a pair for ~26 integer ops
    *    — 3 orders of magnitude cheaper than the O(n·m) DP it skips
    *    (sf0.1: 151k candidates → 100 survivors).
    * 3. BANDED LEVENSHTEIN on survivors: Spark's 3-arg levenshtein
    *    computes only the ±maxDist diagonal band (O(n·d), -1 when
    *    exceeded); the oracle runs the full DP and filters — identical
    *    kept rows, honest engine-side asymmetry.
    *
    * Reference lineage: dedup itself is the `distinct` transducer
    * family (api.clj:157-159 composes arbitrary clojure.core steps);
    * the near-dup extension is the LLM-pipeline mandate. */
  def editDistancePairs(df: DataFrame, id: Column, lang: Column,
                        text: Column, nChars: Column,
                        bucketWidth: Int = 8, maxDist: Int = 8): DataFrame = {
    // |len₁−len₂| ≤ maxDist ≤ bucketWidth ⇒ floor-bucket indices differ
    // by at most 1 (floor((x+w)/w) = floor(x/w)+1), so same+adjacent
    // probing is lossless
    require(bucketWidth >= maxDist,
      s"bucketWidth ($bucketWidth) must be >= maxDist ($maxDist) for recall")
    val hist = array(('a' to 'z').map(c =>
      length(col("p")) - length(translate(col("p"), c.toString, ""))): _*)
    // the candidate join ships ONLY (id, lang, bucket, 26-int hist) —
    // never the text: pre-gate candidates outnumber survivors ~1500:1
    // (sf0.1: 151k → 100), so carrying the folded text through the
    // pair join would shuffle kilobytes per pair to discard 99.9% of
    // it at the histogram gate. Texts re-attach AFTER the gate via a
    // broadcast-small survivor join against a fresh corpus scan. The
    // light table is persisted so the 26-translate histogram pass runs
    // once, not once per join side
    val hLight = Caches.track(df.select(id.as("id"), lang.as("lng"),
        TextAnalysis.foldLower(text).as("p"),
        call_function("div", nChars.cast("long"), lit(bucketWidth.toLong))
          .as("b"))
      .withColumn("hist", hist)
      .select(col("id"), col("lng"), col("b"), col("hist")))
    val a = hLight.select(col("id").as("id_a"), col("lng"), col("b"),
      col("hist").as("ha"))
    val bb = hLight.select(col("id").as("id_b"), col("lng").as("lng_b"),
      col("b").as("b_b"), col("hist").as("hb"))
    val same = a.join(bb,
      col("lng") === col("lng_b") && col("b") === col("b_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a").as("id1"), col("id_b").as("id2"),
        col("ha"), col("hb"))
    val adj = a.join(bb,
      col("lng") === col("lng_b") && col("b") + lit(1L) === col("b_b"))
      .select(least(col("id_a"), col("id_b")).as("id1"),
        greatest(col("id_a"), col("id_b")).as("id2"),
        when(col("id_a") < col("id_b"), col("ha")).otherwise(col("hb")).as("ha"),
        when(col("id_a") < col("id_b"), col("hb")).otherwise(col("ha")).as("hb"))
    val survivors = same.unionByName(adj)
      .filter(aggregate(zip_with(col("ha"), col("hb"),
        (x, y) => abs(x - y)), lit(0), (acc, v) => acc + v)
        <= lit(2 * maxDist))
      .select(col("id1"), col("id2"))
    // survivor-side text fetch: the tiny pair set broadcasts, the
    // corpus streams past it un-shuffled — one extra scan per side,
    // paid only on the post-gate residue
    // distances run on the byte-transparent recode: Spark levenshtein
    // counts codepoints, the oracle engines count UTF-8 bytes — the
    // byteString form makes byte distance the shared semantics
    // (identical on ASCII; adversarial-gate find)
    val texts = df.select(id.as("tid"),
      graft.functions.GraftFunctions.byteString(
        TextAnalysis.foldLower(text)).as("p"))
    survivors
      .join(texts.select(col("tid").as("id1"), col("p").as("pa")), Seq("id1"))
      .join(texts.select(col("tid").as("id2"), col("p").as("pb")), Seq("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("pa"), col("pb"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Apply a CDC changelog to a base snapshot — MERGE semantics
    * (WHEN MATCHED AND op='U' → update, op='D' → delete, WHEN NOT
    * MATCHED AND op='I' → insert) as ONE full-outer join, the
    * distributed form of an upsert a changelog consumer runs per
    * batch. Companion of [[corpusDiff]]: applying `diff(prev, cur)` to
    * `prev` reproduces cur's surviving id set, with each row's winning
    * content attested by its hash (the output is a verdict/hash
    * changelog, not the full row payload — hashes travel, texts
    * don't).
    *
    * `changes` carries (id, op ∈ {'U','D','I'}, replacement payload);
    * rows absent from the changelog pass through, 'D' rows vanish,
    * 'U' rows take the changelog values, 'I' rows materialize. Payload
    * columns are parameters, not hard-coded names: `hashed` is the
    * (baseCol, changeCol) pair whose winning value is md5'd into
    * `content_hash`; each `carried` (baseCol, changeCol) pair is
    * coalesced change-first into `<baseCol>_final`. Defaults match the
    * (text, lang) document snapshot shape. Emits
    * (id, op_applied, content_hash, carried…_final).
    *
    * Shape: one shuffle on the id for the full-outer join (or zero
    * with co-bucketed snapshots); changelogs small enough to
    * broadcast degrade to a broadcast outer join automatically. */
  def applyChangelog(base: DataFrame, changes: DataFrame, id: String,
                     hashed: (String, String) = ("text", "new_text"),
                     carried: Seq[(String, String)] = Seq(("lang", "new_lang")))
      : DataFrame =
    base.join(changes, Seq(id), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col(id) +:
        when(col("op") === "U", lit("update"))
          .when(col("op") === "I", lit("insert"))
          .otherwise(lit("keep")).as("op_applied") +:
        md5(when(col("op").isNull, col(hashed._1)).otherwise(col(hashed._2)))
          .as("content_hash") +:
        carried.map { case (baseCol, changeCol) =>
          coalesce(col(changeCol), col(baseCol)).as(s"${baseCol}_final")
        }: _*)

  /** Per-group duplication-inflation factor: how much of each source's
    * character mass survives exact dedup. Each doc's mass is discounted
    * by its GLOBAL exact-hash cluster size (a doc copied 5× across the
    * corpus contributes 1/5 of its chars to every copy's source), so
    * effective mass sums to the deduped corpus mass and
    * inflation = raw/effective is the per-source over-counting factor —
    * the number a mixture designer divides by before allocating a token
    * budget (a source that is 3× self-syndicated is 3× smaller than it
    * looks).
    *
    * Exactness: the per-doc discount is the INTEGER div
    * (chars·10⁹) div csize, summed in DECIMAL(38,0) (order-independent
    * and overflow-safe at lake scale — 10⁵ chars · 10⁹ · 10¹² docs
    * blows a LONG); the two emitted doubles are single mirrored
    * expressions, NULL-guarded for an all-empty-text group.
    *
    * Shape: one content-hash shuffle for cluster sizes, one hash join
    * back (both sides pre-hashed on h), one ≤|groups|-key agg. */
  def dupInflation(df: DataFrame, id: Column, text: Column,
                   group: Column): DataFrame = {
    val d = df.filter(text.isNotNull && group.isNotNull)
      .select(group.as("g"), id.as("id"), md5(text).as("h"),
        length(text).cast("long").as("m"))
    val cs = d.groupBy(col("h")).agg(count(lit(1)).as("csize"))
    val effq = col("effq").cast("double") / lit(1.0e9)
    d.join(cs, Seq("h"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("m")).as("n_chars_total"),
        sum(call_function("div", col("m") * lit(1000000000L), col("csize"))
          .cast("decimal(38,0)")).as("effq"),
        sum(when(col("csize") === 1L, lit(1L)).otherwise(lit(0L)))
          .as("n_unique"))
      .select(col("g").as("source"), col("n_docs"), col("n_chars_total"),
        col("n_unique"), effq.as("effective_chars"),
        when(col("effq") === 0, lit(null).cast("double"))
          .otherwise(col("n_chars_total").cast("double") / effq)
          .as("inflation"))
  }

  /** Templated-document detection — the page-level verdict on top of
    * [[lineDedup]]'s line-level one: a doc whose line set is mostly
    * corpus boilerplate (each line shared by > `maxDocs` distinct docs)
    * is a navigation shell / listing template with no novel content,
    * and curation drops the whole page rather than stitching together
    * the few residual lines. Emits per doc: total lines, boilerplate
    * lines, and `templated` = n_boiler·den ≥ n_lines·num (the
    * `frac` = num/den threshold as an exact integer cross-product — no
    * ratio double ever exists to diverge).
    *
    * Shape: reuses [[explodeLines]]/[[lineFrequencies]] (distinct-pair
    * shuffle, skew-proof), one broadcast-friendly join of the
    * boilerplate hash set, one doc-keyed count agg. */
  def templateDocs(df: DataFrame, id: Column, text: Column,
                   maxDocs: Long, num: Int = 1, den: Int = 2): DataFrame = {
    val lines = Caches.track(explodeLines(df, id, text))
    val bp = lineFrequencies(lines).filter(col("n_docs") > maxDocs)
      .select(col("h"), lit(true).as("bp"))
    lines.join(bp, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("bp"), lit(1L)).otherwise(lit(0L))).as("n_boiler"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        (col("n_boiler") * lit(den.toLong) >= col("n_lines") * lit(num.toLong))
          .as("templated"))
  }

  /** Frequent-n-gram mask accounting (the PaLM / Lee et al.
    * "memorization-prone span" policy): any token covered by a w-gram
    * occurring in more than `maxDf` documents is MASKED, and each doc
    * reports its coverage — the token-level companion of
    * [[lineDedup]] (lines) and the df-capped ExactSubstr pair scan
    * (spans shared by few docs): this one targets spans shared by
    * MANY docs, the license-header/disclaimer mass that near-dup
    * screens deliberately skip.
    *
    * Exactness: gram identity is the md5Long of the FOLDED w-shingle
    * (the line-hash discipline); coverage is the distinct union of
    * [pos, pos+w) index spans — integer set math, engine-exact.
    *
    * Shape: one posexplode of the shingle stream, a (h, doc)-distinct
    * + ≤|grams|-key df count, an equi-join back (frequent-gram side
    * only — df > maxDf keeps it the boilerplate slice, naturally
    * small), then the span union folds as INTERVAL MATH on one
    * doc-keyed window: every frequent start contributes
    * min(w, next_start − start) — identical to the former
    * [pos, pos+w) span explode + (doc, idx)-distinct (equal-length
    * interval union), minus the w× explode volume and its distinct
    * exchange (measured 1.9 s → 1.4 s isolated at sf0.1); docs with
    * nothing masked re-enter by left join. No pair joins anywhere —
    * cost is linear in token count. */
  def maskFrequentNgrams(df: DataFrame, id: Column, text: Column,
                         w: Int = 8, maxDf: Long = 2L): DataFrame = {
    val base = Caches.track(graft.core.Xform.spreadToCores(df)
      .select(id.as("doc_id"),
        size(tokens(text)).cast("long").as("n_tokens"),
        graft.functions.ShingleHashes(tokensFolded(text), w).as("shs")))
    val pos = base
      .select(col("doc_id"), posexplode(col("shs")).as(Seq("pos", "h")))
    val freq = pos.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h"))
    // (doc_id, pos) is unique (posexplode; freq has one row per h), so
    // the masked-token count is the union length of equal-width
    // intervals: Σ min(w, gap to the next frequent start)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = pos.join(freq, Seq("h"))
      .withColumn("nxt", lead(col("pos"), 1).over(wnd))
      .select(col("doc_id"),
        when(col("nxt").isNull || col("nxt") - col("pos") >= w,
          lit(w.toLong))
          .otherwise((col("nxt") - col("pos")).cast("long")).as("cov"))
      .groupBy(col("doc_id")).agg(sum(col("cov")).as("n_masked"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
      .withColumn("mask_frac",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(col("n_masked").cast("double") /
            col("n_tokens").cast("double")))
  }

  /** Exact-duplicate cluster-size histogram: one row per observed
    * cluster size s with the number of content-hash clusters of that
    * size, the documents they hold, and the corpus fraction — the
    * one-page answer to "what does dedup buy here?" (mass at s = 1 is
    * already unique; Σ_{s>1} (s−1)·n_clusters is the removable row
    * count) and the shape input for choosing keep-rules before
    * running [[exactDedup]].
    *
    * Shape: content-hash agg (the exactDedup shuffle), then a
    * ≤|sizes|-key re-agg of the CLUSTER table and a broadcast 1-row
    * total — scan-bound at any scale. All counts exact; the fraction
    * is one final double. */
  def dupClusterStats(df: DataFrame, text: Column): DataFrame = {
    val clusters = df.filter(text.isNotNull)
      .select(md5(text).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("size"))
    val hist = clusters.groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("size")).as("n_docs"))
    val t = hist.agg(sum(col("n_docs")).as("n_total"))
    hist.crossJoin(broadcast(t))
      .select(col("size"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("frac_docs"))
  }

  /** Candidate-set agreement audit between two pair generators over
    * the same corpus: |cand|, |truth|, their intersection, and the
    * recall/precision of `cand` against `truth` — the guardrail row
    * every blocking scheme needs before it replaces a more expensive
    * one (the q_minhash_accuracy convention applied to pair SETS).
    * Pairs are compared as unordered (id1 < id2) keys.
    *
    * Shape: two distincts + one equi-join on the pair key + three
    * 1-row aggs — candidate-sized work only. */
  def pairSetRecall(cand: DataFrame, truth: DataFrame): DataFrame = {
    val c = Caches.track(
      cand.select(col("id1"), col("id2")).distinct())
    val t = Caches.track(
      truth.select(col("id1"), col("id2")).distinct())
    val shared = c.join(t, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_shared"))
    c.agg(count(lit(1)).as("n_cand"))
      .crossJoin(t.agg(count(lit(1)).as("n_truth")))
      .crossJoin(shared)
      .select(col("n_cand"), col("n_truth"), col("n_shared"),
        when(col("n_truth") === 0L, lit(null).cast("double"))
          .otherwise(col("n_shared").cast("double") /
            col("n_truth").cast("double")).as("recall"),
        when(col("n_cand") === 0L, lit(null).cast("double"))
          .otherwise(col("n_shared").cast("double") /
            col("n_cand").cast("double")).as("precision"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's SNM):
    * sort each language block by a folded prefix key and compare each
    * record only to its next `window` neighbors in sort order — the
    * sort-based blocking complement of [[editDistancePairs]]'s
    * (lang, length-bucket) hashing: SNM catches pairs whose LENGTHS
    * drifted apart (a dropped paragraph) that a length-bucket block
    * never co-locates, at the price of missing pairs whose PREFIX
    * diverged. Production pipelines run both and union the candidate
    * sets.
    *
    * Cost model: exactly `window` candidate pairs per record —
    * linear in the corpus by construction (the reason SNM survives
    * scale). The sort rank is a per-language window (the blocking key
    * is the partition key, so ranking distributes); neighbor pairing
    * is an equi-join on (lang, rank + j), j = 1..window — `window`
    * shuffle-free probes of the same ranked relation. The distance
    * gate runs banded levenshtein on the first `distPrefix` folded
    * chars (bounded per-pair cost on long documents; the oracle runs
    * the full DP on the same prefix — identical kept rows).
    *
    * Emits (id1 < id2, dist ≤ maxDist). */
  def snmPairs(df: DataFrame, id: Column, lang: Column, text: Column,
               window: Int = 2, keyPrefix: Int = 40, distPrefix: Int = 64,
               maxDist: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Caches.track(df
      .filter(id.isNotNull && lang.isNotNull && text.isNotNull)
      .select(id.as("id"), lang.as("lng"),
        substring(TextAnalysis.foldLower(text), 1, distPrefix).as("p"))
      .withColumn("key", substring(col("p"), 1, keyPrefix))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lng")).orderBy(col("key"), col("id"))))
      .select(col("id"), col("lng"), col("p"), col("rn")))
    val probes = ranked
      .withColumn("j", explode(sequence(lit(1), lit(window))))
      .select(col("lng"), (col("rn") + col("j")).as("rn2"),
        col("id").as("id_a"), col("p").as("pa"))
    probes.join(ranked.select(col("lng"), col("rn").as("rn2"),
        col("id").as("id_b"), col("p").as("pb")), Seq("lng", "rn2"))
      .select(least(col("id_a"), col("id_b")).as("id1"),
        greatest(col("id_a"), col("id_b")).as("id2"),
        // byte-transparent recode: byte-Levenshtein on both engines
        // (Spark counts codepoints, DuckDB counts UTF-8 bytes —
        // adversarial-gate find; see GraftFunctions.byteString)
        levenshtein(graft.functions.GraftFunctions.byteString(col("pa")),
          graft.functions.GraftFunctions.byteString(col("pb")), maxDist)
          .as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** LSH banding planner — the tuning table behind every (bands, rows)
    * choice in [[minhashPairs]]: for each candidate configuration and
    * each Jaccard similarity s on a fixed grid, the collision
    * probability of the banded index is P = 1 − (1 − s^r)^b (the
    * standard S-curve, Leskovec/Rajaraman/Ullman ch.3), plus the
    * curve's threshold (1/b)^(1/r) where the S-curve is steepest. The
    * [[graft.llm.Similarity]] q_ann_probe_curve convention: publish
    * the knob→quality table as a first-class queryable artifact
    * instead of folklore.
    *
    * Shape: a generated |configs|·|grid| spine — no corpus read, pure
    * projection math. `b` and `r` must be powers of two: the powers
    * then compute as exponentiation-by-squaring MULTIPLICATION chains
    * and the 1/r-th root as a repeated sqrt — both IEEE-exact and
    * correctly rounded, so the doubles are bit-identical on both
    * engines (libm pow() is only within-1-ulp and MAY NOT match
    * across engines — the reason this operator never calls pow). */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
              configs: Seq[(Int, Int)], gridN: Int = 19): DataFrame = {
    def pow2(n: Int): Boolean = n >= 2 && (n & (n - 1)) == 0
    require(configs.forall { case (b, r) => pow2(b) && pow2(r) },
      "lshPlan: b and r must be powers of two (exact squaring chains)")
    def powChain(x: Column, n: Int): Column =
      if (n == 1) x else { val h = powChain(x, n / 2); h * h }
    def sqrtChain(x: Column, r: Int): Column =
      if (r == 1) x else sqrtChain(sqrt(x), r / 2)
    val grid = spark.range(1, gridN + 1)
      .select((col("id").cast("double") / lit(gridN + 1.0)).as("s"))
    configs.map { case (b, r) =>
      grid.select(lit(b.toLong).as("b"), lit(r.toLong).as("r"), col("s"),
        (lit(1.0) - powChain(lit(1.0) - powChain(col("s"), r), b))
          .as("p_collision"),
        sqrtChain(lit(1.0 / b), r).as("threshold"))
    }.reduce(_.unionByName(_))
  }
}
