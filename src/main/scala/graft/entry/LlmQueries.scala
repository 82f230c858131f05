package graft.entry

import graft.functions.{CosineSimilarity, GraftFunctions}
import graft.llm.{Contamination, Dedup, Multimodal, Retrieval, Selection, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** LLM-training-data-pipeline driver queries (BASELINE.json north_star):
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN,
  * kNN join), text analysis (token counts, quality, language-ID,
  * fingerprints) and multimodal column plumbing.
  *
  * Oracle-parity rules used throughout:
  *  - hashes are md5-derived on both engines
  *    (`conv(substr(md5 x),16,10)` ⇔ `CAST('0x'||substr(md5 x) AS BIGINT)`);
  *  - float math is computed in DOUBLE in index order on both engines and
  *    `round(_, 6)`-ed wherever a value crosses the compare boundary;
  *  - thresholds/top-k filter on the ROUNDED value so set membership can't
  *    diverge on last-ulp differences.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  // MinHash/LSH parameters shared by query + oracle.
  private val ShingleW = 3
  private val DedupBands = 4; private val DedupRows = 4
  private val PairBands = 8; private val PairRows = 2
  private val NPlanes = 6
  // SimHash banding (Manku-style): 60-bit hash, 4 bands of 15 bits —
  // recall GUARANTEED for hamming ≤ maxDist because maxDist < bands.
  private val SimHashWidth = 60; private val SimHashBands = 4
  private val SimHashMaxDist = 3
  // line-boilerplate threshold: a line in MORE than this many distinct
  // docs is boilerplate (nav bars hit thousands; 2 keeps legitimate
  // two-doc quotes)
  private val LineDedupMaxDocs = 2L
  // frequent-n-gram mask: a w-gram in MORE than this many distinct docs
  // marks its tokens memorization-prone (PaLM-style span policy)
  private val MaskNgramMaxDf = 2L
  // kmeans-trained IVF: k centroids, fixed iteration count (deterministic
  // by construction — the oracle unrolls the same iterations).
  private val IvfK = 4; private val IvfIters = 2
  // SemDeDup: k bounds the within-cluster quadratic screen (k grows with
  // the corpus at scale); eps=0.3 sits inside the synthetic embeddings'
  // cosine range (within-cluster pairs top out near 0.55) so the screen
  // provably drops rows rather than vacuously keeping everything.
  private val SemK = 8; private val SemEps = 0.3
  // D4 prototypicality: fraction of each cluster's DEDUPED survivors
  // pruned from the most-central end (the paper's R_proto knob)
  private val ProtoFrac = 0.25
  // BM25 query-term bag shared by query + oracle (k1/b/topK are the
  // Retrieval.bm25 defaults: 1.2 / 0.75 / 10).
  private val BmQueryTerms = Seq("the", "of", "and")

  private def media(s: SparkSession, d: String): DataFrame =
    Multimodal.asMediaTable(Tables.documents(s, d), col("doc_id"),
      Multimodal.syntheticPayload(col("doc_id"), col("text")))

  /** Content-keyed memo for deterministic INDEX-BUILD artifacts: PQ
    * codebooks, trained k-means centroids, the coarse centroid set and
    * the query vector. Training here is deterministic in (dataset dir,
    * params) — lowest-id seeds, fixed-point recentering — so the
    * artifact is bit-identical wherever it's built, and the five ANN/PQ
    * queries that share a codebook reuse ONE build, exactly the
    * production discipline of training an index once and storing it
    * beside the corpus instead of re-training per query. Driver-side
    * Scala data only (k·dim floats) — no Spark resources are pinned, so
    * nothing here interacts with Caches.release. Correctness is
    * unaffected: every query still recomputes its own distributed scan/
    * probe; only the (identical) training round-trips collapse.
    *
    * STALENESS: the key folds in a DATASET FINGERPRINT alongside
    * (dataset dir, hyperparameters) — the full recursive per-file
    * (path, size, mtime) hash from [[graft.sources.Bucketing
    * .dirFingerprint]], shared with the bucketed-table layer — so a
    * process that regenerates data under a reused path re-trains
    * automatically instead of silently reading a stale codebook. No
    * data read. A same-millisecond same-size in-place rewrite could
    * still alias; [[clearArtifacts]] remains the explicit override. */
  private val artifactMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def dirFingerprint(d: String): String =
    graft.sources.Bucketing.dirFingerprint(d)
  private def artifact[T <: AnyRef](key: String)(build: => T): T =
    artifactMemo.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** Drop every memoized index artifact (see staleness contract above). */
  def clearArtifacts(): Unit = artifactMemo.clear()

  /** The m=2 PQ codebooks over `embeddings` (one train per dataset). */
  private def pqBooks(s: SparkSession, d: String): Seq[Seq[(Long, Array[Float])]] =
    artifact(s"pq|$d|${dirFingerprint(d)}|m=2|k=$IvfK|i=$IvfIters") {
      Similarity.pqTrain(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), m = 2, k = IvfK, iters = IvfIters)
    }

  /** Trained k-means centroids over `embeddings` (one train per dataset). */
  private def ivfCentroids(s: SparkSession, d: String): Seq[(Long, Array[Float], Long)] =
    artifact(s"kmeans|$d|${dirFingerprint(d)}|k=$IvfK|i=$IvfIters") {
      Similarity.kmeansCentroids(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), IvfK, IvfIters)
    }

  /** SemDeDup's k-means centroids (k=SemK — a coarser-grained index than
    * the IVF one, trained once per dataset like every other artifact). */
  private def semCentroids(s: SparkSession, d: String): Seq[(Long, Array[Float], Long)] =
    artifact(s"kmeans|$d|${dirFingerprint(d)}|k=$SemK|i=$IvfIters") {
      Similarity.kmeansCentroids(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), SemK, IvfIters)
    }

  /** The deterministic vec_id<16 coarse centroid set, id-sorted. */
  private def coarse16(s: SparkSession, d: String): Seq[(Long, Array[Float])] =
    artifact(s"coarse16|$d|${dirFingerprint(d)}") {
      import s.implicits._
      Tables.embeddings(s, d).filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().sortBy(_._1).toSeq
    }

  /** Query vector: embedding of vec_id 0. */
  private def queryVec0(s: SparkSession, d: String): Array[Float] =
    artifact(s"qv0|$d|${dirFingerprint(d)}") {
      import s.implicits._
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).as[Array[Float]].head()
    }

  /** SQ8 per-dimension [min,max] calibration (dim-row artifact). */
  private def sqStats(s: SparkSession, d: String): Seq[(Int, Double, Double)] =
    artifact(s"sq8|$d|${dirFingerprint(d)}") {
      Similarity.sqTrain(Tables.embeddings(s, d), col("embedding"))
    }

  /** Shared by q_contamination / q_decontaminate: 3-gram overlap of the
    * training slice (doc_id % 97 != 0) against the benchmark slice
    * (doc_id % 97 == 0) of `documents`, minShared = 2. */
  private def contaminationOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Contamination.ngramOverlap(
      docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
      w = ShingleW, minShared = 2)
  }

  /** The curation quality gate (single-pass TextCounts, quality ≥ 0.5) —
    * shared by q_curation and q_pipeline_full; its SQL twin is
    * [[sqlQuality]]. Keeps `tc` for downstream token accounting. */
  private def gatedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.counts(col("text")).as("tc"))
      .filter(TextAnalysis.qualityFrom(col("tc")) >= 0.5)

  /** Raw double cosine — both engines run the identical op sequence in
    * DOUBLE (index-order accumulation), so the bits match exactly; rounding
    * would INTRODUCE divergence (engine round() half-way behavior differs). */
  private def roundCos(a: Column, b: Column): Column = CosineSimilarity(a, b)

  val queries: Map[String, Q] = Map(
    // ---- deduplication ---------------------------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactByContent(Tables.documents(s, d), col("text"), col("doc_id"))),

    "q_dedup_exact_rows" -> ((s, d) =>
      Dedup.exactRows(Tables.documents(s, d), col("text"), col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")),

    "q_minhash_bands" -> ((s, d) =>
      Dedup.minhashBands(Tables.documents(s, d), col("doc_id"), col("text"),
        ShingleW, DedupBands, DedupRows)),

    "q_minhash_dedup" -> ((s, d) =>
      Dedup.minhashDedupKeptIds(Tables.documents(s, d), col("doc_id"), col("text"),
        ShingleW, DedupBands, DedupRows)),

    "q_neardup_jaccard" -> ((s, d) =>
      Dedup.nearDupPairs(Tables.documents(s, d), col("doc_id"), col("text"),
        threshold = 0.4, ShingleW, PairBands, PairRows)),

    // dedup tuning table: pair/dropped counts at thresholds .4/.6/.8
    // off ONE verified candidate stream — the aggressiveness curve
    "q_dedup_yield_curve" -> ((s, d) =>
      Dedup.dedupYieldCurve(Tables.documents(s, d), col("doc_id"),
        col("text"), Seq(0.4, 0.6, 0.8), ShingleW, PairBands, PairRows)),

    // MinHash calibration guardrail (the dedup family's q_ann_recall):
    // mean |signature-estimate − exact Jaccard| over the LSH candidate
    // pairs, with a pinned 0.15 ceiling — k=16 gives σ ≈ 0.12 per
    // pair, so a broken permutation family or band layout blows the
    // bound while healthy noise stays inside it. Signatures are
    // deterministic, so the oracle replays the estimator bit-for-bit.
    "q_minhash_accuracy" -> ((s, d) => {
      val k = PairBands * PairRows
      val docs = Tables.documents(s, d)
      // spread before the signature compute (md5-per-shingle is the
      // expensive stage); sf1 A/B on this one is noise-dominated
      // (5.7-14 s across identical binaries), the spread is kept on
      // principle — no-op at lake scale, single-split insurance here
      val base = graft.core.Caches.track(graft.core.Xform.spreadToCores(docs)
        .filter(size(GraftFunctions.tokens(col("text"))) >= ShingleW)
        .select(col("doc_id"),
          array_distinct(GraftFunctions.shingles(col("text"), ShingleW)).as("sh"),
          GraftFunctions.minhashSignature(
            GraftFunctions.shingles(col("text"), ShingleW), k).as("sig")))
      val bands = graft.core.Caches.track(Dedup.minhashBands(
        docs, col("doc_id"), col("text"), ShingleW, PairBands, PairRows))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val est = aggregate(
        zip_with(col("siga"), col("sigb"),
          (a, b) => when(a === b, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v).cast("double") / lit(k)
      val errQ = floor(
        abs(est - GraftFunctions.jaccard(col("sha"), col("shb"))) * lit(1e9))
        .cast("long")
      cand
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
          col("sig").as("siga")), "doc_a")
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
          col("sig").as("sigb")), "doc_b")
        .select(errQ.as("eq"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("eq")).as("s"))
        .select(col("n_pairs"),
          (col("s").cast("double") / col("n_pairs").cast("double") / lit(1e9))
            .as("mean_abs_err"),
          ((col("s").cast("double") / col("n_pairs").cast("double") / lit(1e9))
            <= 0.15).as("within_bound"))
    }),

    // snapshot diff between two corpus versions, with the damage
    // planted in-query: 10% of docs new in cur, doc_id%17 slice
    // removed, doc_id%13 slice edited — the crawl-over-crawl audit
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") % 10 =!= 0)
      val cur = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Dedup.corpusDiff(prev, cur, col("doc_id"), col("text"))
    }),

    // EXACT Jaccard self-join (PPJoin prefix filtering) at the same 2/5
    // threshold as the LSH-verified q_neardup_jaccard — recall 1 by
    // construction, and the oracle is the NAIVE all-pairs computation,
    // so a prefix-filter completeness bug fails the gate, not just a
    // spec. Pure integer threshold math on both engines.
    "q_jaccard_join" -> ((s, d) =>
      Dedup.jaccardJoinPrefix(Tables.documents(s, d), col("doc_id"),
        col("text"), thetaNum = 2, thetaDen = 5, ShingleW)),

    // DIRECTIONAL containment |A∩B|/|A| ≥ 3/5 — the superset-dup
    // relation Jaccard misses (snippet inside a 100× page). Oracle is
    // the naive all-ordered-pairs posting join, so the asymmetric
    // prefix filter's completeness is gate-checked, not just spec'd.
    "q_containment_join" -> ((s, d) =>
      Dedup.containmentJoin(Tables.documents(s, d), col("doc_id"),
        col("text"), thetaNum = 3, thetaDen = 5, ShingleW)),

    // Winnowing (SIGMOD'03 / MOSS) fingerprint selection: per-doc gram
    // count + selected-fingerprint count. Window w=4 ⇒ expected density
    // 2/(w+1) = 0.4 of the gram postings.
    "q_winnow" -> ((s, d) =>
      Dedup.winnowStats(Tables.documents(s, d), col("doc_id"), col("text"),
        window = 4, shingleWidth = ShingleW)),

    // cross-doc matching over the winnowed (sparsified) posting lists —
    // the plagiarism-candidate join at 40% of the exact-substring cost,
    // recall guaranteed for runs ≥ window+w−1 tokens
    "q_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), col("doc_id"), col("text"),
        minShared = 2, window = 4, shingleWidth = ShingleW, maxDf = 64)),

    // Transitive near-dup groups: min-label propagation (5 rounds) over
    // the Jaccard-verified pair graph — A≈B≈C collapses to one component
    // even when A and C don't pair directly.
    "q_neardup_components" -> ((s, d) => {
      val pairs = Dedup.nearDupPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), threshold = 0.4, ShingleW, PairBands, PairRows)
      Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"), iters = 5)
    }),

    // components → keep the best-quality member per component: the
    // decision step that near-dup grouping exists for
    "q_component_rep" -> ((s, d) => {
      val pairs = Dedup.nearDupPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), threshold = 0.4, ShingleW, PairBands, PairRows)
      val comps = Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"),
        iters = 5)
      val quality = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityFrom(TextAnalysis.counts(col("text"))).as("quality"))
      Dedup.componentRepresentatives(comps, quality)
    }),

    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), col("doc_id"), col("text"),
        maxDist = SimHashMaxDist, width = SimHashWidth, bands = SimHashBands)),

    // Train/test contamination: training docs (id % 97 != 0) sharing ≥2
    // distinct 3-gram spans with the benchmark slice (id % 97 == 0) —
    // the benchmark n-gram table broadcasts, the training side never
    // shuffles pre-aggregation.
    "q_contamination" -> ((s, d) => contaminationOverlap(s, d)),

    // The decontamination decision: one row per training doc to DROP
    // with its worst benchmark leak.
    "q_decontaminate" -> ((s, d) =>
      Contamination.contaminatedIds(contaminationOverlap(s, d))),

    // library-parity row for the ingest-time gate: the STATELESS
    // cross-join + array_intersect plan (the one a readStream micro
    // batch runs) over the same slices — must flag the same pairs the
    // aggregation form finds
    "q_contam_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ng = Contamination.benchNgrams(
        docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
        w = ShingleW)
      Contamination.streamingFlags(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        ng, w = ShingleW, minShared = 2)
    }),

    // posting-list form of the ingest gate: doc n-grams explode once and
    // hash-join the broadcast (hash → bench_id) postings — per-doc cost
    // independent of |bench| (the 100k-eval-doc regime); must flag the
    // same pairs as the array_intersect form above
    "q_contam_postings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ng = Contamination.benchNgrams(
        docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
        w = ShingleW)
      Contamination.streamingFlagsPostings(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        ng, w = ShingleW, minShared = 2)
    }),

    // contamination at PRODUCTION n-gram width (w=8 — the GPT-3/PaLM
    // decontamination regime, minShared=1: one verbatim 8-gram is
    // already leakage). The driver corpus plants no w≥5 overlap, so this
    // row proves the operator finds NOTHING there (exact-zero parity
    // with the oracle); the adversarial corpus (tools/advdata.py) plants
    // verbatim bench spans and proves the positive path at w=8.
    "q_contam_w8" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
        w = 8, minShared = 1)
    }),

    // substring-level contamination: longest shared token span per
    // (train, bench) pair via positional 8-gram matches + diagonal run
    // extension — the planted 11-token adversarial span must report 11,
    // not "4 shared 8-grams"; the paraphrased doc must not appear. The
    // driver corpus has no w≥5 overlap, so here it proves exact-zero.
    "q_contam_span" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.sharedSpans(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
        w = 8)
    }),

    // within-corpus substring dedup (Lee et al. ExactSubstr): longest
    // shared token span per doc pair sharing any 8-gram — catches
    // partial copies MinHash (whole-doc) and lineDedup (line-aligned)
    // miss. Singleton hashes pruned, df-capped postings self-join equi
    // on the hash; the planted adversarial verbatim quote must pair its
    // two carriers with the full span length.
    "q_substr_dedup" -> ((s, d) =>
      Contamination.selfDupSpans(Tables.documents(s, d), col("doc_id"),
        col("text"), w = 8, maxDf = 64)),

    // the scale path: pairs form only WITHIN hyperplane-LSH buckets (an
    // equi-join on bucket) — the brute-force all-pairs form stays in the
    // library (Dedup.embeddingNearDupPairs) as the small-corpus baseline
    "q_embed_neardup" -> ((s, d) => Similarity.lshBucketedPairs(
      Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      nPlanes = NPlanes, threshold = 0.2)),

    // SemDeDup (Abbas et al. 2023): semantic dedup — k-means clusters
    // bound the quadratic screen; within a cluster, a row is dropped iff
    // a higher-ranked (more central) row sits within eps cosine. The
    // centroid artifact is the same train-once k-means the IVF family
    // memoizes (k=8 here — a separate index from IvfK=4).
    "q_semdedup" -> ((s, d) => {
      import s.implicits._
      val cents = semCentroids(s, d).map { case (cid, cv, _) => (cid, cv) }
        .toDF("cid", "cv")
      Dedup.semDedup(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), cents, eps = SemEps)
    }),

    // D4 (Tirumala et al. 2308.12284): SemDeDup then prototypicality —
    // after the near-dup screen, also drop the protoFrac most central
    // survivors of each cluster (the densest = most redundant region)
    "q_d4" -> ((s, d) => {
      import s.implicits._
      val cents = semCentroids(s, d).map { case (cid, cv, _) => (cid, cv) }
        .toDF("cid", "cv")
      Dedup.d4(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), cents, eps = SemEps, protoFrac = ProtoFrac)
    }),

    "q_minhash_by_source" -> ((s, d) => {
      val sig = GraftFunctions.minhashSignature(
        GraftFunctions.shingles(col("text"), ShingleW), 8)
      Tables.documents(s, d)
        // docs shorter than the shingle width yield all-null signatures,
        // which MinHashUnion's non-nullable Seq[Long] encoder rejects —
        // filter them out (the oracle mirrors with len(sg) > 0)
        .filter(size(GraftFunctions.tokens(col("text"))) >= ShingleW)
        .select(col("source"), sig.as("sig"))
        .groupBy(col("source"))
        .agg(graft.agg.MinHashUnion.agg(8)(col("sig")).as("gsig"))
        .select(col("source"), posexplode(col("gsig")))
        .toDF("source", "pos", "sigval")
        .select(col("source"), col("pos").cast("long").as("pos"), col("sigval"))
    }),

    // ---- similarity search ----------------------------------------------
    // Matryoshka truncation audit: does the dim-16 prefix ranking keep
    // the full-dim top-10? Two heap top-k passes + a k-row join
    "q_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaOverlap(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), queryId = 0L, k = 10, prefixDim = 16)),

    "q_ann_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), roundCos(col("embedding"), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // SQ8 scalar quantization: per-dim [min,max] calibration (train-once
    // artifact), byte codes, ADC dot against the full-precision query —
    // the int8-embedding-store discipline beside the PQ family
    // the query vector (vec_id 0) is excluded from CANDIDATES, matching
    // every other ANN query; calibration stats stay corpus-wide
    "q_ann_sq8" -> ((s, d) =>
      Similarity.sq8TopK(Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), sqStats(s, d),
        queryVec0(s, d).toSeq, k = 10)),

    "q_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildLshIndex(e, col("vec_id"), col("embedding"), NPlanes)
      val qb = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"),
          Similarity.hyperplaneBucket(col("embedding"), NPlanes).as("bucket"))
      idx.join(broadcast(qb), Seq("bucket"))
        .select(col("vec_id"), roundCos(col("v"), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
    }),

    // Library-parity rows: the same ANN paths through the PUBLIC library
    // entry points ([[Similarity.bruteForceTopK]] / [[Similarity.lshTopK]]
    // with hamming-1 multiprobe) against a LITERAL query vector — the
    // production call shape, where the query arrives from outside the
    // corpus. The one-row head() fetches the query constant, not data.
    "q_ann_brute_lib" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        queryVec0(s, d).toSeq, k = 10)
    }),

    "q_ann_lsh_probes" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qv = queryVec0(s, d).toSeq
      val idx = Similarity.buildLshIndex(e, col("vec_id"), col("embedding"), NPlanes)
      // nProbes = 1 + NPlanes probes the FULL hamming-1 neighborhood
      // (multiprobe ranking is moot at the cap) — the oracle mirrors the
      // complete xor(qb, 1<<h) set
      Similarity.lshTopK(idx, qv, NPlanes, k = 20, nProbes = NPlanes + 1)
    }),

    // RANKED multi-probe (Lv et al. VLDB'07): only the 2 neighbor buckets
    // whose hyperplane boundary the query sits closest to — the oracle
    // reproduces the ranking from the same per-plane dot products
    "q_ann_lsh_ranked" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qv = queryVec0(s, d).toSeq
      val idx = Similarity.buildLshIndex(e, col("vec_id"), col("embedding"), NPlanes)
      Similarity.lshTopK(idx, qv, NPlanes, k = 20, nProbes = 3)
    }),

    "q_ann_ivf" -> ((s, d) => {
      val assigned = Similarity.ivfAssign(
        Tables.embeddings(s, d), col("vec_id"), col("embedding"), nCentroids = 16)
      Similarity.ivfTopK(assigned, queryId = 0L, k = 10)
    }),

    // Product quantization (Jégou et al.): per-subspace k-means codebooks,
    // every vector compressed to m=2 small codes via a literal-codebook
    // joinless projection. The oracle re-trains both subspace codebooks
    // with the same deterministic iterations (prefixed kmeans CTEs over
    // vector slices) and reproduces the argmax-cosine encoding.
    "q_pq_encode" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqEncode(e, col("vec_id"), col("embedding"), pqBooks(s, d))
    }),

    // ADC top-k over the PQ codes: full-precision query, candidates scored
    // from the m per-subspace dot-product lookup tables — the scan never
    // touches the original vectors (the 100 TB memory win of PQ).
    "q_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val books = pqBooks(s, d)
      val enc = Similarity.pqEncode(e, col("vec_id"), col("embedding"), books)
      Similarity.pqAdcTopK(enc, books, queryVec0(s, d).toSeq, k = 10)
    }),

    // Two-stage retrieval: ADC top-20 candidates from the codes, exact
    // cosine re-rank of just those rows — quantized recall, exact order.
    "q_ann_pq_refined" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val books = pqBooks(s, d)
      val enc = Similarity.pqEncode(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), books)
      Similarity.pqRefineTopK(enc, e, col("vec_id"), col("embedding"),
        books, queryVec0(s, d).toSeq, r = 20, k = 10)
    }),

    // IVF-PQ (the standard lake-scale ANN composition): coarse cell from
    // the deterministic vec_id<16 centroid set (as q_ann_ivf), PQ codes
    // from the trained subspace codebooks; probe the 3 query-nearest
    // cells driver-side and ADC-score only their codes. The read side is
    // a partition-prunable cell filter + joinless projection — raw
    // vectors never touched.
    "q_ann_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val coarse = coarse16(s, d)
      val books = pqBooks(s, d)
      val idx = Similarity.pqIndex(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), coarse, books)
      Similarity.ivfPqTopK(idx, coarse, books, queryVec0(s, d).toSeq,
        nProbes = 3, k = 10)
    }),

    // Multi-cell IVF probe: scan the 3 cells whose centroids are closest
    // to the query — the recall knob for near-boundary queries. Same
    // deterministic vec_id<16 centroid set as q_ann_ivf.
    "q_ann_ivf_probes" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val assigned = Similarity.ivfAssignWith(e, col("vec_id"), col("embedding"), cents)
      Similarity.ivfTopKProbes(assigned, cents, queryId = 0L, k = 10, nProbes = 3)
    }),

    // ANN index QUALITY measurement: recall@10 of the 3-probe IVF
    // against the exact brute-force top-10 — the tuning metric every
    // production vector index reports (probes/k trade recall for scan
    // fraction). One row out; both sides reuse the pinned ANN plans.
    "q_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val assigned = Similarity.ivfAssignWith(e, col("vec_id"), col("embedding"), cents)
      val approx = Similarity.ivfTopKProbes(assigned, cents, queryId = 0L,
        k = 10, nProbes = 3).select(col("vec_id"))
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), queryVec0(s, d).toSeq, k = 10)
        .select(col("vec_id"))
      approx.join(exact, "vec_id")
        .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    // recall@10 as a FUNCTION of the probe count (1..4) — the
    // recall/latency trade-off curve an IVF deployment tunes against;
    // the exact arm is shared, each probe arm is the q_ann_recall
    // machinery at its own LIMIT
    "q_ann_probe_curve" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val assigned = Similarity.ivfAssignWith(e, col("vec_id"),
        col("embedding"), cents)
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), queryVec0(s, d).toSeq, k = 10)
        .select(col("vec_id"))
      (1 to 4).map { p =>
        Similarity.ivfTopKProbes(assigned, cents, queryId = 0L, k = 10,
            nProbes = p).select(col("vec_id"))
          .join(exact, "vec_id")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(p.toLong).as("n_probes"),
            (col("n_hit").cast("double") / lit(10.0)).as("recall_at_10"))
      }.reduce(_ unionByName _)
    }),

    // SQ8 quantization-QUALITY guardrail: recall@10 of the SQ8 ADC
    // top-10 against the exact brute-force top-10, with a pinned floor.
    // Without this row a calibration bug that tanks recall while staying
    // deterministic would pass the q_ann_sq8 oracle silently (both
    // engines would compute the same wrong ranking). The oracle mirrors
    // the recall computation exactly but emits a LITERAL true for
    // floor_ok, so a recall collapse below the floor fails the hash
    // compare on the Spark side.
    "q_ann_sq8_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val approx = Similarity.sq8TopK(e, col("vec_id"), col("embedding"),
        sqStats(s, d), queryVec0(s, d).toSeq, k = 10).select(col("vec_id"))
      val exact = Similarity.bruteForceTopK(e, col("vec_id"),
        col("embedding"), queryVec0(s, d).toSeq, k = 10).select(col("vec_id"))
      approx.join(exact, "vec_id")
        .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_at_10"))
        .select(col("recall_at_10"),
          (col("recall_at_10") >= lit(0.8)).as("floor_ok"))
    }),

    // IVF with TRAINED centroids: deterministic distributed k-means
    // (lowest-k seeds, fixed-point recentering) feeds the assignment —
    // the full production path train→index→probe, all reproducible.
    "q_ann_ivf_trained" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val cents = ivfCentroids(s, d).toDF("cid", "cv", "n")
      val assigned = Similarity.ivfAssignWith(e, col("vec_id"), col("embedding"), cents)
      Similarity.ivfTopK(assigned, queryId = 0L, k = 10)
    }),

    "q_embed_centroid" -> ((s, d) => Similarity.quantizedCentroids(
      Tables.embeddings(s, d), col("vec_id") % 8, col("embedding"))),

    "q_knn_join" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val corpus = e.filter(col("vec_id") >= 3).select(col("vec_id"), col("embedding").as("cv"))
      val qs = e.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = corpus.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"), roundCos(col("cv"), col("qv")).as("cos"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3).drop("__rn")
    }),

    // ---- text analysis ---------------------------------------------------
    "q_text_stats" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.counts(col("text")).as("tc"))
      .select(col("doc_id"),
        col("tc.n_chars").as("chars"),
        col("tc.n_words").as("words"),
        col("tc.n_alnum").as("alnum_tokens"),
        col("tc.n_bpe").as("bpe_tokens"))),

    // normalize→dedup composition: exact dedup keyed on the NORMALIZED
    // content hash, so decomposed/precomposed/case variants of one text
    // collapse to a single kept id — the operator normalize exists FOR
    "q_dedup_normalized" -> ((s, d) =>
      Dedup.exactByContent(Tables.documents(s, d),
        TextAnalysis.normalize(col("text")), col("doc_id"))),

    // Unicode NFC + casefold + control-strip: the canonical pre-dedup
    // normalization (decomposed é ≡ precomposed é must content-hash the
    // same). Emits the normalized text AND its hash so the oracle proves
    // byte-for-byte normalizer agreement (Java UAX#15 vs DuckDB utf8proc).
    "q_text_normalize" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        TextAnalysis.normalize(col("text")).as("norm_text"))
      .withColumn("n_norm", length(col("norm_text")).cast("long"))
      .withColumn("norm_md5", md5(col("norm_text")))),

    "q_text_quality" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.counts(col("text")).as("tc"))
      .select(col("doc_id"),
        TextAnalysis.punctRatioFrom(col("tc")).as("punct_ratio"),
        TextAnalysis.stopwordRatioFrom(col("tc")).as("stopword_ratio"),
        TextAnalysis.meanWordLenFrom(col("tc")).as("mean_word_len"),
        TextAnalysis.qualityFrom(col("tc")).as("quality"))),

    "q_lang_id" -> ((s, d) => Tables.documents(s, d).select(
      col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))),

    // language-ID confusion matrix: declared label × prediction counts —
    // the eval table a lang classifier ships with; one extra aggregation
    // over the q_lang_id scorer
    "q_lang_confusion" -> ((s, d) => Tables.documents(s, d)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))),

    // tokenizer-coverage audit: OOV rate against the corpus's own
    // top-1000 token vocabulary (distributed top-k + broadcast-back —
    // the corpus never shuffles)
    "q_oov_rate" -> ((s, d) => TextAnalysis.oovRate(
      Tables.documents(s, d), col("doc_id"), col("text"), vocabSize = 1000)),

    // per-source language-mixture entropy (nats, fixed-point-quantized
    // terms): the crawl-drift monitor over the declared lang labels
    "q_source_entropy" -> ((s, d) => TextAnalysis.sourceLangEntropy(
      Tables.documents(s, d), col("source"), col("lang"))),

    // n-gram novelty vs the doc_id%7 reference slice: how much of each
    // scored doc is NEW relative to what the reference already covers —
    // the incremental-value weight for ranking fresh crawls (inverse of
    // the contamination overlap signal)
    "q_ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramNovelty(
        docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 7 === 0), col("text"), ShingleW)
    }),

    // PII redaction: sequential email→phone→IPv4 mask passes with
    // per-doc counts; patterns live in the Java∩RE2 regex subset so
    // Spark and the DuckDB oracle match the same spans. Zero-shuffle
    // projection. The driver corpus plants no PII (exact-zero parity);
    // tools/advdata.py plants all three kinds plus collision traps.
    "q_pii_scrub" -> ((s, d) =>
      TextAnalysis.piiScrub(Tables.documents(s, d), col("doc_id"), col("text"))),

    // markup strip + mojibake battery. The synthetic corpus carries no
    // markup, so the query PLANTS it deterministically from doc_id —
    // tags, entities (incl. the &amp;lt; double-decode trap), cp1252
    // mojibake and U+FFFD — then strips and counts; the oracle plants
    // the identical damage. Exercises every branch on real data.
    "q_markup_strip" -> ((s, d) => {
      val marked = concat(
        lit("<p class=\"x\">"),
        when(col("doc_id") % 3 === 0, lit("<b>key</b> ")).otherwise(lit("")),
        replace(col("text"), lit(" fast "), lit(" &lt;fast&gt; ")),
        lit("</p>"),
        when(col("doc_id") % 5 === 0, lit(" <br/>&nbsp;&amp;lt;raw"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" cafÃ©")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" bad�char")).otherwise(lit("")))
      TextAnalysis.markupStats(
        Tables.documents(s, d).select(col("doc_id"), marked.as("text")),
        col("doc_id"), col("text"))
    }),

    // within-document repetition: 1 - distinct/total shingles — the
    // Gopher-style "repetitive doc" curation gate (high ratio = the same
    // n-grams loop). Pure projection: runs at scan speed, no shuffle.
    "q_repetition" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), GraftFunctions.shingles(col("text"), ShingleW).as("sg"))
      .select(col("doc_id"),
        size(col("sg")).cast("long").as("n_shingles"),
        when(size(col("sg")) === 0, lit(0.0))
          .otherwise(lit(1.0) - size(array_distinct(col("sg"))).cast("double")
            / size(col("sg")).cast("double")).as("rep_ratio"))),

    // the Gopher Table-A1 repetition battery — q_repetition covers only
    // the distinct/total shingle ratio; this emits all six structural
    // signals a curation run thresholds on
    "q_quality_rules" -> ((s, d) =>
      TextAnalysis.qualityRules(Tables.documents(s, d), col("doc_id"), col("text"))),

    "q_fingerprint" -> ((s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenSetFingerprint(col("text")).as("fingerprint"),
      TextAnalysis.rollingHash(col("text")).as("rolling"))),

    // ---- composite curation pipeline ------------------------------------
    // The end-to-end shape a training-data pipeline actually runs: quality
    // gate → exact dedup (keep lowest doc_id per content) → per-language
    // token budget. One declarative plan: the gate pushes into the scan,
    // dedup is one hash shuffle, the rollup is a partial aggregation.
    "q_curation" -> ((s, d) => {
      val deduped = Dedup.exactRows(gatedDocs(s, d), col("text"), col("doc_id"))
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tc.n_bpe")).as("total_bpe_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),

    // Incremental dedup: today's drop (odd ids) against the already-
    // ingested corpus (even ids) — new-to-corpus content only, deduped
    // within the increment.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.exactIncrement(
        docs.filter(col("doc_id") % 2 === 1), col("text"), col("doc_id"),
        docs.filter(col("doc_id") % 2 === 0), col("text"))
    }),

    // Line-level boilerplate dedup (CCNet/RefinedWeb): drop lines that
    // recur across > LineDedupMaxDocs distinct docs, reassemble the rest
    // in order. The driver corpus has single-line docs with no cross-doc
    // repeats, so this row proves exact-zero-drop parity; the
    // adversarial corpus (tools/advdata.py) plants a nav-bar line across
    // many docs and proves the positive path.
    "q_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(Tables.documents(s, d), col("doc_id"), col("text"),
        maxDocs = LineDedupMaxDocs)),

    // Frequent-n-gram mask accounting: tokens covered by a w-gram seen
    // in > MaskNgramMaxDf distinct docs are masked; per-doc coverage
    // fraction. Linear in token count — no pair joins.
    "q_mask_ngrams" -> ((s, d) =>
      Dedup.maskFrequentNgrams(Tables.documents(s, d), col("doc_id"),
        col("text"), w = ShingleW, maxDf = MaskNgramMaxDf)),

    // Percentile quality cut: top 50% by quality per language — the
    // drift-proof way to pick curation thresholds.
    "q_quality_cut" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.qualityFrom(TextAnalysis.counts(col("text"))).as("quality"))
      TextAnalysis.qualityCut(docs, col("lang"), col("quality"),
        col("doc_id"), frac = 0.5)
    }),

    // cross-source content-overlap matrix: distinct shared w-shingles
    // per source pair (the lexical syndication map); C(k,2) fan-out
    // bounded by #sources per shingle
    "q_cross_source_dup" -> ((s, d) =>
      Dedup.crossSourceDup(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("source"),
            explode(GraftFunctions.shingles(col("text"), ShingleW)).as("g")),
        col("source"), col("g"))),

    // per-cluster cohesion/separation audit of the SemDeDup k-means —
    // literal centroid array, zero-shuffle projection, one cid reduce
    "q_cluster_quality" -> ((s, d) =>
      Similarity.clusterQuality(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"),
        semCentroids(s, d).map { case (cid, cv, _) => (cid, cv) })),

    // triangle census of the LSH candidate graph — dedup-cluster QA:
    // high clustering = tight replica cliques, low = borderline chains.
    // Degree-ordered node-iterator, O(m^1.5) wedge bound (Graph.scala)
    "q_triangles" -> ((s, d) =>
      graft.graph.Graph.triangleStats(
        Dedup.lshCandidatePairs(Tables.documents(s, d), col("doc_id"),
          col("text"), ShingleW, PairBands, PairRows),
        col("doc_a"), col("doc_b"))),

    // top-64 PMI bigram collocations (stop-gram candidate inventory) —
    // ranking is ln-free (exact ratio of longs), only the emitted pmi
    // quantizes a log (TextAnalysis.pmiTop)
    "q_pmi" -> ((s, d) =>
      TextAnalysis.pmiTop(Tables.documents(s, d), col("text"))),

    // Heaps'-law vocabulary-growth exponent over 10 doc-id-range
    // prefixes — the growth-curve drift alarm beside q_zipf's
    // frequency fingerprint; no doc-order sort (TextAnalysis.heapsFit)
    "q_heaps" -> ((s, d) =>
      TextAnalysis.heapsFit(Tables.documents(s, d), col("doc_id"), col("text"))),

    // Zipf's-law slope per language over the top-512 tokens — the
    // one-number corpus-drift fingerprint. Quantized-log integer
    // moments, shared final-math SQL text (see TextAnalysis.zipfFit).
    "q_zipf" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), col("lang"), col("text"))),

    // Wilson lower-bound source ranking: order sources by the 95%
    // lower confidence bound of their quality-pass rate, not the raw
    // fraction — small high-scoring sources rank below large
    // consistently-good ones. One |sources|-sized shuffle.
    "q_source_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("source"),
        (TextAnalysis.qualityFrom(TextAnalysis.counts(col("text"))) >= 0.5)
          .as("pass"))
      Selection.wilsonSourceRank(docs, col("source"), col("pass"))
    }),

    // The full training-data pipeline as ONE declarative plan: quality
    // gate (single-pass TextCounts) → deterministic mixture re-weighting
    // → exact content dedup → per-shard sequence packing → corpus stats.
    // Catalyst fuses the three scan-level stages into the scan; the only
    // shuffles are the dedup hash, the packing window sort and the final
    // partial agg — the whole curation story in one query.
    "q_pipeline_full" -> ((s, d) => {
      val mixed = TextAnalysis.mixtureSample(gatedDocs(s, d), col("text"),
        col("lang"), Map("en" -> 0.8, "de" -> 1.0), default = 0.5, salt = 11)
      val deduped = Dedup.exactRows(mixed, col("text"), col("doc_id"))
      val packed = TextAnalysis.packSequences(deduped, col("lang"),
        col("doc_id"), coalesce(col("tc.n_bpe"), lit(0L)), budget = 256L)
      packed.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        // sequences of the concatenated shard stream = ceil(total/budget):
        // max(seq_idx)+1 would undercount when the LAST doc straddles
        // budget boundaries (seq_idx marks where a doc STARTS)
        .withColumn("n_seqs", expr("(total_tokens + 255) div 256"))
        .select(col("shard"), col("n_docs"), col("n_seqs"), col("total_tokens"))
    }),

    // Context chunking: 32-token windows, stride 24 (25% overlap) — the
    // splitter feeding embedding generation over long documents.
    "q_chunk_docs" -> ((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d),
        col("doc_id"), col("text"), chunkTokens = 32, stride = 24)),

    // RAG indexing path end-to-end: chunk every doc, hash-embed each
    // chunk (stub embedder — the plumbing is the point), cosine top-10
    // against the first chunk as the query. One scan to chunks+vectors,
    // heap top-k — the retrieval shape over a chunked corpus.
    "q_rag_topk" -> ((s, d) => {
      // cache the chunk+embed table: the query-row subplan and the
      // scoring scan otherwise each recompute the chunk explode + hash
      // embedding of the whole corpus — this IS the "index build once,
      // query it" shape, and the tracked persist is the index
      // spread raw docs across cores first: the md5 hash-embed is the
      // expensive stage, and a small single-split corpus would pin the
      // whole index build onto one task (measured 0.97 s of a 1.3 s
      // query in one stage at sf0.1)
      val chunks = graft.core.Caches.track(
        TextAnalysis.chunkDocuments(
            graft.core.Xform.spreadToCores(Tables.documents(s, d)),
            col("doc_id"), col("text"), chunkTokens = 32, stride = 24)
          .select(col("doc_id"), col("chunk_idx"),
            TextAnalysis.hashEmbed(col("chunk_text"), 16).as("emb")))
      // the query row is a BROADCAST 1-row subplan over the same
      // persisted index (TakeOrderedAndProject → broadcast), not a
      // driver head(): the whole query runs in ONE action — the
      // broadcast job materializes the cache, the scoring scan reads it
      val q = chunks.orderBy(col("doc_id"), col("chunk_idx")).limit(1)
        .select(col("doc_id").as("qd"), col("chunk_idx").as("qc"),
          col("emb").as("qv"))
      chunks.crossJoin(broadcast(q))
        .filter(!(col("doc_id") === col("qd") && col("chunk_idx") === col("qc")))
        .select(col("doc_id"), col("chunk_idx"),
          CosineSimilarity(col("emb"), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id"), col("chunk_idx"))
        .limit(10)
    }),

    // TF-IDF keyword extraction: top-3 terms per doc by tf·(N/df) —
    // rational IDF, not log, for bit-exact cross-engine ranking.
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 3)),

    // lexical retrieval twin of the dense ANN path: BM25 top-10 against
    // a fixed query-term bag (Lucene-style log IDF, fixed-point
    // quantized — see Retrieval.bm25)
    "q_bm25" -> ((s, d) =>
      Retrieval.bm25(Tables.documents(s, d), col("doc_id"), col("text"),
        BmQueryTerms)),

    // corpus bigram table: top-20 most frequent token 2-grams
    "q_ngram_counts" -> ((s, d) =>
      Retrieval.ngramCounts(Tables.documents(s, d), col("text"), n = 2,
        topK = 20)),

    // CCNet-style LM quality proxy: mean Laplace-smoothed bigram
    // log-prob per doc under corpus-trained counts, fixed-point
    // quantized partials (order-independent distributed sum)
    "q_lm_score" -> ((s, d) =>
      Retrieval.bigramLmScore(Tables.documents(s, d), col("doc_id"),
        col("text"))),

    // CCNet head/middle/tail: per-language LM-score terciles via pure
    // integer bucket math over a deterministic (score DESC, id) rank
    "q_ccnet_buckets" -> ((s, d) =>
      Retrieval.perplexityBuckets(Tables.documents(s, d), col("doc_id"),
        col("text"), col("lang"))),

    // true-CCNet cross-corpus form: counts train on the REFERENCE slice
    // (doc_id % 97 == 0 — the "Wikipedia"), the rest of the corpus is
    // scored against them; unseen bigrams fall back to the Laplace prior
    "q_lm_score_ref" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bigramLmScoreRef(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        col("doc_id"), col("text"))
    }),

    // exact-count-per-group eval slice: 2 docs per source, picked by
    // content-hash order (stable under resharding, unlike sample())
    "q_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), col("source"),
        col("text"), col("doc_id"), n = 2, salt = 11)
        .select(col("doc_id"), col("source"), col("sample_rank"))),

    // Sequence packing: assign each doc its training-sequence index and
    // offset under a 512-token budget, packed per language shard — the
    // concat-and-chunk layout step of a training pipeline.
    "q_pack_sequences" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d),
        col("lang"), col("doc_id"),
        coalesce(TextAnalysis.bpeTokenEstimate(col("text")), lit(0L)),
        budget = 512L)),

    // Deterministic mixture sampling: re-weight the corpus per language
    // (the data-mixing knob of a training pipeline) via content-hash
    // thresholds — reproducible, reshard-stable, a pure scan filter.
    "q_mix_sample" -> ((s, d) =>
      TextAnalysis.mixtureSample(Tables.documents(s, d), col("text"),
        col("lang"), Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25),
        default = 0.1, salt = 7)
        .select(col("doc_id"), col("lang"))),

    // temperature mixing (α = 0.5): per-language keep rates DERIVED from
    // corpus counts — √n_g shares flatten the language distribution,
    // scaled to a 50% overall budget
    "q_temperature_sample" -> ((s, d) =>
      TextAnalysis.temperatureSample(Tables.documents(s, d), col("text"),
        col("lang"), budgetFrac = 0.5, salt = 13)
        .select(col("doc_id"), col("lang"))),

    // corpus drift monitor: per-source unigram KL against the corpus-wide
    // distribution over 256 hashed buckets, Laplace-smoothed
    "q_kl_drift" -> ((s, d) =>
      TextAnalysis.unigramKlDrift(Tables.documents(s, d), col("text"),
        col("source"))
        .select(col("g").as("source"), col("kl_drift"))),

    // C4 §2.2 line-level cleaning: terminal-punctuation line filter,
    // >=3 words/line, javascript-line drop, lorem-ipsum / curly-brace /
    // min-5-sentences page gates — one zero-shuffle projection
    "q_c4_clean" -> ((s, d) =>
      TextAnalysis.c4Clean(Tables.documents(s, d), col("doc_id"),
        col("text"))),

    // deterministic train/val assignment by CONTENT hash: stable under
    // re-sharding/re-ids, reproducible across runs and engines — the only
    // split discipline that survives a distributed rebuild of the corpus
    "q_split_assign" -> ((s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      (GraftFunctions.md5Long(col("text")) % 20).as("bucket"),
      when(GraftFunctions.md5Long(col("text")) % 20 === 0, lit("val"))
        .otherwise(lit("train")).as("split"))),

    // leakage-proof split: near-dup COMPONENTS are the split unit, so a
    // doc and its paraphrases can never straddle train/val (the leak
    // q_split_assign's per-doc hash permits). Docs outside any near-dup
    // pair key on themselves; hashing the component key keeps the
    // assignment reshard-stable.
    "q_split_leakproof" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.nearDupPairs(docs, col("doc_id"), col("text"),
        threshold = 0.4, ShingleW, PairBands, PairRows)
      val comps = Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"),
        iters = 5)
      docs.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("leak_key"))
        .select(col("doc_id"), col("leak_key"),
          when(GraftFunctions.md5Long(col("leak_key").cast("string")) % 20 === 0,
            lit("val")).otherwise(lit("train")).as("split"))
    }),

    // token-budget mixture cut: per source, admit docs in quality order
    // until the source's cumulative BPE-token estimate passes the
    // budget — how a training mix is actually assembled under a token
    // target (the budgeted counterpart of the rate-based q_mix_sample)
    "q_token_budget" -> ((s, d) =>
      Selection.tokenBudgetCut(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          coalesce(TextAnalysis.bpeTokenEstimate(col("text")), lit(0L))
            .as("n_tokens"),
          TextAnalysis.qualityFrom(TextAnalysis.counts(col("text")))
            .as("quality")),
        col("source"), col("doc_id"), col("n_tokens"), col("quality"),
        budget = 2000L)),

    // ---- multimodal plumbing --------------------------------------------
    "q_media_meta" -> ((s, d) => Multimodal.metaScan(media(s, d))),

    // content-defined chunking dedup over the binary payloads — the
    // alignment-robust storage-dedup primitive (Multimodal.cdcChunkStats)
    "q_cdc_chunks" -> ((s, d) => Multimodal.cdcChunkStats(media(s, d))),

    // frame fingerprint = md5 over the LOWERCASE HEX of the frame BYTES:
    // byte semantics on both engines (DuckDB cannot md5 a BLOB, but both
    // engines hex-render bytes identically) — a char-based oracle would
    // silently diverge on any non-ASCII document (ADVICE r3)
    "q_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(media(s, d), frameBytes = 32, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          md5(lower(hex(col("frame")))).as("frame_md5"))),

    "q_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(s, media(s, d), dim = 16)
        .select(col("media_id"),
          size(col("features")).cast("long").as("n_dims"),
          element_at(col("features"), 1).cast("double").as("f0"),
          aggregate(col("features"), lit(0.0), (a, x) => a + x.cast("double")).as("fsum"))),

    "q_media_resize" -> ((s, d) =>
      Multimodal.resize(media(s, d), outW = 16, outH = 8)
        .select(col("media_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.bit_depth").as("bit_depth"),
          col("meta.n_bytes").as("n_bytes"),
          md5(lower(hex(col("payload")))).as("payload_md5"))),

    // audio-style frame energy + silence segmentation (energy-gated
    // VAD shape) — one native scan pass, exact integer energies
    "q_media_energy" -> ((s, d) => Multimodal.energyScan(media(s, d))),

    // 64-bit perceptual difference hash per media — gradient-sign bits
    // over the sampled byte grid, 4×16-bit bands; pure projection
    "q_phash" -> ((s, d) => Multimodal.dHash(media(s, d))),

    // perceptual near-dup pairs at hamming ≤ 3 — banded candidate
    // self-join (pigeonhole-complete for the threshold), never all-pairs
    "q_phash_pairs" -> ((s, d) => Multimodal.dHashPairs(media(s, d), 3)),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // top-20 and the dense hash-embed cosine top-20 against the same
    // query bag — the RAG-serving merge (Cormack et al. 2009, k=60).
    // Each retriever keeps its own scale path (BM25's two-job scan
    // form, the ANN family for the dense side at lake scale); the
    // fusion itself is a join of two top-K slices and never touches
    // the corpus.
    "q_rrf_fusion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lex = Retrieval.withRank(
        Retrieval.bm25(docs, col("doc_id"), col("text"), BmQueryTerms,
          topK = 20),
        col("bm25"))
      // spread before the per-doc hash-embed (md5 is the expensive
      // stage; a single-split source would run it in one task). A
      // NULL-text doc is unscorable on the dense side — drop it
      // explicitly (its hashEmbed-vs-query cosine would otherwise rank
      // as 0.0 above genuinely negative matches)
      val dense = Retrieval.withRank(
        graft.core.Xform.spreadToCores(docs.filter(col("text").isNotNull))
          .select(col("doc_id"),
          CosineSimilarity(TextAnalysis.hashEmbed(col("text"), 16),
            TextAnalysis.hashEmbed(lit(BmQueryTerms.mkString(" ")), 16))
            .as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(20),
        col("cos"))
      // raw doubles, no round(): both engines compute the identical
      // two-division sum, and round() half-way behavior differs
      Retrieval.rrfFuse(lex, dense, kConst = 60, topK = 10)
    })
  )

  // ======================================================================
  // DuckDB oracle twins
  // ======================================================================

  /** CTE producing (doc_id, tk tokens, sg w-shingles) for documents. */
  private def shingleCteW(w: Int): String =
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         CASE WHEN tk IS NULL THEN NULL
       |              WHEN len(tk) >= $w
       |              THEN list_transform(range(0, len(tk) - $w + 1),
       |                     i -> array_to_string(tk[i+1:i+$w], ' '))
       |              ELSE [] END AS sg
       |  FROM toks)""".stripMargin

  private def shingleCte: String = shingleCteW(ShingleW)

  /** CTEs tr/be/bn/ov for the contamination pair table (expects `sh`
    * from [[shingleCte]] in scope): train slice = doc_id % 97 != 0,
    * bench slice = doc_id % 97 == 0, shared-count threshold 2. */
  private def contaminationCte: String =
    """tr AS (SELECT DISTINCT doc_id AS train_id, unnest(sg) AS s
      |       FROM sh WHERE doc_id % 97 <> 0),
      |be AS (SELECT DISTINCT doc_id AS bench_id, unnest(sg) AS s
      |       FROM sh WHERE doc_id % 97 = 0),
      |bn AS (SELECT bench_id, count(*) AS n_bench FROM be GROUP BY 1),
      |ov AS (
      |  SELECT train_id, bench_id, count(*) AS n_shared
      |  FROM tr JOIN be USING (s) GROUP BY 1, 2
      |  HAVING count(*) >= 2)""".stripMargin

  /** CTE bands(doc_id, band_key): minhash k = bands*rows, LSH band keys.
    * Mirrors GraftFunctions.minhashSignature: one md5 per shingle, then k
    * affine permutations with the SAME (a_i, b_i) constants. */
  private def bandCte(bands: Int, rows: Int): String = {
    val k = bands * rows
    val p = GraftFunctions.HashP
    val sigExprs = GraftFunctions.minhashCoeffs(k).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString("[", ",\n           ", "]")
    s"""$shingleCte,
       |hsrc AS (
       |  SELECT doc_id, list_transform(sg, e -> ${sqlMd5Long("e")} % $p) AS hs
       |  FROM sh WHERE len(sg) > 0),
       |sig AS (
       |  SELECT doc_id,
       |         $sigExprs AS sig
       |  FROM hsrc),
       |bandsrc AS (
       |  SELECT doc_id,
       |         CAST(b AS VARCHAR)||'_'||md5(array_to_string(
       |           list_transform(sig[b*$rows+1:b*$rows+$rows], v -> CAST(v AS VARCHAR)), ',')) AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) AS bs)""".stripMargin
  }

  /** Hyperplane dot product for plane h — twin of Similarity.planeComponent
    * folded into the bucket dot (vec must be a FLOAT[] SQL expression). */
  private def sqlPlaneDot(h: Int, vec: String): String =
    s"""list_sum(list_transform(range(0, len($vec)), j ->
       |  CAST($vec[j+1] AS DOUBLE) *
       |  ((CAST('0x'||substring(md5('plane$h|'||CAST(j AS VARCHAR)),1,8) AS BIGINT) / 4294967296.0) - 0.5)))""".stripMargin

  /** Sign-bit LSH bucket — twin of Similarity.hyperplaneBucket. */
  private def sqlBucket(vec: String): String =
    (0 until NPlanes).map { h =>
      s"(CASE WHEN ${sqlPlaneDot(h, vec)} >= 0 THEN CAST(${1L << h} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Raw dot product in DOUBLE, index order — twin of the driver-side ADC
    * lookup-table loop (sequential accumulation). */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(0, len($a)), j -> CAST($a[j+1] AS DOUBLE) * CAST($b[j+1] AS DOUBLE)))"

  /** The two PQ subspace kmeans CTE chains (m=2), their RANKED codebooks
    * (`s{s}_r(cid, code, cv)` — code = dense 0..k-1 rank in cid order,
    * the argmaxRank twin) and per-vector encodings, generated per
    * subspace from one template — shared by the q_pq_* oracles. Final
    * codes in `enc(vec_id, code_0, code_1)`. */
  private def sqlPqCtes: String = {
    val slices = Seq("embedding[1:len(embedding)//2]",
      "embedding[len(embedding)//2+1:len(embedding)]")
    val kctes = slices.zipWithIndex.map { case (sl, s) =>
      sqlKmeansCte(IvfK, IvfIters, pfx = s"s${s}_", vecExpr = sl)
    }
    val ranked = slices.indices.map { s =>
      s"""s${s}_r AS (
         |  SELECT cid, row_number() OVER (ORDER BY cid) - 1 AS code, cv
         |  FROM s${s}_c$IvfIters)""".stripMargin
    }
    val encs = slices.indices.map { s =>
      s"""enc$s AS (
         |  SELECT vec_id, code AS code_$s FROM (
         |    SELECT e.vec_id, c.code,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.bv", "c.cv")} DESC, c.code) AS rn
         |    FROM s${s}_base e CROSS JOIN s${s}_r c) t WHERE rn = 1)""".stripMargin
    }
    val enc =
      """enc AS (
        |  SELECT e0.vec_id, CAST(e0.code_0 AS INT) AS code_0,
        |         CAST(e1.code_1 AS INT) AS code_1
        |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id))""".stripMargin
    (kctes ++ ranked ++ encs :+ enc).mkString(",\n")
  }

  private val sqlAlnumToks =
    "list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), t -> len(t) > 0)"

  /** Shared CTE chain: banding → Jaccard-verified pairs → symmetric
    * edges → 5 rounds of min-label propagation (l0..l5). Used by the
    * components query and the component-representative query. */
  private def componentsCte: String = {
    val steps = (1 to 5).map { i =>
      s"""l$i AS (
         |  SELECT l.node, least(l.label, COALESCE(m.nl, l.label)) AS label
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT e.x AS node2, min(t.label) AS nl
         |    FROM edges e JOIN l${i - 1} t ON e.y = t.node GROUP BY e.x) m
         |  ON l.node = m.node2)""".stripMargin
    }.mkString(",\n")
    s"""${bandCte(PairBands, PairRows)},
       |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsrc a JOIN bandsrc b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |jp AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN shd sa ON doc_a = sa.doc_id JOIN shd sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.4),
       |edges AS (SELECT doc_a AS x, doc_b AS y FROM jp
       |          UNION ALL SELECT doc_b AS x, doc_a AS y FROM jp),
       |l0 AS (SELECT DISTINCT x AS node, x AS label FROM edges),
       |$steps""".stripMargin
  }

  /** The curation quality score over `text` — twin of
    * TextAnalysis.qualityFrom(counts(text)); shared by the q_curation and
    * q_pipeline_full oracles. */
  private def sqlQuality: String =
    s"""least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
       |           + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |               ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |                    / CAST(length(text) AS DOUBLE) END) * 5.0) * 0.3
       |           + least((CASE WHEN len($sqlToks) = 0 THEN 0.0
       |               ELSE CAST(len(list_filter($sqlToks, t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
       |                    / CAST(len($sqlToks) AS DOUBLE) END) * 5.0, 1.0) * 0.3""".stripMargin

  /** Deterministic k-means CTE chain reproducing [[Similarity.kmeans]]
    * exactly: `${pfx}c0` = the k lowest-id vectors; each iteration
    * assigns every vector to its argmax-cosine centroid (ties to the
    * lowest cid, the max_by twin) and recenters with the SAME fixed-point
    * quantization as quantizedCentroids (floor(x*2^20) integer sums —
    * order-independent, so both engines compute identical doubles), cast
    * to FLOAT like the Scala loop. A cluster that empties keeps its
    * previous centroid (COALESCE), mirroring the retention rule. `pfx`
    * namespaces the CTEs so several instances (e.g. one per PQ subspace)
    * compose in one query; `vecExpr` selects the trained vector (full
    * embedding, or a subspace slice). Final centroids: `${pfx}c$iters`. */
  private def sqlKmeansCte(k: Int, iters: Int, pfx: String = "",
                           vecExpr: String = "embedding"): String = {
    val init =
      s"""${pfx}base AS (SELECT vec_id, $vecExpr AS bv FROM embeddings),
         |${pfx}c0 AS (
         |  SELECT vec_id AS cid, bv AS cv
         |  FROM (SELECT vec_id, bv FROM ${pfx}base ORDER BY vec_id LIMIT $k) t)""".stripMargin
    val steps = (1 to iters).map { it =>
      s"""${pfx}a$it AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.bv AS v, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.bv", "c.cv")} DESC, c.cid) AS rn
         |    FROM ${pfx}base e CROSS JOIN ${pfx}c${it - 1} c) t WHERE rn = 1),
         |${pfx}c${it}new AS (
         |  SELECT cid, list_transform(list(centroid ORDER BY pos), x -> CAST(x AS FLOAT)) AS cv
         |  FROM (
         |    SELECT cid, i.i AS pos,
         |           (CAST(sum(CAST(floor(CAST(v[i.i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
         |              / 1048576.0) / count(*) AS centroid
         |    FROM ${pfx}a$it CROSS JOIN LATERAL unnest(range(0, len(v))) AS i(i)
         |    GROUP BY cid, i.i) t
         |  GROUP BY cid),
         |${pfx}c$it AS (
         |  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
         |  FROM ${pfx}c${it - 1} p LEFT JOIN ${pfx}c${it}new n ON p.cid = n.cid)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id FROM documents GROUP BY md5(text)",

    "q_dedup_exact_rows" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn = 1""".stripMargin,

    "q_minhash_bands" ->
      s"""WITH ${bandCte(DedupBands, DedupRows)}
         |SELECT doc_id, band_key FROM bandsrc""".stripMargin,

    "q_minhash_dedup" ->
      s"""WITH ${bandCte(DedupBands, DedupRows)},
         |dominated AS (
         |  SELECT DISTINCT a.doc_id FROM bandsrc a JOIN bandsrc b
         |    ON a.band_key = b.band_key AND a.doc_id > b.doc_id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dominated)""".stripMargin,

    "q_minhash_by_source" -> {
      val p = GraftFunctions.HashP
      val sigExprs = GraftFunctions.minhashCoeffs(8).map { case (a, b) =>
        s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
      }.mkString("[", ", ", "]")
      s"""WITH $shingleCte,
         |hsrc AS (
         |  SELECT doc_id, list_transform(sg, e -> ${sqlMd5Long("e")} % $p) AS hs
         |  FROM sh WHERE len(sg) > 0),
         |sig AS (SELECT doc_id, $sigExprs AS sig FROM hsrc)
         |SELECT d.source, i.i AS pos, min(s.sig[i.i + 1]) AS sigval
         |FROM documents d JOIN sig s ON d.doc_id = s.doc_id
         |CROSS JOIN (SELECT unnest(range(0, 8)) AS i) AS i
         |GROUP BY d.source, i.i""".stripMargin
    },

    "q_neardup_jaccard" ->
      s"""WITH ${bandCte(PairBands, PairRows)},
         |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsrc a JOIN bandsrc b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
         |            ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |                 / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) END AS jaccard_sim
         |FROM cand JOIN shd sa ON doc_a = sa.doc_id JOIN shd sb ON doc_b = sb.doc_id
         |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.4""".stripMargin,

    // the q_neardup_jaccard scored stream, filtered at each curve
    // threshold and unioned with the threshold literal
    "q_dedup_yield_curve" -> {
      val arms = Seq("0.4", "0.6", "0.8").map(t =>
        s"SELECT CAST($t AS DOUBLE) AS threshold, " +
          s"CAST(count(*) AS BIGINT) AS n_pairs, " +
          s"CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped " +
          s"FROM scored WHERE jaccard_sim >= $t")
        .mkString("\nUNION ALL\n")
      s"""WITH ${bandCte(PairBands, PairRows)},
         |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsrc a JOIN bandsrc b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
         |         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |              / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) END AS jaccard_sim
         |  FROM cand JOIN shd sa ON doc_a = sa.doc_id
         |       JOIN shd sb ON doc_b = sb.doc_id)
         |$arms""".stripMargin
    },

    // minhash calibration: bandCte supplies the identical signatures —
    // the estimate (matching components / 16), the exact Jaccard, the
    // quantized abs error and the mean all replay term for term
    "q_minhash_accuracy" -> {
      val k = PairBands * PairRows
      s"""WITH ${bandCte(PairBands, PairRows)},
         |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh
         |        WHERE len(sg) > 0),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsrc a JOIN bandsrc b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |pr AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(list_sum(list_transform(range(0, $k), i ->
         |      CASE WHEN ga.sig[i+1] = gb.sig[i+1] THEN 1 ELSE 0 END))
         |      AS DOUBLE) / $k AS est,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |      AS exact
         |  FROM cand c
         |  JOIN sig ga ON c.doc_a = ga.doc_id
         |  JOIN sig gb ON c.doc_b = gb.doc_id
         |  JOIN shd sa ON c.doc_a = sa.doc_id
         |  JOIN shd sb ON c.doc_b = sb.doc_id),
         |eqs AS (
         |  SELECT CAST(floor(abs(est - exact) * 1.0E9) AS BIGINT) AS eq
         |  FROM pr)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(eq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1.0E9
         |         AS mean_abs_err,
         |       (CAST(sum(eq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1.0E9
         |         <= 0.15) AS within_bound
         |FROM eqs""".stripMargin
    },

    // snapshot diff: identical planted slices; status from join
    // membership (doc_id is non-null), hash compare null-safe
    "q_corpus_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, md5(text) AS h_prev
        |  FROM documents WHERE doc_id % 10 <> 0),
        |cur AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |                  ELSE text END) AS h_cur
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |       CASE WHEN p.doc_id IS NULL THEN 'added'
        |            WHEN c.doc_id IS NULL THEN 'removed'
        |            WHEN p.h_prev IS NOT DISTINCT FROM c.h_cur THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       p.h_prev, c.h_cur
        |FROM prev p FULL JOIN cur c ON p.doc_id = c.doc_id""".stripMargin,

    // exact Jaccard join: the oracle is the NAIVE all-pairs posting
    // join — no prefix filter — so the Spark side's candidate pruning
    // must lose nothing to match. Integer threshold arithmetic:
    // J ≥ 2/5 ⇔ 7·inter ≥ 2·(s_a + s_b).
    "q_jaccard_join" ->
      s"""WITH $shingleCte,
         |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh),
         |posts AS (SELECT doc_id, unnest(sh) AS tok FROM shd),
         |pair AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS inter
         |  FROM posts a JOIN posts b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS s FROM shd)
         |SELECT doc_a, doc_b, inter, sa.s + sb.s - inter AS union_sz
         |FROM pair JOIN sz sa ON doc_a = sa.doc_id
         |          JOIN sz sb ON doc_b = sb.doc_id
         |WHERE inter * 7 >= (sa.s + sb.s) * 2""".stripMargin,

    // containment: naive ordered-pairs posting join — every (a,b) with
    // a shared shingle, kept when inter·5 ≥ s_a·3 (denominator is |A|
    // alone; both directions may appear independently)
    "q_containment_join" ->
      s"""WITH $shingleCte,
         |shd AS (SELECT doc_id, list_distinct(sg) AS sh FROM sh),
         |posts AS (SELECT doc_id, unnest(sh) AS tok FROM shd),
         |pair AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS inter
         |  FROM posts a JOIN posts b ON a.tok = b.tok AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS s FROM shd)
         |SELECT doc_a, doc_b, inter, sa.s AS s_a, sb.s AS s_b
         |FROM pair JOIN sz sa ON doc_a = sa.doc_id
         |          JOIN sz sb ON doc_b = sb.doc_id
         |WHERE inter * 5 >= sa.s * 3""".stripMargin,

    // winnowing: right-anchored ROWS BETWEEN 3 PRECEDING window min per
    // position ≥ 3; docs shorter than one window keep every hash (the
    // SWA boundary rule) — selection mirrored clause for clause
    "q_winnow" ->
      s"""WITH $shingleCte,
         |pos AS (
         |  SELECT doc_id, i AS p, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i)),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |      FROM pos GROUP BY 1),
         |wm AS (
         |  SELECT doc_id, p, h,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
         |  FROM pos),
         |sel AS (
         |  SELECT DISTINCT wm.doc_id,
         |         CASE WHEN n.n_grams < 4 THEN wm.h ELSE wm.wmin END AS h
         |  FROM wm JOIN n USING (doc_id)
         |  WHERE p >= 3 OR n.n_grams < 4)
         |SELECT s.doc_id, n.n_grams,
         |       CAST(count(DISTINCT s.h) AS BIGINT) AS n_selected
         |FROM sel s JOIN n USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    // winnowed posting self-join with the substr_dedup df-cap (2..64);
    // shared ≥ 2 selected fingerprints ⇒ candidate pair
    "q_winnow_pairs" ->
      s"""WITH $shingleCte,
         |pos AS (
         |  SELECT doc_id, i AS p, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i)),
         |n AS (SELECT doc_id, count(*) AS n_grams FROM pos GROUP BY 1),
         |wm AS (
         |  SELECT doc_id, p, h,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
         |  FROM pos),
         |sel AS (
         |  SELECT DISTINCT wm.doc_id,
         |         CASE WHEN n.n_grams < 4 THEN wm.h ELSE wm.wmin END AS h
         |  FROM wm JOIN n USING (doc_id)
         |  WHERE p >= 3 OR n.n_grams < 4),
         |capped AS (
         |  SELECT h FROM (SELECT h, count(*) AS df FROM sel GROUP BY 1)
         |  WHERE df >= 2 AND df <= 64),
         |g AS (SELECT sel.* FROM sel JOIN capped USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(count(*) AS BIGINT) AS shared
         |FROM g a JOIN g b USING (h) WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // min-label propagation as a chained CTE (l0..l5), one CTE per round
    // — the bounded recurrence is deterministic so both engines replay it
    "q_neardup_components" ->
      s"""WITH $componentsCte
         |SELECT node AS doc_id, label AS component FROM l5""".stripMargin,

    // components + quality join + per-component argmax pick: the
    // representative-selection step (keep best member, drop the rest)
    "q_component_rep" ->
      s"""WITH $componentsCte,
         |comp AS (SELECT node AS doc_id, label AS component FROM l5),
         |q AS (SELECT doc_id, $sqlQuality AS quality FROM documents),
         |j AS (
         |  SELECT c.component, c.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY c.component
         |           ORDER BY q.quality DESC, c.doc_id) AS rn,
         |         count(*) OVER (PARTITION BY c.component) AS nm
         |  FROM comp c JOIN q ON c.doc_id = q.doc_id)
         |SELECT component, doc_id AS rep_doc, quality AS rep_quality,
         |       CAST(nm AS BIGINT) AS n_members
         |FROM j WHERE rn = 1""".stripMargin,

    // contamination: per-doc DISTINCT 3-grams on both slices, equi-join
    // on the n-gram, per-pair shared count ≥ 2, frac = shared over the
    // BENCH doc's distinct n-gram count — both engines dedup per doc
    // (array_distinct ⇔ SELECT DISTINCT + unnest) and divide the same
    // two BIGINTs in DOUBLE once
    "q_contamination" ->
      s"""WITH $shingleCte,
         |$contaminationCte
         |SELECT ov.train_id, ov.bench_id, ov.n_shared,
         |       CAST(ov.n_shared AS DOUBLE) / CAST(bn.n_bench AS DOUBLE) AS frac
         |FROM ov JOIN bn USING (bench_id)""".stripMargin,

    // the stateless gate twin: per-pair list_intersect of pre-distinct
    // md5-hashed n-gram lists (both engines dedup per doc, then hash
    // with the shared 60-bit md5-long before intersecting)
    "q_contam_gate" ->
      s"""WITH $shingleCte,
         |tr AS (SELECT doc_id AS train_id,
         |              list_transform(list_distinct(sg),
         |                             e -> ${sqlMd5Long("e")}) AS dsg
         |       FROM sh WHERE doc_id % 97 <> 0),
         |be AS (SELECT doc_id AS bench_id,
         |              list_transform(list_distinct(sg),
         |                             e -> ${sqlMd5Long("e")}) AS bsg
         |       FROM sh WHERE doc_id % 97 = 0),
         |p AS (
         |  SELECT train_id, bench_id,
         |         CAST(len(list_intersect(dsg, bsg)) AS BIGINT) AS n_shared
         |  FROM tr CROSS JOIN be)
         |SELECT train_id, bench_id, n_shared FROM p WHERE n_shared >= 2""".stripMargin,

    // posting-list twin: per-id distinct hashed n-grams on both sides,
    // equi-join on the hash, per-pair count — the count IS the intersect
    // size because both sides are distinct per id
    "q_contam_postings" ->
      s"""WITH $shingleCte,
         |tr AS (SELECT DISTINCT doc_id AS train_id,
         |              unnest(list_transform(list_distinct(sg),
         |                                    e -> ${sqlMd5Long("e")})) AS h
         |       FROM sh WHERE doc_id % 97 <> 0),
         |be AS (SELECT DISTINCT doc_id AS bench_id,
         |              unnest(list_transform(list_distinct(sg),
         |                                    e -> ${sqlMd5Long("e")})) AS h
         |       FROM sh WHERE doc_id % 97 = 0)
         |SELECT train_id, bench_id, count(*) AS n_shared
         |FROM tr JOIN be USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // production-width contamination (w=8, minShared=1): same pair
    // pipeline as q_contamination over 8-gram spans
    "q_contam_w8" ->
      s"""WITH ${shingleCteW(8)},
         |tr AS (SELECT DISTINCT doc_id AS train_id, unnest(sg) AS s
         |       FROM sh WHERE doc_id % 97 <> 0),
         |be AS (SELECT DISTINCT doc_id AS bench_id, unnest(sg) AS s
         |       FROM sh WHERE doc_id % 97 = 0),
         |bn AS (SELECT bench_id, count(*) AS n_bench FROM be GROUP BY 1),
         |ov AS (
         |  SELECT train_id, bench_id, count(*) AS n_shared
         |  FROM tr JOIN be USING (s) GROUP BY 1, 2
         |  HAVING count(*) >= 1)
         |SELECT ov.train_id, ov.bench_id, ov.n_shared,
         |       CAST(ov.n_shared AS DOUBLE) / CAST(bn.n_bench AS DOUBLE) AS frac
         |FROM ov JOIN bn USING (bench_id)""".stripMargin,

    // within-corpus twin: positional 8-gram self-join over the
    // singleton-pruned df-capped posting list, a < b pair orientation,
    // same diagonal run extension
    "q_substr_dedup" ->
      s"""WITH ${shingleCteW(8)},
         |pos AS (
         |  SELECT doc_id, i AS p, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i)),
         |pairable AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1)
         |  WHERE df >= 2 AND df <= 64),
         |g AS (SELECT pos.* FROM pos JOIN pairable USING (h)),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa,
         |         a.p - b.p AS diag
         |  FROM g a JOIN g b USING (h) WHERE a.doc_id < b.doc_id),
         |r AS (
         |  SELECT doc_a, doc_b, diag,
         |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
         |                                 ORDER BY pa) AS run
         |  FROM m),
         |rl AS (
         |  SELECT doc_a, doc_b, count(*) AS rl
         |  FROM r GROUP BY doc_a, doc_b, diag, run)
         |SELECT doc_a, doc_b, CAST(max(rl) + 7 AS BIGINT) AS span_len
         |FROM rl GROUP BY 1, 2""".stripMargin,

    // positional 8-gram matches, diagonal (ti - bj) run grouping via the
    // row_number difference trick, longest run + 7 = span tokens
    "q_contam_span" ->
      s"""WITH ${shingleCteW(8)},
         |tpos AS (
         |  SELECT doc_id AS train_id, i AS ti, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i) WHERE doc_id % 97 <> 0),
         |bpos AS (
         |  SELECT doc_id AS bench_id, i AS bj, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i) WHERE doc_id % 97 = 0),
         |m AS (
         |  SELECT train_id, bench_id, ti, ti - bj AS diag
         |  FROM tpos JOIN bpos USING (h)),
         |r AS (
         |  SELECT train_id, bench_id, diag,
         |         ti - row_number() OVER (PARTITION BY train_id, bench_id, diag
         |                                 ORDER BY ti) AS run
         |  FROM m),
         |rl AS (
         |  SELECT train_id, bench_id, count(*) AS rl
         |  FROM r GROUP BY train_id, bench_id, diag, run)
         |SELECT train_id, bench_id, CAST(max(rl) + 7 AS BIGINT) AS span_len
         |FROM rl GROUP BY 1, 2""".stripMargin,

    "q_decontaminate" ->
      s"""WITH $shingleCte,
         |$contaminationCte,
         |pairs AS (
         |  SELECT ov.train_id,
         |         CAST(ov.n_shared AS DOUBLE) / CAST(bn.n_bench AS DOUBLE) AS frac,
         |         ov.n_shared
         |  FROM ov JOIN bn USING (bench_id))
         |SELECT train_id, max(frac) AS worst_frac, max(n_shared) AS max_shared,
         |       count(*) AS n_bench_hit
         |FROM pairs GROUP BY 1""".stripMargin,

    "q_simhash_pairs" -> {
      val w = SimHashWidth / SimHashBands
      val mask = (1L << w) - 1L
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |h AS (
         |  SELECT doc_id,
         |         COALESCE(list_sum(list_transform(range(0, $SimHashWidth), b ->
         |           CASE WHEN COALESCE(list_sum(list_transform(tk, t ->
         |                  CASE WHEN (${sqlMd5Long("t")} >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         |                THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END)), 0) AS sh
         |  FROM toks WHERE tk IS NOT NULL),
         |probes AS (
         |  SELECT doc_id, sh, bidx, (sh >> CAST(bidx * $w AS INT)) & $mask AS band_bits
         |  FROM h CROSS JOIN (SELECT unnest(range(0, $SimHashBands)) AS bidx) AS bs)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
         |FROM probes a JOIN probes b
         |  ON a.bidx = b.bidx AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= $SimHashMaxDist""".stripMargin
    },

    "q_embed_neardup" ->
      s"""WITH idx AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${sqlCos("a.embedding", "b.embedding")} AS cos
         |FROM idx a JOIN idx b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.2""".stripMargin,

    // SemDeDup: retrain the k=SemK codebook via the shared kmeans CTE
    // chain, then mirror assign → centrality rank → within-cluster
    // exists-screen exactly (cosines and ranks are bit-identical doubles
    // on both engines, so kept flags match row-for-row)
    "q_semdedup" ->
      s"""WITH ${sqlKmeansCte(SemK, IvfIters, pfx = "sd_")},
         |assigned AS (
         |  SELECT vec_id, v, cid, ccos FROM (
         |    SELECT e.vec_id, e.bv AS v, c.cid, ${sqlCos("e.bv", "c.cv")} AS ccos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.bv", "c.cv")} DESC, c.cid) AS rn
         |    FROM sd_base e CROSS JOIN sd_c$IvfIters c) t WHERE rn = 1),
         |ranked AS (
         |  SELECT vec_id, v, cid,
         |         row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, vec_id) AS rnk
         |  FROM assigned),
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM ranked x JOIN ranked y ON x.cid = y.cid AND y.rnk < x.rnk
         |  WHERE ${sqlCos("x.v", "y.v")} >= $SemEps)
         |SELECT r.vec_id, r.cid, CAST(r.rnk AS BIGINT) AS rnk,
         |       (d.vec_id IS NULL) AS kept
         |FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id""".stripMargin,

    // D4: the q_semdedup chain, then re-rank the KEPT rows per cluster
    // by centrality (sem rnk order) and drop the first
    // floor(ProtoFrac · n_kept) — same IEEE floor on both engines
    "q_d4" ->
      s"""WITH ${sqlKmeansCte(SemK, IvfIters, pfx = "sd_")},
         |assigned AS (
         |  SELECT vec_id, v, cid, ccos FROM (
         |    SELECT e.vec_id, e.bv AS v, c.cid, ${sqlCos("e.bv", "c.cv")} AS ccos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.bv", "c.cv")} DESC, c.cid) AS rn
         |    FROM sd_base e CROSS JOIN sd_c$IvfIters c) t WHERE rn = 1),
         |ranked AS (
         |  SELECT vec_id, v, cid,
         |         row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, vec_id) AS rnk
         |  FROM assigned),
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM ranked x JOIN ranked y ON x.cid = y.cid AND y.rnk < x.rnk
         |  WHERE ${sqlCos("x.v", "y.v")} >= $SemEps),
         |proto AS (
         |  SELECT vec_id,
         |         row_number() OVER (PARTITION BY cid ORDER BY rnk) AS pr,
         |         count(*) OVER (PARTITION BY cid) AS n_c
         |  FROM ranked r
         |  WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = r.vec_id))
         |SELECT r.vec_id, r.cid, (d.vec_id IS NULL) AS kept_sem,
         |       coalesce(p.pr > CAST(floor($ProtoFrac * p.n_c) AS BIGINT), FALSE)
         |         AS kept
         |FROM ranked r
         |LEFT JOIN dropped d ON r.vec_id = d.vec_id
         |LEFT JOIN proto p ON r.vec_id = p.vec_id""".stripMargin,

    "q_ann_bruteforce" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
         |FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,

    // mirrors Similarity.matryoshkaOverlap: both rankings brute-force
    // exact cosine (full vs [1:16] prefix), tie-break on vec_id
    "q_matryoshka" ->
      s"""WITH q AS (SELECT embedding AS qv, embedding[1:16] AS qp
         |           FROM embeddings WHERE vec_id = 0),
         |f AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |      WHERE e.vec_id <> 0
         |      ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id
         |      LIMIT 10),
         |p AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |      WHERE e.vec_id <> 0
         |      ORDER BY ${sqlCos("e.embedding[1:16]", "q.qp")} DESC, e.vec_id
         |      LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k, CAST(16 AS BIGINT) AS prefix_dim,
         |       CAST(count(*) AS BIGINT) AS n_overlap,
         |       CAST(count(*) AS DOUBLE) / 10.0 AS overlap_frac
         |FROM f JOIN p USING (vec_id)""".stripMargin,

    // SQ8: per-dim [min,max] from the same positional unnest, byte code
    // via floor+clamp into 256 bins, bin-center reconstruction, and
    // fixed-point (floor(term·1e9) BIGINT) score partials so the
    // per-vector sum is order-independent integer math on both engines
    "q_ann_sq8" ->
      s"""WITH ex AS (
         |  SELECT vec_id, u.d AS d, u.x AS x FROM (
         |    SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
         |             i -> {'d': i, 'x': CAST(embedding[i+1] AS DOUBLE)})) AS u
         |    FROM embeddings)),
         |mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         |qv AS (SELECT d, x AS qd FROM ex WHERE vec_id = 0),
         |tq AS (
         |  SELECT e.vec_id,
         |         CAST(floor(qv.qd * (mm.mn +
         |           (CAST(CASE WHEN mm.mx = mm.mn THEN 0
         |                 ELSE least(255, greatest(0,
         |                   CAST(floor((e.x - mm.mn) / (mm.mx - mm.mn) * 256.0)
         |                        AS BIGINT))) END AS DOUBLE) + 0.5)
         |             * (mm.mx - mm.mn) / 256.0) * 1.0E9) AS BIGINT) AS tq
         |  FROM ex e JOIN mm USING (d) JOIN qv USING (d)
         |  WHERE e.vec_id <> 0)
         |SELECT vec_id, CAST(sum(tq) AS DOUBLE) / 1.0E9 AS sq_score
         |FROM tq GROUP BY 1
         |ORDER BY sq_score DESC, vec_id LIMIT 10""".stripMargin,

    // SQ8 recall guardrail: recall computed identically (rounding-free
    // ID-set intersection), floor_ok emitted as LITERAL true — a recall
    // collapse below the Spark-side floor breaks the hash compare
    "q_ann_sq8_recall" ->
      s"""WITH ex AS (
         |  SELECT vec_id, u.d AS d, u.x AS x FROM (
         |    SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
         |             i -> {'d': i, 'x': CAST(embedding[i+1] AS DOUBLE)})) AS u
         |    FROM embeddings)),
         |mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         |qv AS (SELECT d, x AS qd FROM ex WHERE vec_id = 0),
         |tq AS (
         |  SELECT e.vec_id,
         |         CAST(floor(qv.qd * (mm.mn +
         |           (CAST(CASE WHEN mm.mx = mm.mn THEN 0
         |                 ELSE least(255, greatest(0,
         |                   CAST(floor((e.x - mm.mn) / (mm.mx - mm.mn) * 256.0)
         |                        AS BIGINT))) END AS DOUBLE) + 0.5)
         |             * (mm.mx - mm.mn) / 256.0) * 1.0E9) AS BIGINT) AS tq
         |  FROM ex e JOIN mm USING (d) JOIN qv USING (d)
         |  WHERE e.vec_id <> 0),
         |approx AS (
         |  SELECT vec_id, CAST(sum(tq) AS DOUBLE) / 1.0E9 AS sq_score
         |  FROM tq GROUP BY 1
         |  ORDER BY sq_score DESC, vec_id LIMIT 10),
         |qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |brute AS (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN qe
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${sqlCos("e.embedding", "qe.qv")} DESC, e.vec_id LIMIT 10)
         |SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10,
         |       true AS floor_ok
         |FROM approx JOIN brute USING (vec_id)""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH idx AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, ${sqlBucket("embedding")} AS bucket FROM embeddings WHERE vec_id = 0)
         |SELECT idx.vec_id, ${sqlCos("idx.embedding", "q.qv")} AS cos
         |FROM idx JOIN q ON idx.bucket = q.bucket
         |ORDER BY cos DESC, idx.vec_id LIMIT 20""".stripMargin,

    // bruteForceTopK ranks the WHOLE corpus (vec_id 0 included, cos ≈ 1)
    "q_ann_brute_lib" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
         |FROM embeddings e CROSS JOIN q
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,

    // ranked multi-probe: per-plane boundary distances of the query, the
    // 2 closest-boundary bit flips, then a bucket-IN probe — bitwise twin
    // of lshTopK's driver-side probe-set computation
    "q_ann_lsh_ranked" -> {
      val pdRows = (0 until NPlanes).map { h =>
        s"SELECT $h AS h, ${sqlPlaneDot(h, "q.qv")} AS dot FROM q"
      }.mkString("\n  UNION ALL ")
      s"""WITH idx AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, ${sqlBucket("embedding")} AS qb FROM embeddings WHERE vec_id = 0),
         |pd AS (
         |  $pdRows),
         |flips AS (SELECT h FROM pd ORDER BY abs(dot), h LIMIT 2),
         |probes AS (
         |  SELECT DISTINCT bucket FROM (
         |    SELECT qb AS bucket FROM q
         |    UNION ALL
         |    SELECT xor(q.qb, CAST(1 AS BIGINT) << f.h) AS bucket
         |    FROM q CROSS JOIN flips f))
         |SELECT idx.vec_id, ${sqlCos("idx.embedding", "q.qv")} AS cos
         |FROM idx JOIN probes p ON idx.bucket = p.bucket CROSS JOIN q
         |ORDER BY cos DESC, idx.vec_id LIMIT 20""".stripMargin
    },

    // lshTopK multiprobe: the query bucket PLUS every hamming-1 neighbor
    // (qb XOR 1<<h for each plane) — the twin of lshTopK's probe array
    "q_ann_lsh_probes" ->
      s"""WITH idx AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, ${sqlBucket("embedding")} AS qb FROM embeddings WHERE vec_id = 0),
         |probes AS (
         |  SELECT DISTINCT bucket FROM (
         |    SELECT qb AS bucket FROM q
         |    UNION ALL
         |    SELECT xor(qb, CAST(1 AS BIGINT) << h) AS bucket
         |    FROM q CROSS JOIN (SELECT unnest(range(0, $NPlanes)) AS h) hs))
         |SELECT idx.vec_id, ${sqlCos("idx.embedding", "q.qv")} AS cos
         |FROM idx JOIN probes p ON idx.bucket = p.bucket CROSS JOIN q
         |ORDER BY cos DESC, idx.vec_id LIMIT 20""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.embedding AS v, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN embeddings c WHERE c.vec_id < 16) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv, cid AS qcid FROM assigned WHERE vec_id = 0)
         |SELECT a.vec_id, ${sqlCos("a.v", "q.qv")} AS cos
         |FROM assigned a JOIN q ON a.cid = q.qcid
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,

    "q_pq_encode" ->
      s"""WITH $sqlPqCtes
         |SELECT vec_id, code_0, code_1 FROM enc""".stripMargin,

    // ADC: per-row score = dot(q_sub0, centroid(code_0)) +
    // dot(q_sub1, centroid(code_1)) — the query stays full-precision
    "q_pq_adc" ->
      s"""WITH $sqlPqCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |       (${sqlDot("q.qv[1:len(q.qv)//2]", "c0.cv")}
         |          + ${sqlDot("q.qv[len(q.qv)//2+1:len(q.qv)]", "c1.cv")}) AS adc_score
         |FROM enc e
         |JOIN s0_r c0 ON e.code_0 = c0.code
         |JOIN s1_r c1 ON e.code_1 = c1.code
         |CROSS JOIN q
         |ORDER BY adc_score DESC, e.vec_id LIMIT 10""".stripMargin,

    // two-stage: ADC candidate CTE (codes exclude the query id, exactly
    // like the Spark side), exact-cosine re-rank of the 20 candidates
    "q_ann_pq_refined" ->
      s"""WITH $sqlPqCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |adc AS (
         |  SELECT e.vec_id
         |  FROM enc e
         |  JOIN s0_r c0 ON e.code_0 = c0.code
         |  JOIN s1_r c1 ON e.code_1 = c1.code
         |  CROSS JOIN q
         |  WHERE e.vec_id <> 0
         |  ORDER BY (${sqlDot("q.qv[1:len(q.qv)//2]", "c0.cv")}
         |              + ${sqlDot("q.qv[len(q.qv)//2+1:len(q.qv)]", "c1.cv")}) DESC,
         |           e.vec_id
         |  LIMIT 20)
         |SELECT em.vec_id, ${sqlCos("em.embedding", "q.qv")} AS cos
         |FROM embeddings em JOIN adc ON em.vec_id = adc.vec_id CROSS JOIN q
         |ORDER BY cos DESC, em.vec_id LIMIT 10""".stripMargin,

    // IVF-PQ: coarse cells + probe set re-derived exactly as q_ann_ivf /
    // q_ann_ivf_probes but as dense RANKS of the coarse centroids (the
    // argmaxRank twin), ADC scoring exactly as q_pq_adc — composed
    "q_ann_ivfpq" ->
      s"""WITH $sqlPqCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |coarse AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
         |  FROM embeddings WHERE vec_id < 16),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.embedding")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN coarse c) t
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, ${sqlCos("c.embedding", "q.qv")} AS qcos
         |    FROM coarse c CROSS JOIN q
         |    ORDER BY qcos DESC, cell LIMIT 3) p)
         |SELECT e.vec_id,
         |       (${sqlDot("q.qv[1:len(q.qv)//2]", "c0.cv")}
         |          + ${sqlDot("q.qv[len(q.qv)//2+1:len(q.qv)]", "c1.cv")}) AS adc_score
         |FROM enc e
         |JOIN cells cl ON e.vec_id = cl.vec_id
         |JOIN probes p ON cl.cell = p.cell
         |JOIN s0_r c0 ON e.code_0 = c0.code
         |JOIN s1_r c1 ON e.code_1 = c1.code
         |CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY adc_score DESC, e.vec_id LIMIT 10""".stripMargin,

    // probes = 3 centroid-nearest cells; the query vector rides along on
    // the probe rows so the final scan is a single equi-join on cid
    "q_ann_ivf_probes" ->
      s"""WITH assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.embedding AS v, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN embeddings c WHERE c.vec_id < 16) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv FROM assigned WHERE vec_id = 0),
         |probes AS (
         |  SELECT cid, qv FROM (
         |    SELECT c.vec_id AS cid, q.qv, ${sqlCos("c.embedding", "q.qv")} AS qcos
         |    FROM embeddings c CROSS JOIN q WHERE c.vec_id < 16
         |    ORDER BY qcos DESC, cid LIMIT 3) p)
         |SELECT a.vec_id, ${sqlCos("a.v", "p.qv")} AS cos
         |FROM assigned a JOIN probes p ON a.cid = p.cid
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,

    // recall@10: both sides reuse the q_ann_ivf_probes / brute CTEs and
    // intersect the ID SETS (rounding-free — membership, not scores)
    "q_ann_recall" ->
      s"""WITH assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.embedding AS v, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN embeddings c WHERE c.vec_id < 16) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv FROM assigned WHERE vec_id = 0),
         |probes AS (
         |  SELECT cid, qv FROM (
         |    SELECT c.vec_id AS cid, q.qv, ${sqlCos("c.embedding", "q.qv")} AS qcos
         |    FROM embeddings c CROSS JOIN q WHERE c.vec_id < 16
         |    ORDER BY qcos DESC, cid LIMIT 3) p),
         |approx AS (
         |  SELECT a.vec_id FROM assigned a JOIN probes p ON a.cid = p.cid
         |  WHERE a.vec_id <> 0
         |  ORDER BY ${sqlCos("a.v", "p.qv")} DESC, a.vec_id LIMIT 10),
         |brute AS (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 10)
         |SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
         |FROM approx JOIN brute USING (vec_id)""".stripMargin,

    // four q_ann_recall arms at probe counts 1..4, shared assigned/
    // brute CTEs, unioned with the probe-count literal
    "q_ann_probe_curve" -> {
      val arms = (1 to 4).map { p =>
        s"""probes$p AS (
           |  SELECT cid, qv FROM (
           |    SELECT c.vec_id AS cid, q.qv, ${sqlCos("c.embedding", "q.qv")} AS qcos
           |    FROM embeddings c CROSS JOIN q WHERE c.vec_id < 16
           |    ORDER BY qcos DESC, cid LIMIT $p) p),
           |approx$p AS (
           |  SELECT a.vec_id FROM assigned a JOIN probes$p p ON a.cid = p.cid
           |  WHERE a.vec_id <> 0
           |  ORDER BY ${sqlCos("a.v", "p.qv")} DESC, a.vec_id LIMIT 10)""".stripMargin
      }
      val unions = (1 to 4).map(p =>
        s"SELECT CAST($p AS BIGINT) AS n_probes, " +
          s"CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10 " +
          s"FROM approx$p JOIN brute USING (vec_id)")
        .mkString("\nUNION ALL\n")
      s"""WITH assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.embedding AS v, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN embeddings c WHERE c.vec_id < 16) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv FROM assigned WHERE vec_id = 0),
         |brute AS (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY ${sqlCos("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 10),
         |${arms.mkString(",\n")}
         |$unions""".stripMargin
    },

    "q_ann_ivf_trained" ->
      s"""WITH ${sqlKmeansCte(IvfK, IvfIters)},
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.embedding AS v, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN c$IvfIters c) t WHERE rn = 1),
         |q AS (SELECT v AS qv, cid AS qcid FROM assigned WHERE vec_id = 0)
         |SELECT a.vec_id, ${sqlCos("a.v", "q.qv")} AS cos
         |FROM assigned a JOIN q ON a.cid = q.qcid
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,

    "q_embed_centroid" ->
      """SELECT vec_id % 8 AS g, CAST(i.i AS BIGINT) AS pos,
        |       (CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
        |          / 1048576.0) / count(*) AS centroid,
        |       count(*) AS n
        |FROM embeddings
        |CROSS JOIN LATERAL unnest(range(0, len(embedding))) AS i(i)
        |GROUP BY 1, 2""".stripMargin,

    "q_knn_join" ->
      s"""SELECT query_id, vec_id, cos FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |         ${sqlCos("c.embedding", "q.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${sqlCos("c.embedding", "q.embedding")} DESC, c.vec_id) AS rn
         |  FROM embeddings c CROSS JOIN embeddings q
         |  WHERE c.vec_id >= 3 AND q.vec_id < 3) t
         |WHERE rn <= 3""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
         |       CAST(len($sqlToks) AS BIGINT) AS words,
         |       CAST(len($sqlAlnumToks) AS BIGINT) AS alnum_tokens,
         |       CASE WHEN text IS NULL THEN NULL
         |            ELSE CAST(COALESCE(list_sum(list_transform($sqlAlnumToks,
         |              t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS BIGINT)
         |       END AS bpe_tokens
         |FROM documents""".stripMargin,

    "q_dedup_normalized" ->
      """SELECT md5(regexp_replace(lower(nfc_normalize(text)), '[\x00-\x1F\x7F]', '', 'g')) AS content_hash,
        |       min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_text_normalize" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_raw,
        |       regexp_replace(lower(nfc_normalize(text)), '[\x00-\x1F\x7F]', '', 'g') AS norm_text,
        |       CAST(length(regexp_replace(lower(nfc_normalize(text)), '[\x00-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_norm,
        |       md5(regexp_replace(lower(nfc_normalize(text)), '[\x00-\x1F\x7F]', '', 'g')) AS norm_md5
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $sqlToks AS tk,
         |         CAST(length(text) AS DOUBLE) AS total,
         |         CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |         CASE WHEN total = 0 THEN 0.0 ELSE punct / total END AS pr,
         |         CASE WHEN len(tk) = 0 THEN 0.0
         |              ELSE CAST(len(list_filter(tk, t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |                   / CAST(len(tk) AS DOUBLE) END AS sr,
         |         CASE WHEN len(tk) = 0 THEN 0.0
         |              ELSE CAST(COALESCE(list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT))), 0) AS DOUBLE)
         |                   / CAST(len(tk) AS DOUBLE) END AS mwl,
         |         total
         |  FROM base)
         |SELECT doc_id, pr AS punct_ratio, sr AS stopword_ratio,
         |       mwl AS mean_word_len,
         |       least(total / 500.0, 1.0) * 0.4
         |         + greatest(0.0, 1.0 - pr * 5.0) * 0.3
         |         + least(sr * 5.0, 1.0) * 0.3 AS quality
         |FROM r""".stripMargin,

    "q_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, 'de' AS c, CAST(len(list_filter(tk, t -> lower(t) IN ('der','die','und','das','ist'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) AS s FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'en', CAST(len(list_filter(tk, t -> lower(t) IN ('the','and','of','to','is'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'es', CAST(len(list_filter(tk, t -> lower(t) IN ('el','la','que','los','es'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'fr', CAST(len(list_filter(tk, t -> lower(t) IN ('le','la','et','les','est'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks)
         |SELECT doc_id, CASE WHEN s IS NULL THEN NULL ELSE c END AS lang_guess FROM (
         |  SELECT doc_id, c, s, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c) AS rn FROM sc) t
         |WHERE rn = 1""".stripMargin,

    // lang-confusion: the q_lang_id scorer grouped against the declared
    // label — same score CTE, one extra aggregation
    "q_lang_confusion" ->
      s"""WITH toks AS (SELECT doc_id, lang, $sqlToks AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, 'de' AS c, CAST(len(list_filter(tk, t -> lower(t) IN ('der','die','und','das','ist'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) AS s FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'en', CAST(len(list_filter(tk, t -> lower(t) IN ('the','and','of','to','is'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'es', CAST(len(list_filter(tk, t -> lower(t) IN ('el','la','que','los','es'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks
         |  UNION ALL
         |  SELECT doc_id, 'fr', CAST(len(list_filter(tk, t -> lower(t) IN ('le','la','et','les','est'))) AS DOUBLE) / greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM toks),
         |g AS (
         |  SELECT doc_id, CASE WHEN s IS NULL THEN NULL ELSE c END AS lang_guess FROM (
         |    SELECT doc_id, c, s, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c) AS rn FROM sc) t
         |  WHERE rn = 1)
         |SELECT d.lang, g.lang_guess, CAST(count(*) AS BIGINT) AS n
         |FROM documents d JOIN g USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    // vocab = top-1000 by (count DESC, token ASC) — ORDER BY + LIMIT on
    // both engines; OOV = left-join miss; one long/long division
    "q_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |tc AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
         |v AS (SELECT tok FROM tc ORDER BY n DESC, tok LIMIT 1000)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS oov_rate
         |FROM t LEFT JOIN v ON t.tok = v.tok
         |GROUP BY 1""".stripMargin,

    // entropy terms quantized to nanonats (floor(term*1e9) AS BIGINT)
    // before the per-source sum — the kl_drift fixed-point discipline
    "q_source_entropy" ->
      """WITH sl AS (SELECT source, lang, count(*) AS n_sl FROM documents GROUP BY 1, 2),
        |s AS (SELECT *, sum(n_sl) OVER (PARTITION BY source) AS n_s FROM sl),
        |t AS (
        |  SELECT source, n_s,
        |         CAST(floor(-(CAST(n_sl AS DOUBLE) / CAST(n_s AS DOUBLE))
        |              * ln(CAST(n_sl AS DOUBLE) / CAST(n_s AS DOUBLE)) * 1e9) AS BIGINT) AS tq
        |  FROM s)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_langs,
        |       CAST(sum(tq) AS DOUBLE) / 1e9 AS entropy
        |FROM t GROUP BY 1""".stripMargin,

    // novelty: hashes on both sides, LEFT join to the reference hash
    // set, unseen = null match — identical hash, identical division
    "q_ngram_novelty" ->
      s"""WITH $shingleCte,
         |ref AS (
         |  SELECT DISTINCT ${sqlMd5Long("u.s")} AS h
         |  FROM sh CROSS JOIN LATERAL unnest(list_distinct(sg)) AS u(s)
         |  WHERE doc_id % 7 = 0),
         |dg AS (
         |  SELECT doc_id, ${sqlMd5Long("u.s")} AS h
         |  FROM sh CROSS JOIN LATERAL unnest(list_distinct(sg)) AS u(s)
         |  WHERE doc_id % 7 <> 0),
         |j AS (
         |  SELECT dg.doc_id,
         |         CASE WHEN r.h IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM dg LEFT JOIN ref r USING (h))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(unseen) AS BIGINT) AS n_unseen,
         |       CAST(sum(unseen) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |         AS novelty
         |FROM j GROUP BY 1""".stripMargin,

    // sequential email→phone→IP passes: each count runs on the text with
    // the PRIOR categories already masked, mirroring piiScrub exactly
    // markup battery: identical planted damage, identical strip chain —
    // tag regex is RE2∩Java, entity decodes applied in the same order
    // (&amp; LAST: the &amp;lt;raw plant must decode to &lt;raw, ONE
    // level), mojibake counted by exact-substring deletion
    "q_markup_strip" ->
      s"""WITH marked AS (
         |  SELECT doc_id,
         |         '<p class="x">' ||
         |         CASE WHEN doc_id % 3 = 0 THEN '<b>key</b> ' ELSE '' END ||
         |         replace(text, ' fast ', ' &lt;fast&gt; ') || '</p>' ||
         |         CASE WHEN doc_id % 5 = 0 THEN ' <br/>&nbsp;&amp;lt;raw'
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 7 = 0 THEN ' cafÃ©' ELSE '' END ||
         |         CASE WHEN doc_id % 11 = 0 THEN ' bad�char' ELSE '' END AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, t,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_replace(t, '<[^<>]*>', ' ', 'g'),
         |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |        '&#39;', ''''), '&amp;', '&'),
         |      '[ \\t\\r\\n]+', ' ', 'g')) AS clean_text,
         |    CAST(len(regexp_extract_all(t, '<[^<>]*>')) AS BIGINT) AS n_tags,
         |    CAST((length(t) - length(replace(t, 'Ã', '')))
         |       + (length(t) - length(replace(t, 'â€', ''))) / 2
         |       + (length(t) - length(replace(t, 'Â', '')))
         |       + (length(t) - length(replace(t, '�', ''))) AS BIGINT) AS n_moji
         |  FROM marked)
         |SELECT doc_id, clean_text, n_tags, n_moji, (n_moji > 0) AS mojibake
         |FROM m""".stripMargin,

    "q_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT doc_id, text AS t0,
         |         regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM documents),
         |p2 AS (
         |  SELECT doc_id, t0, t1,
         |         regexp_replace(t1, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS t2
         |  FROM p)
         |SELECT doc_id,
         |       regexp_replace(t2, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS clean_text,
         |       CAST(len(regexp_extract_all(t0, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(t1, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(t2, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips
         |FROM p2""".stripMargin,

    "q_repetition" ->
      s"""WITH $shingleCte
         |SELECT doc_id, CAST(len(sg) AS BIGINT) AS n_shingles,
         |       CASE WHEN len(sg) = 0 THEN 0.0
         |            ELSE 1.0 - CAST(len(list_distinct(sg)) AS DOUBLE)
         |                       / CAST(len(sg) AS DOUBLE) END AS rep_ratio
         |FROM sh""".stripMargin,

    // duplicate mass keyed per (doc, line/para/gram) then re-aggregated;
    // the packed max (count*1e6 + len) mirrors TextAnalysis.qualityRules'
    // single-max top-gram selection, ties to the longer gram
    "q_quality_rules" ->
      s"""WITH base AS (SELECT doc_id, text, length(text) AS n_chars FROM documents),
         |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS u FROM base),
         |lg AS (SELECT doc_id, u, count(*) AS c FROM l GROUP BY 1, 2),
         |ls AS (SELECT doc_id,
         |         CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_line_frac,
         |         sum((c - 1) * length(u)) AS dup_line_chars
         |       FROM lg GROUP BY 1),
         |p AS (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS u FROM base),
         |pg AS (SELECT doc_id, u, count(*) AS c FROM p GROUP BY 1, 2),
         |ps AS (SELECT doc_id,
         |         CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_para_frac,
         |         sum((c - 1) * length(u)) AS dup_para_chars
         |       FROM pg GROUP BY 1),
         |toks AS (SELECT doc_id, $sqlToks AS tk FROM base),
         |gr AS (SELECT doc_id, w,
         |         unnest(CASE WHEN len(tk) >= w
         |                THEN list_transform(range(0, len(tk) - w + 1),
         |                       i -> array_to_string(tk[i+1:i+w], ' '))
         |                ELSE [] END) AS g
         |       FROM toks, (SELECT unnest([2, 3, 4]) AS w) ws),
         |gg AS (SELECT doc_id, w, g, count(*) AS c FROM gr GROUP BY 1, 2, 3),
         |gv AS (SELECT doc_id, w, max(c * 1000000 + length(g)) AS v FROM gg GROUP BY 1, 2),
         |gt AS (SELECT doc_id,
         |         max(CASE WHEN w = 2 THEN v END) AS v2,
         |         max(CASE WHEN w = 3 THEN v END) AS v3,
         |         max(CASE WHEN w = 4 THEN v END) AS v4
         |       FROM gv GROUP BY 1)
         |SELECT b.doc_id, ls.dup_line_frac,
         |  CASE WHEN b.n_chars = 0 THEN 0.0
         |    ELSE CAST(ls.dup_line_chars AS DOUBLE) / b.n_chars END AS dup_line_char_frac,
         |  ps.dup_para_frac,
         |  CASE WHEN b.n_chars = 0 THEN 0.0
         |    ELSE CAST(ps.dup_para_chars AS DOUBLE) / b.n_chars END AS dup_para_char_frac,
         |  CASE WHEN b.n_chars = 0 OR gt.v2 IS NULL THEN 0.0
         |    ELSE CAST((gt.v2 // 1000000) * (gt.v2 % 1000000) AS DOUBLE) / b.n_chars END AS top2_char_frac,
         |  CASE WHEN b.n_chars = 0 OR gt.v3 IS NULL THEN 0.0
         |    ELSE CAST((gt.v3 // 1000000) * (gt.v3 % 1000000) AS DOUBLE) / b.n_chars END AS top3_char_frac,
         |  CASE WHEN b.n_chars = 0 OR gt.v4 IS NULL THEN 0.0
         |    ELSE CAST((gt.v4 // 1000000) * (gt.v4 % 1000000) AS DOUBLE) / b.n_chars END AS top4_char_frac
         |FROM base b
         |LEFT JOIN ls USING (doc_id)
         |LEFT JOIN ps USING (doc_id)
         |LEFT JOIN gt USING (doc_id)""".stripMargin,

    "q_fingerprint" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |step(doc_id, i, h) AS (
         |  SELECT doc_id, 0, CAST(0 AS BIGINT) FROM toks
         |  UNION ALL
         |  SELECT s.doc_id, s.i + 1,
         |         (s.h * 31 + (${sqlMd5Long("t.tk[s.i+1]")} % 1000000007)) % 1000000007
         |  FROM step s JOIN toks t ON s.doc_id = t.doc_id
         |  WHERE s.i < len(t.tk))
         |SELECT t.doc_id,
         |       CASE WHEN t.tk IS NULL THEN NULL
         |            ELSE md5(COALESCE(array_to_string(list_sort(list_distinct(list_transform(t.tk, x -> lower(x)))), ' '), ''))
         |       END AS fingerprint,
         |       CASE WHEN t.tk IS NULL THEN NULL ELSE s.h END AS rolling
         |FROM toks t JOIN step s ON s.doc_id = t.doc_id
         |  AND s.i = COALESCE(len(t.tk), 0)""".stripMargin,

    "q_curation" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, text,
         |         $sqlQuality AS quality
         |  FROM documents),
         |gated AS (SELECT doc_id, lang, text FROM q WHERE quality >= 0.5),
         |deduped AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM gated) t WHERE rn = 1)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(COALESCE(list_sum(list_transform($sqlAlnumToks,
         |              t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0)) AS BIGINT) AS total_bpe_tokens,
         |       min(doc_id) AS first_doc
         |FROM deduped GROUP BY lang""".stripMargin,

    // anti-join keeps NULL-hash rows on both engines (NULL never matches)
    "q_dedup_incremental" ->
      """WITH ex AS (
        |  SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
        |inc AS (
        |  SELECT md5(text) AS content_hash, min(doc_id) AS keep_id
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1)
        |SELECT inc.content_hash, inc.keep_id
        |FROM inc ANTI JOIN ex ON inc.content_hash = ex.content_hash""".stripMargin,

    // line-level boilerplate: string_split on newline (both engines keep
    // trailing empties), 60-bit md5 line hash, distinct-doc frequency
    // per hash, drop lines in > LineDedupMaxDocs docs, reassemble kept
    // lines in position order (list ORDER BY pos FILTER)
    "q_line_dedup" ->
      s"""WITH sp AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |lines AS (
         |  SELECT doc_id, i AS pos, ls[i+1] AS line,
         |         ${sqlMd5Long("ls[i+1]")} AS h
         |  FROM sp, unnest(range(0, len(ls))) AS u(i)),
         |bp AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1)
         |  WHERE n_docs > $LineDedupMaxDocs),
         |j AS (
         |  SELECT l.doc_id, l.pos, l.line, (b.h IS NOT NULL) AS is_bp
         |  FROM lines l LEFT JOIN bp b USING (h))
         |SELECT doc_id,
         |       COALESCE(array_to_string(
         |         list(line ORDER BY pos) FILTER (WHERE NOT is_bp), chr(10)),
         |         '') AS clean_text,
         |       CAST(count(*) FILTER (WHERE NOT is_bp) AS BIGINT) AS n_kept,
         |       CAST(count(*) AS BIGINT) AS n_total
         |FROM j GROUP BY 1""".stripMargin,

    // frequent-n-gram mask: folded w-shingles (fold whole text then
    // split — translate/lower never mints or eats a 0x20, so it equals
    // the per-token fold), 60-bit md5 gram hash, distinct-doc df,
    // [pos, pos+w) index-span union per doc
    "q_mask_ngrams" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |         CAST(len($sqlToks) AS BIGINT) AS n_tokens,
         |         list_filter(string_split(
         |           lower(translate(text, 'İΣ', 'iσ')), ' '),
         |           t -> len(t) > 0) AS ftk
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(ftk) >= $ShingleW
         |              THEN list_transform(range(0, len(ftk) - $ShingleW + 1),
         |                     i -> array_to_string(ftk[i+1:i+$ShingleW], ' '))
         |              ELSE [] END AS sg
         |  FROM tk),
         |pos AS (
         |  SELECT doc_id, i AS pos, ${sqlMd5Long("sg[i+1]")} AS h
         |  FROM sh, unnest(range(0, len(sg))) AS u(i)),
         |fr AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1) f
         |  WHERE df > $MaskNgramMaxDf),
         |cov AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked FROM (
         |    SELECT DISTINCT p.doc_id, p.pos + j AS idx
         |    FROM pos p JOIN fr USING (h),
         |         unnest(range(0, $ShingleW)) AS v(j)) q
         |  GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |       COALESCE(c.n_masked, CAST(0 AS BIGINT)) AS n_masked,
         |       CASE WHEN t.n_tokens = 0 THEN NULL
         |            ELSE CAST(COALESCE(c.n_masked, 0) AS DOUBLE) /
         |                 CAST(t.n_tokens AS DOUBLE) END AS mask_frac
         |FROM tk t LEFT JOIN cov c USING (doc_id)""".stripMargin,

    "q_quality_cut" ->
      s"""SELECT doc_id, lang, quality FROM (
         |  SELECT doc_id, lang, quality,
         |         percent_rank() OVER (PARTITION BY lang
         |           ORDER BY quality DESC, doc_id) AS pr
         |  FROM (SELECT doc_id, lang, $sqlQuality AS quality FROM documents) t) s
         |WHERE pr <= 0.5""".stripMargin,

    "q_zipf" -> TextAnalysis.zipfOracleSql(sqlToks),

    "q_heaps" -> TextAnalysis.heapsOracleSql(sqlToks),

    "q_pmi" -> TextAnalysis.pmiOracleSql(sqlToks),

    "q_cross_source_dup" ->
      s"""WITH toks AS (
         |  SELECT source, $sqlToks AS tk FROM documents WHERE text IS NOT NULL),
         |gr AS (
         |  SELECT source, unnest(CASE WHEN len(tk) >= $ShingleW
         |         THEN list_transform(range(0, len(tk) - $ShingleW + 1),
         |                i -> array_to_string(tk[i+1:i+$ShingleW], ' '))
         |         ELSE [] END) AS g
         |  FROM toks),
         |sh AS (SELECT DISTINCT source AS src, ${sqlMd5Long("g")} AS h
         |       FROM gr),
         |p AS (
         |  SELECT a.src AS src_a, b.src AS src_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared FROM p""".stripMargin,

    // rn=1/rn=2 over (ccos DESC, cid) = own and runner-up centroid —
    // the arr[0]/arr[1] pick of the literal-array projection; quantized
    // sums and meanQSql shared text keep the doubles bit-equal
    "q_cluster_quality" ->
      s"""WITH ${sqlKmeansCte(SemK, IvfIters, pfx = "cq_")},
         |sc AS (
         |  SELECT e.vec_id, c.cid, ${sqlCos("e.bv", "c.cv")} AS ccos,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${sqlCos("e.bv", "c.cv")} DESC, c.cid) AS rn
         |  FROM cq_base e CROSS JOIN cq_c$IvfIters c),
         |own AS (SELECT vec_id, cid, ccos FROM sc WHERE rn = 1),
         |sec AS (SELECT vec_id, ccos AS ccos2 FROM sc WHERE rn = 2),
         |q AS (
         |  SELECT o.cid,
         |         CAST(floor(o.ccos * 1.0E9) AS BIGINT) AS mq,
         |         CAST(floor((o.ccos - s2.ccos2) * 1.0E9) AS BIGINT) AS gq
         |  FROM own o JOIN sec s2 USING (vec_id)),
         |g AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(mq) AS BIGINT) AS smq,
         |         CAST(sum(gq) AS BIGINT) AS sgq,
         |         CAST(min(gq) AS BIGINT) AS mingq
         |  FROM q GROUP BY 1)
         |SELECT cid, n,
         |       ${Similarity.meanQSql("smq", "n")} AS mean_cos,
         |       ${Similarity.meanQSql("sgq", "n")} AS mean_margin,
         |       CAST(mingq AS DOUBLE) / 1.0E9 AS min_margin
         |FROM g""".stripMargin,

    // same degree-ordered orientation as Graph.triangleStats; the cand
    // CTE is the canonical (a<b, distinct) LSH pair set, so no re-canon
    "q_triangles" ->
      s"""WITH ${bandCte(PairBands, PairRows)},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsrc a JOIN bandsrc b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |deg AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT doc_a AS n FROM cand
         |    UNION ALL SELECT doc_b FROM cand) u GROUP BY 1),
         |o AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND doc_a < doc_b)
         |              THEN doc_a ELSE doc_b END AS s,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND doc_a < doc_b)
         |              THEN doc_b ELSE doc_a END AS t,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND doc_a < doc_b)
         |              THEN db.deg ELSE da.deg END AS dt
         |  FROM cand JOIN deg da ON doc_a = da.n JOIN deg db ON doc_b = db.n),
         |w AS (
         |  SELECT e1.t AS t1, e2.t AS t2
         |  FROM o e1 JOIN o e2 ON e1.s = e2.s
         |    AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM w JOIN o e3 ON w.t1 = e3.s AND w.t2 = e3.t),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM cand),
         |dd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |              CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         |       FROM deg)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       ${graft.graph.Graph.ccSql("n_triangles", "n_wedges")} AS global_cc
         |FROM base CROSS JOIN dd CROSS JOIN tri""".stripMargin,

    // Wilson bound text comes from the SAME Selection.wilsonLbSql the
    // Spark plan evaluates — shared text, bit-equal doubles
    "q_source_rank" ->
      s"""WITH ps AS (
         |  SELECT source,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(*) FILTER (WHERE $sqlQuality >= 0.5) AS BIGINT) AS n_pass
         |  FROM documents GROUP BY 1)
         |SELECT source, n_docs, n_pass,
         |       ${Selection.wilsonLbSql("n_pass", "n_docs")} AS wilson_lb,
         |       CAST(row_number() OVER (
         |         ORDER BY ${Selection.wilsonLbSql("n_pass", "n_docs")} DESC,
         |           source NULLS LAST)
         |         AS BIGINT) AS rnk
         |FROM ps""".stripMargin,

    // the composed pipeline: quality gate -> mixture threshold -> dedup
    // rn=1 -> per-shard stats (n_seqs = ceil(total/budget), the packed
    // sequence count of the concatenated shard stream); every stage is
    // the already-proven oracle fragment of its standalone query
    "q_pipeline_full" ->
      s"""WITH gated AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, $sqlQuality AS quality
         |    FROM documents) t
         |  WHERE quality >= 0.5),
         |mixed AS (
         |  SELECT doc_id, lang, text FROM gated
         |  WHERE ${sqlMd5Long("'11|' || text")} % 1000000 <
         |        CASE WHEN lang = 'de' THEN 1000000
         |             WHEN lang = 'en' THEN 800000
         |             ELSE 500000 END),
         |deduped AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM mixed) t WHERE rn = 1),
         |toks AS (
         |  SELECT doc_id, lang,
         |         COALESCE(list_sum(list_transform($sqlAlnumToks,
         |           t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS n_tokens
         |  FROM deduped)
         |SELECT lang AS shard, count(*) AS n_docs,
         |       CAST((sum(n_tokens) + 255) // 256 AS BIGINT) AS n_seqs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM toks GROUP BY lang""".stripMargin,

    // chunk_idx = start//stride because starts are exactly the stride
    // multiples in ascending order (the posexplode position twin)
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents)
         |SELECT doc_id, CAST(u.st // 24 AS INT) AS chunk_idx,
         |       array_to_string(tk[CAST(u.st + 1 AS INT):CAST(u.st + 32 AS INT)], ' ') AS chunk_text,
         |       CAST(len(tk[CAST(u.st + 1 AS INT):CAST(u.st + 32 AS INT)]) AS BIGINT) AS n_tokens
         |FROM t CROSS JOIN LATERAL unnest(list_filter(range(0, len(tk)),
         |  i -> i % 24 = 0)) AS u(st)
         |WHERE len(tk) > 0""".stripMargin,

    // chunks -> stub hash embedding (media-features formula over
    // chunk_text) -> cosine vs the first chunk -> top-10
    "q_rag_topk" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |chunks AS (
         |  SELECT doc_id, CAST(u.st // 24 AS INT) AS chunk_idx,
         |         array_to_string(tk[CAST(u.st + 1 AS INT):CAST(u.st + 32 AS INT)], ' ') AS chunk_text
         |  FROM t CROSS JOIN LATERAL unnest(list_filter(range(0, len(tk)),
         |    i -> i % 24 = 0)) AS u(st)
         |  WHERE len(tk) > 0),
         |emb AS (
         |  SELECT doc_id, chunk_idx,
         |         list_transform(range(0, 16), i ->
         |           CAST(((CAST('0x'||substring(md5(chunk_text), CAST(2*(i%16)+1 AS INT), 2) AS BIGINT) * 31
         |                  + i * 17) % 256) / 255.0 - 0.5 AS FLOAT)) AS emb
         |  FROM chunks),
         |q AS (SELECT doc_id AS qd, chunk_idx AS qc, emb AS qv
         |      FROM emb ORDER BY doc_id, chunk_idx LIMIT 1)
         |SELECT e.doc_id, e.chunk_idx, ${sqlCos("e.emb", "q.qv")} AS cos
         |FROM emb e CROSS JOIN q
         |WHERE NOT (e.doc_id = q.qd AND e.chunk_idx = q.qc)
         |ORDER BY cos DESC, e.doc_id, e.chunk_idx LIMIT 10""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lower(u.t) AS term
         |  FROM documents CROSS JOIN LATERAL unnest($sqlToks) AS u(t)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf FROM (
         |  SELECT t.doc_id, t.term,
         |         t.tf * (CAST(n.n AS DOUBLE) / d.df) AS tfidf,
         |         row_number() OVER (PARTITION BY t.doc_id
         |           ORDER BY t.tf * (CAST(n.n AS DOUBLE) / d.df) DESC, t.term) AS rank
         |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n) s
         |WHERE rank <= 3""".stripMargin,

    // constants interpolated from the SAME Scala doubles the plan uses
    // (k1=1.2, b=0.75): both engines parse identical literals. True
    // log-IDF BM25; libm-vs-Math.log ulp drift is absorbed by the
    // fixed-point quantization (floor(s·10^9) AS BIGINT — the pageRank
    // trick), and the per-doc total is a FIXED-ORDER sum of BIGINT
    // conditional maxes, never a cross-row double SUM.
    "q_bm25" -> {
      val folded = BmQueryTerms.map(Retrieval.foldLowerStr).distinct
      val terms = folded.map(t => s"'$t'").mkString(", ")
      val partials = folded.map(t =>
        s"COALESCE(max(CASE WHEN term = '$t' THEN sq END), 0)")
        .mkString("\n        |       + ")
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl),
         |tok AS (SELECT doc_id, lower(u.t) AS term
         |        FROM toks CROSS JOIN LATERAL unnest(tk) AS u(t)
         |        WHERE lower(u.t) IN ($terms)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |         CAST(floor(
         |           ln(1.0 + (s.n_docs - CAST(d.df AS DOUBLE) + 0.5)
         |              / (CAST(d.df AS DOUBLE) + 0.5))
         |           * (CAST(t.tf AS DOUBLE) * ${1.2 + 1.0})
         |           / (CAST(t.tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75}
         |              + (${0.75} * CAST(l.dl AS DOUBLE)) / (s.sum_dl / s.n_docs)))
         |           * ${Retrieval.Bm25Scale}) AS BIGINT) AS sq
         |  FROM tf t JOIN dfreq d ON t.term = d.term
         |       JOIN dl l ON t.doc_id = l.doc_id CROSS JOIN stats s)
         |SELECT doc_id,
         |       CAST($partials AS DOUBLE) / ${Retrieval.Bm25Scale} AS bm25
         |FROM scored GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
    },

    "q_ngram_counts" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |sh AS (SELECT CASE WHEN len(tk) >= 2
         |              THEN list_transform(range(0, len(tk) - 1),
         |                     i -> array_to_string(tk[i+1:i+2], ' '))
         |              ELSE [] END AS sg FROM toks),
         |g AS (SELECT u.s AS ngram, count(*) AS cnt
         |      FROM sh CROSS JOIN LATERAL unnest(sg) AS u(s) GROUP BY 1)
         |SELECT ngram, cnt FROM g ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,

    // RRF fusion: the q_bm25 oracle (LIMIT 20) as the lexical arm, the
    // hashEmbed-cosine scan as the dense arm, 1/(60+rank) fused. Ranks
    // are BIGINT row_numbers on both engines; the two divisions are
    // single IEEE ops of small-integer operands, so the fused double
    // matches bit-for-bit with no rounding.
    "q_rrf_fusion" -> {
      val folded = BmQueryTerms.map(Retrieval.foldLowerStr).distinct
      val terms = folded.map(t => s"'$t'").mkString(", ")
      val partials = folded.map(t =>
        s"COALESCE(max(CASE WHEN term = '$t' THEN sq END), 0)")
        .mkString("\n        |       + ")
      val qstr = BmQueryTerms.mkString(" ")
      val emb = (x: String) =>
        s"""list_transform(range(0, 16), i ->
           |  CAST(((CAST('0x'||substring(md5($x), CAST(2*(i%16)+1 AS INT), 2) AS BIGINT) * 31
           |         + i * 17) % 256) / 255.0 - 0.5 AS FLOAT))""".stripMargin
      s"""WITH toksrc AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toksrc),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dl),
         |tok AS (SELECT doc_id, lower(u.t) AS term
         |        FROM toksrc CROSS JOIN LATERAL unnest(tk) AS u(t)
         |        WHERE lower(u.t) IN ($terms)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |         CAST(floor(
         |           ln(1.0 + (s.n_docs - CAST(d.df AS DOUBLE) + 0.5)
         |              / (CAST(d.df AS DOUBLE) + 0.5))
         |           * (CAST(t.tf AS DOUBLE) * ${1.2 + 1.0})
         |           / (CAST(t.tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75}
         |              + (${0.75} * CAST(l.dl AS DOUBLE)) / (s.sum_dl / s.n_docs)))
         |           * ${Retrieval.Bm25Scale}) AS BIGINT) AS sq
         |  FROM tf t JOIN dfreq d ON t.term = d.term
         |       JOIN dl l ON t.doc_id = l.doc_id CROSS JOIN stats s),
         |lextop AS (
         |  SELECT doc_id,
         |         CAST($partials AS DOUBLE) / ${Retrieval.Bm25Scale} AS bm25
         |  FROM scored GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
         |               AS rank_lex FROM lextop),
         |demb AS (
         |  SELECT doc_id, ${sqlCos(emb("text"), emb(s"'$qstr'"))} AS cos
         |  FROM documents WHERE text IS NOT NULL),
         |densetop AS (SELECT doc_id, cos FROM demb
         |             ORDER BY cos DESC, doc_id LIMIT 20),
         |dense AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
         |                 AS rank_dense FROM densetop),
         |fused AS (
         |  SELECT doc_id, rank_lex, rank_dense,
         |         COALESCE(1.0 / CAST(60 + rank_lex AS DOUBLE), 0.0)
         |         + COALESCE(1.0 / CAST(60 + rank_dense AS DOUBLE), 0.0) AS rrf
         |  FROM lex FULL JOIN dense USING (doc_id))
         |SELECT doc_id, rank_lex, rank_dense, rrf
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },

    // bigram LM score: Laplace-smoothed ln((c2+1)/(c1+V)) per bigram,
    // quantized to fixed-point LONGs before the per-doc sum (integer
    // adds — order-independent on both engines); V = unigram vocab size
    "q_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |uni AS (SELECT unnest(tk) AS w FROM toks),
         |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
         |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
         |bg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |         THEN list_transform(range(0, len(tk) - 1),
         |                i -> array_to_string(tk[i+1:i+2], ' '))
         |         ELSE [] END) AS bg
         |  FROM toks),
         |bgw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
         |c2 AS (SELECT bg, count(*) AS c2 FROM bgw GROUP BY 1),
         |q AS (
         |  SELECT bgw.doc_id,
         |         CAST(floor(ln((CAST(c2.c2 AS DOUBLE) + 1.0)
         |                       / (CAST(c1.c1 AS DOUBLE) + vv.v))
         |                    * 1.0E9) AS BIGINT) AS q
         |  FROM bgw JOIN c2 USING (bg) JOIN c1 ON bgw.w1 = c1.w CROSS JOIN vv)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       (CAST(sum(q) AS DOUBLE) / 1.0E9) / CAST(count(*) AS DOUBLE)
         |         AS lm_score
         |FROM q GROUP BY 1""".stripMargin,

    // CCNet terciles: the q_lm_score chain joined back to lang, then
    // bucket = (3*(rn-1)) // n per language — integer math, not ntile
    // (whose remainder rule would have to be trusted across engines)
    "q_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |uni AS (SELECT unnest(tk) AS w FROM toks),
         |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
         |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
         |bg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |         THEN list_transform(range(0, len(tk) - 1),
         |                i -> array_to_string(tk[i+1:i+2], ' '))
         |         ELSE [] END) AS bg
         |  FROM toks),
         |bgw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
         |c2 AS (SELECT bg, count(*) AS c2 FROM bgw GROUP BY 1),
         |q AS (
         |  SELECT bgw.doc_id,
         |         CAST(floor(ln((CAST(c2.c2 AS DOUBLE) + 1.0)
         |                       / (CAST(c1.c1 AS DOUBLE) + vv.v))
         |                    * 1.0E9) AS BIGINT) AS q
         |  FROM bgw JOIN c2 USING (bg) JOIN c1 ON bgw.w1 = c1.w CROSS JOIN vv),
         |scored AS (
         |  SELECT doc_id,
         |         (CAST(sum(q) AS DOUBLE) / 1.0E9) / CAST(count(*) AS DOUBLE)
         |           AS lm_score
         |  FROM q GROUP BY 1),
         |rnk AS (
         |  SELECT d.doc_id, d.lang, s.lm_score,
         |         row_number() OVER (PARTITION BY d.lang
         |           ORDER BY s.lm_score DESC, d.doc_id) AS rn,
         |         count(*) OVER (PARTITION BY d.lang) AS n
         |  FROM documents d JOIN scored s ON d.doc_id = s.doc_id
         |  WHERE d.lang IS NOT NULL)
         |SELECT doc_id, lang, lm_score,
         |       CASE (3*(rn-1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM rnk""".stripMargin,

    // cross-corpus twin: counts + vocab from the REFERENCE slice
    // (doc_id % 97 = 0), target bigrams LEFT-join them (unseen → the
    // COALESCE(0) Laplace prior), same fixed-point quantized sum
    "q_lm_score_ref" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |rt AS (SELECT tk FROM toks WHERE doc_id % 97 = 0),
         |c1 AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(tk) AS w FROM rt) GROUP BY 1),
         |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
         |c2 AS (
         |  SELECT bg, count(*) AS c2 FROM (
         |    SELECT unnest(CASE WHEN len(tk) >= 2
         |           THEN list_transform(range(0, len(tk) - 1),
         |                  i -> array_to_string(tk[i+1:i+2], ' '))
         |           ELSE [] END) AS bg
         |    FROM rt) GROUP BY 1),
         |bgw AS (
         |  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |           THEN list_transform(range(0, len(tk) - 1),
         |                  i -> array_to_string(tk[i+1:i+2], ' '))
         |           ELSE [] END) AS bg
         |    FROM toks WHERE doc_id % 97 <> 0)),
         |q AS (
         |  SELECT bgw.doc_id,
         |         CAST(floor(ln((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 1.0)
         |                       / (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + vv.v))
         |                    * 1.0E9) AS BIGINT) AS q
         |  FROM bgw LEFT JOIN c2 USING (bg) LEFT JOIN c1 ON bgw.w1 = c1.w
         |       CROSS JOIN vv)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       (CAST(sum(q) AS DOUBLE) / 1.0E9) / CAST(count(*) AS DOUBLE)
         |         AS lm_score
         |FROM q GROUP BY 1""".stripMargin,

    "q_stratified_sample" ->
      s"""SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank FROM (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${sqlMd5Long("'11|' || text")} ASC NULLS LAST, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 2""".stripMargin,

    // prefix-sum packing: pure integer window arithmetic; HUGEINT sums
    // cast back to BIGINT per the pandas-canonicalization rule
    "q_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT lang AS shard, doc_id,
         |         COALESCE(list_sum(list_transform($sqlAlnumToks,
         |           t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT shard, doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM t)
         |SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(cb // 512 AS BIGINT) AS seq_idx,
         |       CAST(cb % 512 AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,

    // thresholds are the driver-side (rate*10^6).toLong values — integer
    // compare on both engines (0.1*10^6 truncates to 100000 in Scala)
    "q_mix_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlMd5Long("'7|' || text")} % 1000000 <
         |      CASE WHEN lang = 'de' THEN 1000000
         |           WHEN lang = 'en' THEN 500000
         |           WHEN lang = 'fr' THEN 250000
         |           ELSE 100000 END""".stripMargin,

    // C4 cleaning: list_filter mirrors the line predicate (rtrim →
    // terminal punct regex → single-space word count → javascript
    // contains), page gates and sentence counts off the SAME cleaned
    // join — string ops only, no locale, no \s classes
    "q_c4_clean" ->
      s"""WITH l AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split(text, chr(10)), x ->
         |           right(rtrim(x), 1) IN ('.', '!', '?', '"')
         |           AND len(list_filter(string_split(rtrim(x), ' '),
         |                               w -> len(w) > 0)) >= 3
         |           AND NOT contains(lower(rtrim(x)), 'javascript')) AS k
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, text, k,
         |         -- array_to_string([]) is NULL in DuckDB (string_agg
         |         -- semantics) where Spark's array_join([]) is '' —
         |         -- coalesce to the Spark behavior
         |         CASE WHEN text IS NULL THEN NULL
         |              ELSE coalesce(array_to_string(k, chr(10)), '') END AS clean_text,
         |         CASE WHEN text IS NULL THEN NULL
         |              ELSE CAST(len(regexp_replace(coalesce(array_to_string(k, chr(10)), ''),
         |                                 '[^.!?]', '', 'g')) AS BIGINT)
         |         END AS n_sentences
         |  FROM l)
         |SELECT doc_id, clean_text,
         |       CAST(len(k) AS BIGINT) AS n_kept_lines,
         |       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |       n_sentences,
         |       CASE WHEN text IS NULL THEN NULL
         |            ELSE (NOT contains(lower(text), 'lorem ipsum')
         |                  AND NOT contains(text, '{')
         |                  AND n_sentences >= 5) END AS kept
         |FROM c""".stripMargin,

    // KL drift: the hashed-bucket (g,b) count is the shared base; p/q
    // division chains and the floor(p·ln(p/q)·1e9) fixed-point partials
    // mirror the engine operand-for-operand; the dense g×256 grid makes
    // unseen buckets contribute their smoothed mass on both sides
    "q_kl_drift" ->
      s"""WITH tk AS (
         |  SELECT source AS g, unnest($sqlToks) AS t
         |  FROM documents WHERE source IS NOT NULL),
         |tb AS (SELECT g, ${sqlMd5Long("'17|' || t")} % 256 AS b FROM tk),
         |gb AS (SELECT g, b, count(*) AS n_gb FROM tb GROUP BY 1, 2),
         |bt AS (SELECT r.b, coalesce(sum(gb.n_gb), 0) AS n_b
         |       FROM (SELECT unnest(range(0, 256)) AS b) r
         |       LEFT JOIN gb ON r.b = gb.b GROUP BY 1),
         |gt AS (SELECT g, sum(n_gb) AS n_g FROM gb GROUP BY 1),
         |nt AS (SELECT sum(n_gb) AS n_all FROM gb),
         |grid AS (SELECT g, n_g, unnest(range(0, 256)) AS b FROM gt),
         |pq AS (
         |  SELECT grid.g,
         |         CAST(coalesce(gb.n_gb, 0) + 1 AS DOUBLE)
         |           / CAST(grid.n_g + 256 AS DOUBLE) AS p,
         |         CAST(bt.n_b + 1 AS DOUBLE)
         |           / CAST(nt.n_all + 256 AS DOUBLE) AS q
         |  FROM grid LEFT JOIN gb ON grid.g = gb.g AND grid.b = gb.b
         |  JOIN bt ON grid.b = bt.b CROSS JOIN nt),
         |t AS (SELECT g, CAST(floor(p * ln(p / q) * 1.0E9) AS BIGINT) AS tq
         |      FROM pq)
         |SELECT g AS source, CAST(sum(tq) AS DOUBLE) / 1.0E9 AS kl_drift
         |FROM t GROUP BY 1""".stripMargin,

    // temperature mixing: fixed-point √n partials (floor(√n·1e9) longs)
    // make the cross-group sum integer math; the rate chain mirrors the
    // engine operand-for-operand (each double op correctly rounded)
    "q_temperature_sample" ->
      s"""WITH cnt AS (
         |  SELECT lang AS g, count(*) AS n,
         |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000000) AS BIGINT) AS wq
         |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         |tot AS (SELECT sum(wq) AS sw, sum(n) AS nn FROM cnt),
         |rates AS (
         |  SELECT g,
         |         CAST(floor(least(1.0,
         |           CAST(wq AS DOUBLE) / CAST(sw AS DOUBLE) * 0.5
         |             * CAST(nn AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
         |           AS BIGINT) AS th
         |  FROM cnt CROSS JOIN tot)
         |SELECT d.doc_id, d.lang FROM documents d JOIN rates r ON d.lang = r.g
         |WHERE ${sqlMd5Long("'13|' || d.text")} % 1000000 < r.th""".stripMargin,

    "q_split_assign" ->
      s"""SELECT doc_id, ${sqlMd5Long("text")} % 20 AS bucket,
         |       CASE WHEN ${sqlMd5Long("text")} % 20 = 0 THEN 'val' ELSE 'train' END AS split
         |FROM documents""".stripMargin,

    "q_split_leakproof" ->
      s"""WITH $componentsCte,
         |lk AS (
         |  SELECT d.doc_id,
         |         COALESCE(l5.label, d.doc_id) AS leak_key
         |  FROM documents d LEFT JOIN l5 ON d.doc_id = l5.node)
         |SELECT doc_id, leak_key,
         |       CASE WHEN ${sqlMd5Long("CAST(leak_key AS VARCHAR)")} % 20 = 0
         |            THEN 'val' ELSE 'train' END AS split
         |FROM lk""".stripMargin,

    "q_token_budget" ->
      s"""WITH t AS (
         |  SELECT source AS grp, doc_id,
         |         CAST(COALESCE(list_sum(list_transform($sqlAlnumToks,
         |           t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_tokens,
         |         $sqlQuality AS quality
         |  FROM documents),
         |c AS (
         |  SELECT grp, doc_id, n_tokens, quality,
         |         SUM(n_tokens) OVER (PARTITION BY grp
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT grp, doc_id, n_tokens, quality,
         |       CAST(cum AS BIGINT) AS cum_tokens,
         |       (cum <= 2000) AS kept
         |FROM c""".stripMargin,

    // media oracles are BYTE-based (encode/octet_length + hex slicing):
    // the Spark side crops the UTF-8 payload by bytes, so a char-based
    // oracle (substring/length on text) diverges on any non-ASCII doc —
    // the adversarial corpus carries one to pin this (ADVICE r3). Byte
    // slices are compared via md5(lower(hex(bytes))) because DuckDB's md5
    // only accepts VARCHAR; both engines hex-render bytes identically.
    // The payload CTE mirrors Multimodal.syntheticPayload: REAL container
    // header bytes (by doc_id residue) + utf-8 text; q_media_meta's
    // expected dims come from the residue FORMULA, independent of the
    // byte-parsing path under test (functions/MediaDims).
    // CDC chunking on the hex rendering: polynomial window-hash
    // boundaries ((fold (a*K + b) % P over the 8-byte window) % 32 = 0,
    // the qualityRules GramP discipline), cuts -> chunk slices,
    // (hash, len) share counts — the hex-string form of the native
    // functions.CdcChunks scan behind Multimodal.cdcChunkStats.
    // list_reduce seeds with the first element = Spark's aggregate
    // from 0 here, since (0*K + b0) % P = b0.
    "q_cdc_chunks" ->
      s"""$MediaPayloadCte,
         |src AS (SELECT CAST(doc_id AS BIGINT) AS media_id, ph, n_bytes,
         |               list_transform(range(1, n_bytes + 1), j ->
         |                 CAST('0x'||substring(ph, CAST(2*j-1 AS INT), 2) AS BIGINT)) AS bytes
         |        FROM pl WHERE n_bytes > 0),
         |cut AS (
         |  SELECT media_id, ph,
         |         list_concat(list_concat(
         |           [CAST(0 AS BIGINT)],
         |           list_filter(CASE WHEN n_bytes - 1 >= 8
         |                            THEN range(8, n_bytes) ELSE [] END,
         |             i -> list_reduce(bytes[i-8+1:i],
         |                    (a, b) -> (a * 1000003 + b) % 4398042316799) % 32 = 0)),
         |           [n_bytes]) AS cuts
         |  FROM src),
         |ch AS (
         |  SELECT media_id,
         |         md5(substring(ph, CAST(2*cuts[k+1] + 1 AS INT),
         |                       CAST(2*(cuts[k+2] - cuts[k+1]) AS INT))) AS ch,
         |         cuts[k+2] - cuts[k+1] AS clen
         |  FROM cut, unnest(range(0, len(cuts) - 1)) AS u(k)
         |  WHERE cuts[k+2] - cuts[k+1] > 0),
         |sh2 AS (SELECT ch, clen, count(DISTINCT media_id) AS n_media
         |        FROM ch GROUP BY 1, 2)
         |SELECT media_id,
         |       CAST(sum(clen) AS BIGINT) AS n_bytes,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE n_media >= 2) AS BIGINT) AS n_shared,
         |       CAST(coalesce(sum(clen) FILTER (WHERE n_media >= 2), 0) AS BIGINT)
         |         AS shared_bytes
         |FROM ch JOIN sh2 USING (ch, clen) GROUP BY 1""".stripMargin,

    "q_media_meta" ->
      s"""$MediaPayloadCte
         |SELECT CAST(doc_id AS BIGINT) AS media_id,
         |  CASE WHEN ph IS NULL THEN NULL
         |    WHEN doc_id % 4 = 0 THEN 'image/png' WHEN doc_id % 4 = 1 THEN 'image/jpeg'
         |    WHEN doc_id % 4 = 2 THEN 'image/gif' ELSE 'application/octet-stream' END AS mime,
         |  CASE WHEN ph IS NULL OR doc_id % 4 = 3 THEN NULL
         |    ELSE CAST(doc_id % 1920 + 1 AS INT) END AS width,
         |  CASE WHEN ph IS NULL OR doc_id % 4 = 3 THEN NULL
         |    ELSE CAST((doc_id * 7) % 1080 + 1 AS INT) END AS height,
         |  CASE WHEN ph IS NULL THEN NULL ELSE CASE doc_id % 4
         |    WHEN 0 THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT)
         |    WHEN 1 THEN CAST(8 AS INT)
         |    WHEN 2 THEN CAST(doc_id % 8 + 1 AS INT)
         |    ELSE NULL END END AS bit_depth,
         |  n_bytes
         |FROM pl""".stripMargin,

    "q_media_frames" ->
      s"""$MediaPayloadCte
         |SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(i AS INT) AS frame_idx,
         |       md5(substring(ph, CAST(i AS INT) * 64 + 1, 64)) AS frame_md5
         |FROM pl
         |CROSS JOIN LATERAL unnest(list_filter(range(0, CAST(ceil(n_bytes / 32.0) AS BIGINT)),
         |  i -> i % 2 = 0)) AS u(i)
         |WHERE n_bytes > 0""".stripMargin,

    "q_media_resize" ->
      s"""$MediaPayloadCte
         |SELECT CAST(doc_id AS BIGINT) AS media_id,
         |       CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
         |       CASE WHEN ph IS NULL THEN NULL ELSE CASE doc_id % 4
         |         WHEN 0 THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT)
         |         WHEN 1 THEN CAST(8 AS INT)
         |         WHEN 2 THEN CAST(doc_id % 8 + 1 AS INT)
         |         ELSE NULL END END AS bit_depth,
         |       -- DuckDB least() IGNORES NULL args (returns 128 for a
         |       -- NULL payload) where Spark's least propagates — guard
         |       CASE WHEN ph IS NULL THEN NULL
         |            ELSE CAST(least(n_bytes, 128) AS BIGINT) END AS n_bytes,
         |       md5(substring(ph, 1, 256)) AS payload_md5
         |FROM pl""".stripMargin,

    "q_media_features" ->
      s"""$MediaPayloadCte,
         |f AS (
         |  SELECT CAST(doc_id AS BIGINT) AS media_id,
         |         CASE WHEN ph IS NULL THEN NULL ELSE
         |           list_transform(range(0, 16), i ->
         |             CAST(((CAST('0x'||substring(md5(ph), CAST(2*(i%16)+1 AS INT), 2) AS BIGINT) * 31
         |                    + i * 17) % 256) / 255.0 - 0.5 AS FLOAT))
         |         END AS features
         |  FROM pl)
         |SELECT media_id, CAST(len(features) AS BIGINT) AS n_dims,
         |       CAST(features[1] AS DOUBLE) AS f0,
         |       list_sum(list_transform(features, x -> CAST(x AS DOUBLE))) AS fsum
         |FROM f""".stripMargin,

    // mirrors Multimodal.energyScan: 16-byte frames off the hex
    // accessor, exact integer Σ(b−128)² energies, threshold 20000
    "q_media_energy" ->
      s"""$MediaPayloadCte,
         |pm AS (SELECT CAST(doc_id AS BIGINT) AS media_id, ph, n_bytes
         |       FROM pl WHERE ph IS NOT NULL),
         |fr AS (
         |  SELECT media_id,
         |    list_transform(range(0, CAST(ceil(n_bytes / 16.0) AS BIGINT)),
         |      i -> list_sum(list_transform(
         |        range(16*i, least(16*i + 16, n_bytes)),
         |        j -> (CAST('0x' || substr(ph, CAST(2*j+1 AS INT), 2)
         |                AS BIGINT) - 128)
         |             * (CAST('0x' || substr(ph, CAST(2*j+1 AS INT), 2)
         |                AS BIGINT) - 128)))) AS es
         |  FROM pm)
         |SELECT media_id, CAST(len(es) AS BIGINT) AS n_frames,
         |  CAST(len(list_filter(es, e -> e < 20000)) AS BIGINT) AS n_silent,
         |  CAST(coalesce(list_sum(es), 0) AS BIGINT) AS energy_q,
         |  CASE WHEN len(es) = 0 THEN NULL
         |       ELSE CAST(len(list_filter(es, e -> e < 20000)) AS DOUBLE)
         |            / CAST(len(es) AS DOUBLE) END AS silence_ratio
         |FROM fr""".stripMargin,

    // mirrors Multimodal.dHash: cell i = byte floor(i·(n−1)/71) read
    // off the hex rendering, band j = Σ gradient-bit << ((r%2)·8+c)
    "q_phash" ->
      s"""$MediaPayloadCte,
         |$DhashBandsCte
         |SELECT media_id, b0, b1, b2, b3,
         |       lower(lpad(hex(b0), 4, '0') || lpad(hex(b1), 4, '0') ||
         |             lpad(hex(b2), 4, '0') || lpad(hex(b3), 4, '0'))
         |         AS phash
         |FROM b""".stripMargin,

    // mirrors Multimodal.dHashPairs: any-band-equal candidates (the
    // pigeonhole set for hamming ≤ 3), xor/bit_count verify
    "q_phash_pairs" ->
      s"""$MediaPayloadCte,
         |$DhashBandsCte
         |SELECT x.media_id AS id1, y.media_id AS id2,
         |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
         |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
         |         AS BIGINT) AS hamming
         |FROM b x JOIN b y ON x.media_id < y.media_id
         |  AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
         |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
         |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3
         |""".stripMargin
  )

  /** dHash oracle fragment: the 72-cell sampled byte grid off `pl`
    * (zero-byte payloads drop, as the Spark filter does) and the four
    * 16-bit band sums — bit constants generated from the SAME
    * (r%2)·8+c layout as Multimodal.dHash. */
  private lazy val DhashBandsCte: String = {
    def band(j: Int): String =
      (for (rr <- 0 to 1; c <- 0 to 7) yield {
        val r = 2 * j + rr
        s"(CASE WHEN g[${r * 9 + c + 1}] > g[${r * 9 + c + 2}] " +
          s"THEN ${1L << (rr * 8 + c)} ELSE 0 END)"
      }).mkString("(", " + ", ")")
    s"""g0 AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
       |         list_transform(range(0, 72), i ->
       |           CAST('0x' || substr(ph,
       |             CAST((i * (n_bytes - 1)) // 71 * 2 + 1 AS INT), 2)
       |             AS BIGINT)) AS g
       |       FROM pl WHERE n_bytes > 0),
       |b AS (SELECT media_id,
       |        CAST(${band(0)} AS BIGINT) AS b0,
       |        CAST(${band(1)} AS BIGINT) AS b1,
       |        CAST(${band(2)} AS BIGINT) AS b2,
       |        CAST(${band(3)} AS BIGINT) AS b3
       |      FROM g0)""".stripMargin
  }

  /** Payload-construction CTE shared by the media oracles — the SQL twin
    * of [[Multimodal.syntheticPayload]]: `hdr` builds the container
    * header hex per doc_id residue, `pl` appends the utf-8 text and
    * carries (ph = full payload hex, lowercase; n_bytes). */
  // NOTE: this fragment is interpolated into oracles that call
  // .stripMargin afterwards, so no line may START with `||` (the second
  // strip would eat one bar) — concatenation operators sit at line ENDS.
  private lazy val MediaPayloadCte: String =
    """WITH hdr AS (
      |  SELECT doc_id, text,
      |    CASE doc_id % 4
      |     WHEN 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452' ||
      |       lpad(hex(CAST(doc_id % 1920 + 1 AS INT)), 8, '0') ||
      |       lpad(hex(CAST((doc_id * 7) % 1080 + 1 AS INT)), 8, '0') ||
      |       (CASE WHEN doc_id % 2 = 0 THEN '08' ELSE '10' END) ||
      |       '06000000' || 'DEADBEEF'
      |     WHEN 1 THEN 'FFD8' ||
      |       'FFE0' || lpad(hex(CAST(doc_id % 8 + 16 AS INT)), 4, '0') ||
      |       repeat('00', CAST(doc_id % 8 + 14 AS INT)) ||
      |       'FFFE' || lpad(hex(CAST(doc_id % 5 + 4 AS INT)), 4, '0') ||
      |       repeat('00', CAST(doc_id % 5 + 2 AS INT)) ||
      |       'FFC0' || '000B' || '08' ||
      |       lpad(hex(CAST((doc_id * 7) % 1080 + 1 AS INT)), 4, '0') ||
      |       lpad(hex(CAST(doc_id % 1920 + 1 AS INT)), 4, '0') ||
      |       '01' || '011100'
      |     WHEN 2 THEN '474946383961' ||
      |       substring(lpad(hex(CAST(doc_id % 1920 + 1 AS INT)), 4, '0'), 3, 2) ||
      |       substring(lpad(hex(CAST(doc_id % 1920 + 1 AS INT)), 4, '0'), 1, 2) ||
      |       substring(lpad(hex(CAST((doc_id * 7) % 1080 + 1 AS INT)), 4, '0'), 3, 2) ||
      |       substring(lpad(hex(CAST((doc_id * 7) % 1080 + 1 AS INT)), 4, '0'), 1, 2) ||
      |       lpad(hex(CAST((doc_id % 8) * 16 AS INT)), 2, '0') || '0000'
      |     ELSE '' END AS hdr_hex
      |  FROM documents),
      |pl AS (
      |  SELECT doc_id, text, lower(hdr_hex || hex(encode(text))) AS ph,
      |         CAST(length(hdr_hex) // 2 + octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM hdr)""".stripMargin
}
