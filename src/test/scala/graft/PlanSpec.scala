package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan posture tests (SURVEY.md §4.3, §7.4.7): the properties
  * that make these plans survive a 100 TB scale-up, asserted against the
  * actual executed plans so regressions are caught like correctness bugs.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def explained(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  /** The (cust, part) purchase edges q_item_cf and q_adamic_adar read. */
  private def custPart: DataFrame = Tables.orders(spark, sf)
    .join(Tables.lineitem(spark, sf), col("l_orderkey") === col("o_orderkey"))
    .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))

  test("filters and column pruning reach the parquet scan") {
    // RAW read: full pushdown + exact 2-column pruning
    val raw = Tables.rawTable(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val pr = explained(raw)
    assert(pr.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed to scan:\n$pr")
    assert(pr.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned at scan:\n$pr")
    // GUARDED read (r16): user predicates still push to parquet; the
    // row-quarantine contract costs exactly the metric columns in scan
    // width (the guard must evaluate all of them to drop the row for
    // every consumer identically) and nothing else
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val p = explained(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed through the metric guard:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_tax:double>"),
      s"guarded scan must read projection + metric columns ONLY:\n$p")
  }

  test("stateless pipeline compiles to one codegen stage, zero exchanges") {
    val df = entry.CoreQueries.flagship(spark, sf)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"stateless pipeline must not shuffle:\n$p")
    // "*(1)" markers = WholeStageCodegen stage 1 spanning the whole pipeline
    assert(p.contains("*(1) Project") && p.contains("*(1) Filter"),
      s"pipeline fell out of codegen:\n$p")
  }

  test("dimension-chain join broadcasts every dim (fact side never shuffles pre-agg)") {
    val df = SparkEntry.queries("q_join_enrich")(spark, sf)
    val p = plan(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join must not sort-merge:\n$p")
  }

  test("grouped aggregation is partial (map-side combine before the exchange)") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val p = plan(df)
    // partial + final HashAggregate pair around exactly one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly one shuffle:\n$p")
  }

  test("brute-force top-k runs as TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q_ann_bruteforce")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be heap-based:\n$p")
    assert(!p.contains("Sort "), s"top-k must not global-sort:\n$p")
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // The 100 TB fact-fact join answer: bucket both tables on the join
    // key at write time; the join then needs zero exchanges.
    import spark.implicits._
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val l = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "lv")
      val r = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
      graft.sources.Sinks.writeBucketed(l, "bl", Seq("k"), nBuckets = 8)
      graft.sources.Sinks.writeBucketed(r, "br", Seq("k"), nBuckets = 8)
      val joined = spark.table("bl").join(spark.table("br"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.sql("DROP TABLE IF EXISTS bl"); spark.sql("DROP TABLE IF EXISTS br")
    }
  }

  test("range join plans as an equi-join with interval filter, never a nested loop") {
    // the equi-keys keep the shuffle keyed; the time interval must be a
    // post-join condition — a BroadcastNestedLoopJoin here would be the
    // cross-product plan that dies at scale
    val df = SparkEntry.queries("q_range_join")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"expected an equi-join:\n$p")
  }

  test("quantized centroid aggregates map-side before its single exchange") {
    val df = SparkEntry.queries("q_embed_centroid")(spark, sf)
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"centroid must shuffle exactly once (group, dim):\n$p")
  }

  test("embedding near-dup pairs join on the LSH bucket, never a nested loop") {
    // the r3 scale-killer: an all-pairs non-equi self-join is O(n²) at
    // lake scale; the LSH-bucketed form must plan as an equi-join
    val df = SparkEntry.queries("q_embed_neardup")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"embedding near-dup degenerated to a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"expected an equi-join on bucket:\n$p")
  }

  test("simhash banding joins on (band_idx, band_bits) equi-keys") {
    val df = SparkEntry.queries("q_simhash_pairs")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"simhash pairing degenerated to a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"expected an equi-join on the band key:\n$p")
  }

  test("priority sample: heap top-k, no global sort, no shuffle of the corpus") {
    val df = SparkEntry.queries("q_priority_sample")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"k-smallest must be heap-based:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"row sampling must not shuffle the corpus:\n$p")
  }

  test("retention: set-collapse then explode — no count(DISTINCT) expand plan") {
    val df = SparkEntry.queries("q_retention")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Expand"), s"distinct-user count fell into an expand plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly two shuffles (user collapse, matrix agg):\n$p")
  }

  test("count-min probe: estimate is a projection against the broadcast 1-row sketch") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch must broadcast to the probe side:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the sketch build must be the imperative-buffer aggregate:\n$p")
  }

  test("exact jaccard join: prefix-posting equi-join, per-doc windows, no cross product") {
    // the PPJoin shape: candidates come from an equi-join on the
    // prefix token, never an all-pairs compare; the (df, tok) ordering
    // is applied per doc (window PARTITION BY doc_id), so no global
    // rank sort exists anywhere in the plan. Threshold 0 forces the
    // cluster branch so its plan stays pinned
    val df = llm.Dedup.jaccardJoinPrefix(Tables.documents(spark, sf),
      col("doc_id"), col("text"), 2, 5, 3, smallInputThreshold = 0L)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"prefix-filter join degenerated to a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"expected an equi-join on the prefix token:\n$p")
    assert("windowspecdefinition\\(doc_id#".r.findFirstIn(p).isDefined,
      s"token ordering must window per doc, not globally:\n$p")
  }

  test("exact jaccard join below the size threshold: one job, one task, no exchange") {
    val df = SparkEntry.queries("q_jaccard_join")(spark, sf)
    val p = plan(df)
    assert(p.contains("MapPartitions") && !p.contains("Exchange") && !p.contains("Join"),
      s"the small regime must run the prefix join in one task:\n$p")
    val run = Bench.once(spark, sf, "q_jaccard_join", SparkEntry.queries("q_jaccard_join"))
    assert(run.error.isEmpty && run.jobs == 1 && run.stages == 1, s"$run")
  }

  test("ranked multi-probe LSH plans as a joinless bucket-IN filter") {
    // the probe set is a driver-side literal, so the corpus side needs no
    // join at all — a scan filter + TakeOrdered; against a stored index
    // table the IN predicate pushes to the reader
    val df = SparkEntry.queries("q_ann_lsh_ranked")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join"), s"ranked probe must be joinless:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be a heap, not a sort:\n$p")
  }

  test("salted join composes the salt into the join key (hot key spreads over reducers)") {
    // with broadcast off (the regime where salting matters — a dim too
    // big to broadcast), the shuffle keys must include __salt so a hot
    // key's rows spread over `salt` reducers instead of one
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_skew_join")(spark, sf)
      val p = plan(df)
      assert(p.contains("__salt"), s"join keys must include the salt:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on (key, salt):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
  }

  test("url family: parse/canon are shuffle-free projections; blocklist is a broadcast anti-join") {
    // step-zero web curation must run at scan speed: host/domain/canon
    // are pure regex projections (zero exchanges), and the blocklist —
    // kilobytes against a fact side of billions — rides broadcast so the
    // docs never shuffle
    val pp = plan(SparkEntry.queries("q_url_parse")(spark, sf))
    assert(!pp.contains("Exchange"), s"url parse must not shuffle:\n$pp")
    val pc = plan(SparkEntry.queries("q_url_canon")(spark, sf))
    assert(!pc.contains("Exchange"), s"url canonicalize must not shuffle:\n$pc")
    val pf = plan(SparkEntry.queries("q_url_filter")(spark, sf))
    assert(pf.contains("BroadcastHashJoin") && pf.contains("LeftAnti"),
      s"blocklist must be a broadcast anti-join:\n$pf")
    assert(!pf.contains("SortMergeJoin") && !pf.contains("ShuffledHashJoin"),
      s"the doc side must not shuffle for a kilobyte blocklist:\n$pf")
  }

  test("metadata-only scan over a STORED media table never reads the blob") {
    // the pruning claim is about storage: meta lives beside (not inside)
    // the payload so a metadata query prunes the blob at the reader
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    llm.Multimodal.asMediaTable(Tables.documents(spark, sf), col("doc_id"),
        llm.Multimodal.syntheticPayload(col("doc_id"), col("text")))
      .write.mode("overwrite").parquet(dir)
    val p = explained(llm.Multimodal.metaScan(spark.read.parquet(dir)))
    assert(p.contains("ReadSchema") && !p.contains("payload:binary"),
      s"payload must be pruned from a metadata scan:\n$p")
  }

  test("PQ encode is a joinless scan-speed projection; ADC top-k is heap-based") {
    val e = Tables.embeddings(spark, sf)
    val books = llm.Similarity.pqTrain(e, col("vec_id"), col("embedding"),
      m = 2, k = 4, iters = 1)
    val enc = llm.Similarity.pqEncode(e, col("vec_id"), col("embedding"), books)
    val pe = plan(enc)
    // the codebooks are literals: encoding must not join or shuffle
    assert(!pe.contains("Join") && !pe.contains("Exchange"),
      s"PQ encode must be a pure projection:\n$pe")
    assert(pe.contains("*(1) Project"), s"PQ encode fell out of codegen:\n$pe")
    val pa = plan(llm.Similarity.pqAdcTopK(enc, books,
      query = Seq.fill(64)(0.1f), k = 10))
    assert(pa.contains("TakeOrderedAndProject") && !pa.contains("Join"),
      s"ADC top-k must be a joinless heap top-k:\n$pa")
  }

  test("IVF-PQ probe scan is a prunable cell filter, no join, heap top-k") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val coarse = e.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val books = llm.Similarity.pqTrain(e, col("vec_id"), col("embedding"),
      m = 2, k = 4, iters = 1)
    // the 100 TB posture: the index is WRITTEN partitioned by cell, so
    // the driver-side probe choice becomes a partition-pruning IN filter
    // — only nProbes/|cells| of the stored index is ever read
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    llm.Similarity.pqIndex(e, col("vec_id"), col("embedding"), coarse, books)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val p = explained(llm.Similarity.ivfPqTopK(spark.read.parquet(dir),
      coarse, books, query = Seq.fill(64)(0.1f), nProbes = 2, k = 10))
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Join"),
      s"IVF-PQ must be joinless heap top-k:\n$p")
    assert(p.contains("PartitionFilters: [cell#"),
      s"probe filter must prune index partitions:\n$p")
  }

  test("pageRank above the size threshold shuffle-hashes the rank vector, never broadcasts it") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    // threshold 0 forces the large-|V| branch on this tiny graph: a
    // |V|-row rank vector must never be a broadcast build side at lake
    // scale — each broadcast is also a blocking driver job per iteration
    val pr = graph.Graph.pageRank(edges, col("s"), col("d"), iters = 2,
      smallGraphThreshold = 0L)
    val p = plan(pr)
    assert(!p.contains("BroadcastHashJoin"),
      s"rank joins must not broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"rank joins must be shuffled-hash:\n$p")
    llm.Dedup.releaseCaches()
  }

  test("pageRank below the size threshold runs the recurrence in one imperative task") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    // tiny input < default threshold: the small-graph regime runs the
    // whole recurrence imperatively inside ONE mapPartitions task over
    // the coalesced set-table — one lazy plan with exactly the dedup
    // aggregation's exchange, no joins, plan depth constant in iters
    val pr = graph.Graph.pageRank(edges, col("s"), col("d"), iters = 2)
    val p = plan(pr)
    assert(p.contains("MapPartitions"),
      s"small-graph recurrence should run in a mapPartitions task:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"small-graph plan should keep only the dedup+degree exchange:\n$p")
    assert(!p.contains("Join"),
      s"small-graph plan must not join (adjacency is in-task):\n$p")
    assert(pr.rdd.getNumPartitions == 1,
      s"small-graph result should stay single-partition")
    llm.Dedup.releaseCaches()
  }

  test("label propagation shuffle-hashes the label vector, never broadcasts it") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    // threshold 0 forces the cluster branch so its plan stays pinned
    val comps = llm.Dedup.nearDupComponents(pairs, col("a"), col("b"),
      iters = 3, smallGraphThreshold = 0L)
    val p = plan(comps)
    assert(!p.contains("BroadcastHashJoin"),
      s"label joins must not broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"label joins must be shuffled-hash:\n$p")
    llm.Dedup.releaseCaches()
  }

  test("label propagation below the size threshold runs in one imperative task") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = llm.Dedup.nearDupComponents(pairs, col("a"), col("b"), iters = 3)
    val p = plan(comps)
    assert(p.contains("MapPartitions"),
      s"small-graph recurrence should run in a mapPartitions task:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"small-graph plan should keep only the repartition exchange:\n$p")
    assert(!p.contains("Join"),
      s"small-graph plan must not join (pairs are in-task):\n$p")
    llm.Dedup.releaseCaches()
  }

  test("contamination broadcasts the benchmark n-gram side; training side never sort-merges") {
    val p = plan(SparkEntry.queries("q_contamination")(spark, sf))
    // ONE broadcast serves both the match join and the frac denominator
    // (n_bench rides the n-gram rows as a window) — the training corpus
    // is only ever scanned, exploded, and hash-aggregated
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"expected exactly the bench n-gram broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"contamination join must not sort-merge the corpus:\n$p")
  }

  test("line dedup: hash-keyed doc-frequency, equi-join decision, bounded exchanges") {
    val p = plan(SparkEntry.queries("q_line_dedup")(spark, sf))
    // the boilerplate decision must join back EQUI on the line hash —
    // never a cross join of lines × boilerplate
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"line dedup must not cross-join:\n$p")
    // doc-frequency is partial-aggregated (distinct pair, then map-side
    // combined count per hash) — a hot nav-bar hash cannot funnel raw
    // rows to one reducer
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"doc-frequency must partial-aggregate:\n$p")
    // exchanges: distinct (h, doc_id), count (h), reassembly (doc_id),
    // plus at most the probe side of the decision join — never more
    assert("Exchange".r.findAllIn(p).size <= 4,
      s"line dedup shuffles more than the minimal shape:\n$p")
  }

  test("shared-span extension seeds from an equi hash join — never all-pairs") {
    val p = plan(SparkEntry.queries("q_contam_span")(spark, sf))
    // positional w-gram matches come from the broadcast equi-join on the
    // hash: the gate and the span seeds are the same bounded row set
    assert(p.contains("BroadcastHashJoin"),
      s"span matches must broadcast-hash-join on the w-gram hash:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span extension must not enumerate doc pairs:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"span extension must not sort-merge the corpus:\n$p")
  }

  test("within-corpus substring dedup: df-gated posting self-join, never all-pairs") {
    val p = plan(SparkEntry.queries("q_substr_dedup")(spark, sf))
    // the corpus self-join must key on the w-gram hash (equi) with the
    // singleton/df gate applied BEFORE pairing — a nested loop or
    // cartesian would be the all-pairs plan this operator exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"substring dedup must not enumerate doc pairs:\n$p")
    // pair orientation is a post-join filter on an equi join, so joins
    // appear as hash joins (broadcast or shuffled) — never loops
    assert(p.contains("Join") && p.contains("hash"),
      s"expected hash-join pairing:\n$p")
  }

  test("containment join: asymmetric prefix⋈postings candidate stream, never all-pairs") {
    val p = plan(SparkEntry.queries("q_containment_join")(spark, sf))
    // A's df-ordered prefix equi-joins B's full posting list on the
    // token; the size gate (m·s_b ≥ n·s_a) rides the join filter —
    // a loop/cartesian would be the all-pairs plan the prefix avoids
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment join must not enumerate doc pairs:\n$p")
    assert(p.contains("Join") && p.contains("hash"),
      s"expected hash-join candidate generation:\n$p")
  }

  test("winnow pairs: df-capped self-join over the SPARSIFIED fingerprint relation") {
    val p = plan(SparkEntry.queries("q_winnow_pairs")(spark, sf))
    // the posting self-join keys on the selected fingerprint hash —
    // equi, df-capped, and over ~2/(w+1) of the gram postings; the
    // window min that sparsifies must be doc-partitioned (no global sort)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"winnow pairing must not enumerate doc pairs:\n$p")
    assert(!p.toLowerCase.contains("window operation! moving all data") &&
      p.contains("Window"),
      s"winnow selection must keep the doc-partitioned window:\n$p")
  }

  test("posting-list ingest gate hash-joins the broadcast postings — no cross join") {
    val p = plan(SparkEntry.queries("q_contam_postings")(spark, sf))
    // doc n-gram hashes equi-join the broadcast (hash → bench_id)
    // postings: per-doc cost is independent of |bench|, unlike the
    // array_intersect gate's per-pair cross join
    assert(p.contains("BroadcastHashJoin"),
      s"postings must broadcast-hash-join on the n-gram hash:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"postings gate must not cross-join doc × bench:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"postings gate must not sort-merge the corpus:\n$p")
  }

  test("bucketed fact⋈fact join reads co-located buckets — zero exchanges under the join") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"),
      s"bucketed twins must sort-merge (the declared 100 TB plan):\n$p")
    // the ONLY shuffle in the whole query is the final group-by — the
    // join itself reads both sides' buckets co-located (this is the
    // point: the write-time shuffle is amortized over every later join)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"bucketed join must not shuffle either side:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"neither side may broadcast (both are facts at scale):\n$p")
    val e = explained(df)
    assert(e.contains("Bucketed: true"),
      s"scan must read through the bucket spec:\n$e")
    // predicate pushdown survives the bucketed scan
    assert(e.contains("GreaterThan(l_quantity,25.0)"),
      s"filter must push to the bucketed scan:\n$e")
  }

  test("semDedup: pair screen equi-joins on the cluster id — never all-pairs") {
    val p = plan(SparkEntry.queries("q_semdedup")(spark, sf))
    // the quadratic screen must stay WITHIN clusters: an equi join on
    // cid (hash or sort-merge), never a corpus × corpus loop
    assert(!p.contains("CartesianProduct"),
      s"semDedup must not enumerate corpus pairs:\n$p")
    // the only legitimate nested-loop is the broadcast of the k·dim
    // centroid LITERAL table into the assignment scan (bounded index
    // state, the ivfAssign shape). The cached ranked subtree prints once
    // per InMemoryTableScan consumer, so count BNLJs against the centroid
    // LocalTableScans: a pair screen gone nested-loop would broadcast an
    // InMemoryTableScan side instead and break the equality
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size ==
      "LocalTableScan \\[cid".r.findAllIn(p).size,
      s"only the centroid broadcast may nested-loop:\n$p")
    // anchor the invariant structurally (ADVICE r8): the one legitimate
    // nested loop lives INSIDE the cached assignment subtree, so its
    // printed count must equal the number of cached-subtree prints
    // (InMemoryRelation occurrences) — a second, genuinely distinct
    // nested loop in the live plan would break this equality even if
    // the LocalTableScan regex above drifted in lockstep
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size ==
      "InMemoryRelation".r.findAllIn(p).size,
      s"a nested loop appeared outside the cached centroid-assignment subtree:\n$p")
    // the within-cluster screen itself is an equi join keyed on cid
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid".r
      .findFirstIn(p).isDefined,
      s"pair screen must equi-join on the cluster id:\n$p")
    // the ranked table is persisted and re-read by both self-join sides
    // (InMemoryTableScan), not recomputed from the scan per side
    assert(p.contains("InMemoryTableScan"),
      s"ranked cluster table must be cached for the self-join:\n$p")
  }

  test("d4: inherits the semDedup no-all-pairs shape; proto re-rank adds no new nested loop") {
    val p = plan(SparkEntry.queries("q_d4")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"d4 must not enumerate corpus pairs:\n$p")
    // same discipline as semDedup: every nested loop is the centroid
    // literal broadcast inside the cached assignment subtree
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size ==
      "LocalTableScan \\[cid".r.findAllIn(p).size,
      s"only the centroid broadcast may nested-loop:\n$p")
    // the dedup verdict is cached and re-read (proto rank + final join),
    // not recomputed per consumer
    assert(p.contains("InMemoryTableScan"),
      s"sem verdict must be cached for the proto re-rank:\n$p")
  }

  test("sq8: stats join broadcasts the dim-row table; corpus shuffles only for the per-vector sum") {
    val p = plan(SparkEntry.queries("q_ann_sq8")(spark, sf))
    // the dim-row stats table rides as a broadcast; the corpus side must
    // never be the built (broadcast) side
    assert(p.contains("BroadcastHashJoin"),
      s"per-dim stats must broadcast-join the exploded scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a shuffled join here means the corpus was treated as a dim table:\n$p")
    // exactly the aggregation exchanges (partial→final on vec_id), plus
    // the top-k which is TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$p")
  }

  test("temperatureSample: rate table broadcasts back; the corpus never shuffles") {
    val p = plan(SparkEntry.queries("q_temperature_sample")(spark, sf))
    // the only exchanges allowed are the per-group count aggregate (and
    // its tiny downstream artifacts); the DOCUMENTS side of the gate
    // join must be broadcast-joined, not shuffled
    assert(p.contains("BroadcastHashJoin"),
      s"derived rates must broadcast back onto the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the rate join:\n$p")
  }

  test("classifier and URL-signal scorers are zero-shuffle projections") {
    // the whole point of the hashed-linear classifier and the URL
    // structural gates is that they fuse into the scan — any Exchange
    // here would serialize the corpus for a per-row computation
    for (q <- Seq("q_quality_classifier", "q_word_filter", "q_url_quality",
        "q_url_parse", "q_url_canon")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
    }
  }

  test("bloom gate: probe side is a projection — its only join is the broadcast exact check") {
    val p = plan(SparkEntry.queries("q_bloom_gate")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"probe must not shuffle-join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"exactly one broadcast hash join (the is_dup ledger):\n$p")
    // the in-action filter build rides to the probe as a SINGLE-ROW
    // broadcast (nested-loop against one row = a projection in cost
    // terms); more than one would mean state stopped being fused
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"the 1-row filter state is the only nested-loop side:\n$p")
    // permitted hash shuffles, all on the TINY ref side: the shared ref
    // distinct (one subtree feeding both filter build and exact set —
    // ReuseExchange may or may not merge the pair depending on alias
    // canonicalization) and the word-level bit_or aggregate of the
    // in-action filter build; the probe fact itself never shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"only ref-side shuffles allowed:\n$p")
    // and none of those exchanges sits above the probe fact scan: the
    // probe branch (filter %11 <> 0) is exchange-free
    assert(!p.linesIterator.exists(l => l.contains("Exchange") &&
        l.contains("doc_id") && l.contains("NOT")),
      s"probe fact branch must be exchange-free:\n$p")
  }

  test("dsir: literal weight table broadcasts; only the per-doc sum shuffles") {
    // the 256-key counts collapse to driver state at construction (the
    // centroid discipline), so the LIVE plan is: explode → broadcast-join
    // the literal weight table → partial/final per-doc aggregate around
    // exactly one exchange. A second exchange would mean the weight
    // build leaked back into the scoring plan.
    val p = plan(SparkEntry.queries("q_dsir")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"dsir joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"weights must broadcast:\n$p")
    assert(p.contains("LocalTableScan"), s"weights must enter as a literal table:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"dsir must shuffle only for the per-doc sum:\n$p")
  }

  test("scorer kappa: both gates ride the scan projection — one reduce, no join") {
    // both boolean gates are higher-order-function projections; the only
    // exchange is the 5-long partial→final reduce to one row
    val p = plan(SparkEntry.queries("q_scorer_kappa")(spark, sf))
    assert(!p.contains("Join"), s"gates must not join per-doc frames:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"contingency must partial-aggregate:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"kappa is one reduce — a second exchange means a leaked join:\n$p")
  }

  test("wilson source rank: corpus shuffles once; rank windows the aggregate only") {
    val p = plan(SparkEntry.queries("q_source_rank")(spark, sf))
    // one hash exchange (per-source counts), one single-partition
    // exchange feeding the |sources|-row rank window — never the corpus
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"per-source counts are the only corpus shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pass counts must partial-aggregate before the exchange:\n$p")
    // the window's sort input is the aggregated table: the Sort node
    // must sit ABOVE the final HashAggregate in the plan tree (appear
    // before it in the printed top-down plan), not over the scan
    val sortIdx = p.indexOf("Sort ")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(sortIdx >= 0 && sortIdx < aggIdx,
      s"rank sort must consume the aggregate, not the corpus:\n$p")
  }

  test("zipf: lang-partitioned window over the minFreq-gated vocab, not the corpus") {
    val p = plan(SparkEntry.queries("q_zipf")(spark, sf))
    // the row_number window must be partitioned (an empty partition spec
    // would single-partition the whole vocabulary)
    assert(p.contains("windowspecdefinition(lang"),
      s"rank window must partition by lang:\n$p")
    // minFreq gate (freq >= 5) runs between the count aggregate and the
    // window: the printed tree shows Filter above the final aggregate
    val filtIdx = p.indexOf("(freq")
    assert(filtIdx >= 0, s"minFreq gate missing from the plan:\n$p")
    // token-count aggregate is partial (map-side combine collapses each
    // task to its distinct (lang, token) grams before the exchange)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"tf and regression aggregates must both be partial:\n$p")
  }

  test("k-anonymity: no window fold — class table persists, totals broadcast back") {
    val p = plan(SparkEntry.queries("q_k_anonymity")(spark, sf))
    // the r13 reshape: with near-unique quasi-identifiers the class
    // table is corpus-sized, so the suppression totals must never ride
    // an unpartitioned window (single-task sort of the class table)
    assert(!p.contains("windowspecdefinition"),
      s"corpus folds must be a 1-row aggregate, not a window:\n$p")
    // the 1-row totals join back as a broadcast nested loop, and both
    // consumers read the PERSISTED class table (one corpus groupBy)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"totals must broadcast back onto the class table:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"class table must persist across its two consumers:\n$p")
  }

  test("t-closeness: only partitioned windows — corpus total broadcasts back") {
    val p = plan(SparkEntry.queries("q_t_closeness")(spark, sf))
    // marginal/class windows stay (partitioned); the corpus total must
    // not add an unpartitioned window over the cell table
    assert(p.contains("windowspecdefinition(__s") ||
      p.contains("windowspecdefinition(source"),
      s"marginal folds must stay partitioned windows:\n$p")
    // an UNPARTITIONED spec prints its frame first — none may remain
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      s"corpus total must not ride an unpartitioned window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus total must broadcast back onto the cell table:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"cell table must persist across its two consumers:\n$p")
  }

  test("fs linkage: pair table persists, u-rates broadcast — no shuffle join, no cartesian") {
    val p = plan(SparkEntry.queries("q_fs_linkage")(spark, sf))
    assert(p.contains("Generate posexplode") &&
      p.contains("Generate explode(slice"),
      s"pairs must unroll via chained codegen generators:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"blocking must keep pair generation keyed:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the 1-row u aggregate must broadcast back:\n$p")
    // pair table feeds the u aggregate AND the scoring pass off ONE persist
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"pair table must persist across its two consumers:\n$p")
    graft.core.Caches.release()
  }

  test("preference duels: blocked array unroll — no record self-join anywhere") {
    val p = plan(SparkEntry.queries("q_duel_matrix")(spark, sf))
    assert(p.contains("Generate posexplode") &&
      p.contains("Generate explode(slice"),
      s"duels must unroll via chained codegen generators:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"duel generation must never self-join records:\n$p")
    graft.core.Caches.release()
  }

  test("curation wave plans: projections stay shuffle-free; folds broadcast") {
    // script profile / dp release: one map-combined groupBy, no joins
    val ps = plan(SparkEntry.queries("q_script_profile")(spark, sf))
    assert(!ps.contains("Join") && "Exchange".r.findAllIn(ps).size == 1,
      s"script profile must be one grouped scan:\n$ps")
    val pd = plan(SparkEntry.queries("q_dp_release")(spark, sf))
    assert(!pd.contains("Join") && "Exchange".r.findAllIn(pd).size == 1,
      s"dp release must be one grouped scan + projection:\n$pd")
    // domain reweight / unimax: corpus totals broadcast back — never a
    // shuffle join or an unpartitioned window over the corpus
    Seq("q_domain_reweight", "q_unimax").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q totals must broadcast:\n$p")
      graft.core.Caches.release()
    }
    // canary scan: zero-shuffle projection with the literal list inlined
    val pc = plan(SparkEntry.queries("q_canary_scan")(spark, sf))
    assert(!pc.contains("Exchange") && !pc.contains("Join"),
      s"canary scan must run at scan speed:\n$pc")
  }

  test("scd2: every window/exchange keys on the entity — no global sort") {
    val p = plan(SparkEntry.queries("q_scd2")(spark, sf))
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("Exchange rangepartitioning"),
      s"scd2 must never funnel or range-sort the event stream:\n$p")
    assert(p.contains("windowspecdefinition("),
      s"run detection must be window-based:\n$p")
  }

  test("fuzzy join blocks on the equi-key — levenshtein refines, never gates the join") {
    val p = plan(SparkEntry.queries("q_fuzzy_join")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking key must keep the join equi-keyed:\n$p")
    assert(p.contains("levenshtein"),
      s"the refine predicate must ride the join, not a later stage:\n$p")
  }

  test("cross-source overlap: distinct collapses before the hash-keyed pair join") {
    val p = plan(SparkEntry.queries("q_cross_source_dup")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay hash-keyed:\n$p")
    // (src, h) distinct = partial+final aggregate pair BEFORE the join
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"distinct and the pair aggregate must both partial-combine:\n$p")
  }

  test("heaps: token shuffles only — the growth points are B rows, totals broadcast") {
    val p = plan(SparkEntry.queries("q_heaps")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"the 1-row max must nest-loop-broadcast:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no doc-order sort anywhere:\n$p")
  }

  /** q_cdc_chunks' kernel over the test corpus's media table. */
  private def cdcChunks(threshold: Long): DataFrame =
    llm.Multimodal.cdcChunkStats(llm.Multimodal.asMediaTable(Tables.documents(spark, sf),
      col("doc_id"), llm.Multimodal.syntheticPayload(col("doc_id"), col("text"))),
      smallInputThreshold = threshold)

  /** `body`'s result and the ids of the jobs it ran, read from the
    * status tracker under a job group of its own. */
  private def jobsOf[T](body: => T): (T, Array[Int]) = {
    val sc = spark.sparkContext
    val group = s"plan-spec-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group))
  }

  /** The jobs `build` runs, then the jobs, stages and tasks of one
    * action over the frame it built. */
  private def buildThenRun(build: => DataFrame): (DataFrame, Int, Int, Int, Int) = {
    val sc = spark.sparkContext
    val (df, built) = jobsOf(build)
    val (_, ran) = jobsOf(df.queryExecution.toRdd.count())
    val stages = ran.toSeq.flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds.toSeq)
    val tasks = stages.flatMap(sc.statusTracker.getStageInfo(_)).map(_.numTasks).sum
    (df, built.length, ran.length, stages.length, tasks)
  }

  test("cdc chunks: boundary fold rides the projection; chunk table persists for both consumers") {
    // threshold 0 forces the cluster branch so its plan stays pinned
    val p = plan(cdcChunks(0L))
    assert(!p.contains("CartesianProduct"), s"share join must stay equi-keyed:\n$p")
    // chunk table feeds the share aggregate AND the join back — both
    // must read the persisted copy, not re-run the hex fold chain
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"chunk table must persist across its two consumers:\n$p")
  }

  test("cdc chunks: one native byte scan — no lambda, no hex rendering, no round-robin spread") {
    val p = plan(cdcChunks(0L))
    assert(p.contains("cdc_chunks("), s"boundary scan must be the native expression:\n$p")
    Seq("lambdafunction", "conv(", "lower(hex(", "RoundRobinPartitioning", "count(distinct")
      .foreach(t => assert(!p.contains(t), s"plan must not contain '$t':\n$p"))
  }

  test("cdc chunks below the size threshold: built lazily, one job, one task, no exchange") {
    val (df, built, jobs, stages, tasks) =
      buildThenRun(cdcChunks(llm.Multimodal.SmallCdcMaxBytes))
    val p = plan(df)
    assert(p.contains("MapPartitions") && p.contains("cdc_chunks(") &&
      !p.contains("Exchange") && !p.contains("Generate") && !p.contains("lambdafunction"),
      s"the small regime must chunk natively and sum in one task:\n$p")
    assert((built, jobs, stages, tasks) == ((0, 1, 1, 1)), s"$built $jobs $stages $tasks")
  }

  test("conformal below the size threshold: built lazily, one job, one task, no exchange") {
    val (df, built, jobs, stages, tasks) =
      buildThenRun(SparkEntry.queries("q_conformal")(spark, sf))
    val p = plan(df)
    assert(p.contains("MapPartitions") && !p.contains("Exchange") && !p.contains("Join"),
      s"the small regime must fit and score in one task:\n$p")
    assert((built, jobs, stages, tasks) == ((0, 1, 1, 1)), s"$built $jobs $stages $tasks")
  }

  test("conformal above the size threshold: the fit is the only construction-time action") {
    val li = Tables.lineitem(spark, sf)
    val (y, a, b) = (floor(col("l_extendedprice") * 100 + lit(0.5)),
      floor(col("l_quantity") + lit(0.5)), floor(col("l_discount") * 100 + lit(0.5)))
    val (train, calib) = (col("l_orderkey") % 5 >= 2, col("l_orderkey") % 5 === 0)
    // the ols2 fit's collect, alone (AQE runs its shuffle-map stage as a job of its own)
    val (_, fit) = jobsOf(agg.Inference.ols2(li.filter(train), y, a, b).collect())
    val (df, built, _, _, _) = buildThenRun(
      agg.Inference.conformalInterval(li, y, a, b, train, calib, smallInputThreshold = 0L))
    assert(built == fit.length, s"$built construction jobs, the fit alone runs ${fit.length}")
    val p = plan(df)
    assert(p.contains("windowspecdefinition("),
      s"q̂ must come from the calibration cumulate window:\n$p")
  }

  test("cluster quality: literal-centroid projection — no join, one cid reduce") {
    val p = plan(SparkEntry.queries("q_cluster_quality")(spark, sf))
    assert(!p.contains("Join"), s"centroids must embed as a literal array, not a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the cid aggregate is the only exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cid stats must partial-aggregate:\n$p")
  }

  test("triangles: equi-joins only (wedge join keys on the source node), oriented set cached") {
    val p = plan(SparkEntry.queries("q_triangles")(spark, sf))
    // the rank-order inequality rides a hash join on s as a post-join
    // filter — a CartesianProduct would mean the equi-key was lost
    assert(!p.contains("CartesianProduct"),
      s"wedge/closure joins must stay equi-keyed:\n$p")
    // the oriented edge set feeds wedge-build twice and the closure
    // probe once — all three must read the persisted copy
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"oriented edges must persist across their three consumers:\n$p")
  }

  test("pmi: heap-based top-k, no cartesian, totals broadcast") {
    val p = plan(SparkEntry.queries("q_pmi")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"pmi top-64 must be heap-based, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row totals must nest-loop-broadcast, never cartesian:\n$p")
  }

  test("dimStats: one exchange (the <=dim-key agg), scan prunes to the vector") {
    val p = plan(SparkEntry.queries("q_embed_dim_stats")(spark, sf))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"per-dim profile must shuffle once, on the dim key:\n$p")
    val e = explained(SparkEntry.queries("q_embed_dim_stats")(spark, sf))
    assert(e.contains("ReadSchema: struct<embedding:array<float>>"),
      s"scan must read only the vector column:\n$e")
  }

  test("hubness: corpus streams past a broadcast self-copy; dense rows via one outer join") {
    val p = plan(SparkEntry.queries("q_hubness")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the query copy must broadcast (brute-force audit contract):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"self-pairing must ride the broadcast, never a cartesian:\n$p")
  }

  test("dupInflation: cluster sizes and mass agg share the content-hash shuffle") {
    val p = plan(SparkEntry.queries("q_dup_inflation")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"the csize join must stay hash-keyed (broadcast or SHJ):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("psi: boundary array and totals broadcast back — the slice never re-shuffles for bucketing") {
    val df = SparkEntry.queries("q_psi")(spark, sf)
    val p = plan(df)
    // bucketing = size(filter(barr, ...)) against broadcast 1-row frames:
    // any SortMergeJoin means the corpus shuffled to meet the bounds
    assert(!p.contains("SortMergeJoin"),
      s"bounds/totals must broadcast, never co-shuffle the slice:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("jsSourcePairs: the pair join keys on the bucket index — equi, never all-pairs") {
    val p = plan(SparkEntry.queries("q_js_sources")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"grid self-join must stay equi-keyed on b:\n$p")
  }

  test("cooccur: window-bounded probe explode closes pairs with ONE equi-join; heap top-k") {
    val p = plan(SparkEntry.queries("q_cooccur")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-64 collocations must be heap-based:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair closure must be the (doc,pos) equi-join:\n$p")
  }

  test("kCore small regime: one exchange of raw pairs into one imperative task") {
    val p = plan(SparkEntry.queries("q_kcore")(spark, sf))
    assert(p.contains("MapPartitions"),
      s"small graph must take the imperative one-task path:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in peeling:\n$p")
  }

  test("kCore cluster regime: per-round edge sets persist; survivor joins stay equi-keyed") {
    val e = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("src"),
        (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
    val p = plan(graph.Graph.kCore(e, col("src"), col("dst"), 8, 3,
      smallGraphThreshold = 0L))
    assert(!p.contains("CartesianProduct"), s"no cartesian in peeling:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"survivor semi joins must hash, not sort (shuffle_hash hint):\n$p")
    // each round's edge set feeds its degree agg AND the next round's
    // semi joins — the final plan must read persisted copies
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"round edge sets must persist across their consumers:\n$p")
  }

  test("readability: zero-shuffle codegen projection, scan pruned to (doc_id, text)") {
    val df = SparkEntry.queries("q_readability")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"readability must not shuffle:\n$p")
    val e = explained(df)
    assert(e.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only id+text:\n$e")
  }

  test("bigram entropy: doc-keyed aggs and head-count window, no joins") {
    val p = plan(SparkEntry.queries("q_bigram_entropy")(spark, sf))
    assert(!p.contains("Join"), s"head counts ride a window, never a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"(doc,u,v) agg + (doc,u) window + doc fold — at most 3 shuffles:\n$p")
  }

  test("cusum: ONE key shuffle; the argmax is a second sort on the same partitioning") {
    val p = plan(SparkEntry.queries("q_cusum")(spark, sf))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"both window passes must share the per-key partitioning:\n$p")
    assert(!p.contains("Join"), s"no join in the changepoint scan:\n$p")
  }

  test("embed outliers: literal μ/σ state — zero-shuffle, zero-join projection") {
    val df = SparkEntry.queries("q_embed_outliers")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"score must be a pure projection:\n$p")
    assert(!p.contains("Join"), s"stats must embed as literals, not join:\n$p")
  }

  test("random projection: pair audit joins hash- or broadcast-keyed, never cartesian") {
    val p = plan(SparkEntry.queries("q_random_projection")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the panel join must broadcast/hash:\n$p")
  }

  test("quantile norm: broadcast total, equi-keyed index join, no cartesian") {
    val p = plan(SparkEntry.queries("q_quantile_norm")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("neyman allocation: corpus collapses in ONE map-combined agg; windows run on the stratum table") {
    val p = plan(SparkEntry.queries("q_neyman_alloc")(spark, sf))
    assert(!p.contains("Join"), s"no join anywhere:\n$p")
    // partial + final HashAggregate pair: the corpus-sized work is the
    // one group agg; everything after operates on ≤|strata| rows
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"group agg must map-side combine:\n$p")
  }

  test("ivf upsert: centroids and tombstones broadcast; the stored base never sort-merges") {
    for (q <- Seq("q_ann_upsert_cells", "q_ann_upsert_topk")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("SortMergeJoin"), s"$q: assignment/anti joins must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
      assert(p.contains("BroadcastExchange"), s"$q: centroid/tombstone side must broadcast:\n$p")
    }
  }

  test("pca power: the returned plan is ONE scan against the converged literal direction") {
    val df = SparkEntry.queries("q_pca_power")(spark, sf)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 1-row moment agg must broadcast into the dim spine:\n$p")
    // r16 Gram fold: the ONE corpus job (Gram matrix + n) already ran
    // at plan-authoring time and every power round collapsed to driver
    // math on the dim² matrix; the returned plan's only corpus input
    // is the final λ scan (uncached — two total passes, A/B'd parity
    // with persisting, and no corpus-sized cache pinned)
    assert(p.contains("Scan parquet") && !p.contains("InMemoryTableScan"),
      s"the final pass must be a direct scan, not a pinned cache:\n$p")
    // the literal converged direction appears inline — no second
    // corpus-derived input besides the cached projection (the "Scan
    // parquet" text inside the InMemoryRelation's recorded build plan
    // is the cache's provenance, not a live scan)
    assert(p.contains("element_at(["),
      s"converged v must re-enter as a literal array:\n$p")
    graft.core.Caches.release()
  }

  /** q_rank_eval's kernel over the test corpus, with its SQ8 stats
    * trained ahead (that eager job is not the kernel's). */
  private def rankEval(threshold: Long): (org.apache.spark.sql.SparkSession, String) => DataFrame = {
    val emb = Tables.embeddings(spark, sf)
    val stats = llm.Similarity.sqTrain(emb, col("embedding"))
    (s, d) => llm.Similarity.rankingMetrics(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), stats, 10, 20L, threshold)
  }

  test("rank eval: corpus streams past the broadcast query panel (hubness shape)") {
    // threshold 0 forces the cluster branch so its plan stays pinned
    val p = plan(rankEval(0L)(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the panel must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pairing must ride the broadcast, never a cartesian:\n$p")
  }

  test("rank eval below the size threshold: one job, one task, no exchange past the stats job") {
    val p = plan(SparkEntry.queries("q_rank_eval")(spark, sf))
    assert(p.contains("MapPartitions") && !p.contains("Exchange") && !p.contains("Join"),
      s"the small regime must score every pair in one task:\n$p")
    val run = Bench.once(spark, sf, "q_rank_eval",
      rankEval(llm.Similarity.SmallRankMaxBytes))
    assert(run.error.isEmpty && run.jobs == 1 && run.stages == 1, s"$run")
  }

  test("mask ngrams: frequent-slice equi-join, no pair joins anywhere") {
    val p = plan(SparkEntry.queries("q_mask_ngrams")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"coverage must come from equi-joins, never pairs:\n$p")
    graft.llm.Dedup.releaseCaches()
  }

  test("rank drift and ewma: single corpus shuffle, no joins") {
    for (q <- Seq("q_rank_drift", "q_ewma")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert("Scan parquet".r.findAllIn(p).size == 1,
        s"$q reads the corpus once:\n$p")
    }
  }

  test("chi2: marginals re-aggregate the CELL table; spine rides broadcasts") {
    val p = plan(SparkEntry.queries("q_chi2_indep")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"spine/total cross joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"every join side is ≤ r·c rows — nothing may sort-merge:\n$p")
    graft.core.Caches.release()
  }

  test("theil sen: the pair join runs on the DAY table, not the corpus") {
    val df = SparkEntry.queries("q_theil_sen")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"day pairing is an equi-join on k:\n$p")
    // corpus scans feed only the (k, day) count agg — 2 scan subtrees
    // (one per self-join side), each already aggregated before the join
    assert("Scan parquet".r.findAllIn(p).size <= 2, s"corpus must pre-aggregate:\n$p")
  }

  test("lof: panel broadcasts into the half-pair build; knn relation persists") {
    val df = SparkEntry.queries("q_lof")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the panel side must broadcast (hubness shape):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the kNN relation feeds kdist/reach/lrd and must persist:\n$p")
    graft.core.Caches.release()
  }

  test("lpa below the size threshold runs in one imperative task; above it never broadcasts the label vector") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val small = plan(graph.Graph.lpaCommunities(pairs, col("a"), col("b"), 3))
    assert(small.contains("MapPartitions") && !small.contains("Join"),
      s"small-graph LPA should be one imperative task:\n$small")
    val big = plan(graph.Graph.lpaCommunities(pairs, col("a"), col("b"), 3,
      smallGraphThreshold = 0L))
    assert(big.contains("ShuffledHashJoin") && !big.contains("BroadcastHashJoin"),
      s"cluster LPA must shuffle-hash the label vector:\n$big")
    graft.core.Caches.release()
  }

  test("interval overlap join is a cell equi-join, never a theta product") {
    val df = SparkEntry.queries("q_interval_join")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must not theta-join:\n$p")
    assert(p.contains("__cell"), s"join must key on the grid cell:\n$p")
  }

  test("adamic-adar: no edge self-join; pair agg is partial; top-k heap-based") {
    // threshold 0 forces the cluster branch so its plan stays pinned
    val df = graph.Graph.adamicAdar(custPart, col("cust"), col("part"), 50, 64L,
      smallGraphThreshold = 0L)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the pair set comes from the per-dst array unroll, not a second
    // self-join of the edge list: the only joins are the edge build
    // (orders×lineitem) and the deg gate — and nothing downstream of
    // the collect_set aggregation joins at all. The unroll is two
    // chained CODEGEN generators (posexplode → explode-of-slice), not
    // an interpreted nested-transform lambda
    assert(p.contains("Generate posexplode") &&
      p.contains("Generate explode(slice"),
      s"pairs must unroll via chained codegen generators:\n$p")
    val afterAgg = p.substring(0, p.indexOf("ObjectHashAggregate"))
    assert(!afterAgg.contains("Join"),
      s"nothing downstream of the set agg may join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be heap-based, not a global sort:\n$p")
    // per-pair aggregation map-combines before its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pair aggregation must be partial:\n$p")
  }

  test("snm dedup: ranking windows partition by the language block") {
    val df = SparkEntry.queries("q_snm_dedup")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"neighbor pairing must be an equi-join on (lang, rank):\n$p")
    assert(p.contains("hashpartitioning(lng"),
      s"the sort rank must distribute across language blocks:\n$p")
    graft.core.Caches.release()
  }

  test("skyline: corpus collapses per distinct x; survivors re-join broadcast") {
    val df = SparkEntry.queries("q_skyline")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny frontier must broadcast back over the points:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-x max must map-combine before the exchange:\n$p")
  }

  test("bootstrap CI: replicate means map-combine; no join in the data path") {
    val df = SparkEntry.queries("q_bootstrap_ci")(spark, sf)
    val p = plan(df)
    assert(p.contains("Generate explode"),
      s"replicates come from a bounded explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no data-path join — CIs assemble from 1-row aggregates:\n$p")
  }

  test("margin scoring: panel broadcasts (hubness shape); global top-k is heap-based") {
    val df = SparkEntry.queries("q_margin_knn")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the panel side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be heap-based:\n$p")
    graft.core.Caches.release()
  }

  test("item CF: bare pair agg; supports broadcast back — no shuffle join anywhere") {
    // threshold 0 forces the cluster branch so its plan stays pinned
    val df = graph.Graph.cooccurrenceTopK(custPart, col("cust"), col("part"), 50, 128L,
      smallGraphThreshold = 0L)
    val p = plan(df)
    assert(p.contains("Generate posexplode") &&
      p.contains("Generate explode(slice"),
      s"pairs must unroll via chained codegen generators:\n$p")
    // the candidate-sized pair stream may meet the |items|-row support
    // table only MAP-SIDE: two broadcast hash joins, never a shuffled
    // join (two post-agg shuffle joins measured 2.5x slower)
    val afterAgg = p.substring(0, p.indexOf("ObjectHashAggregate"))
    assert(!afterAgg.contains("SortMergeJoin") &&
      !afterAgg.contains("ShuffledHashJoin"),
      s"the pair stream must never shuffle-join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(afterAgg).size == 2,
      s"both support attaches must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be heap-based:\n$p")
    graft.core.Caches.release()
  }

  test("item CF and adamic-adar below the size threshold score pairs in one task") {
    // the small regime: the edge join, then the repartition(1) of the
    // edges into one sparse-accumulator task that ranks in place — no
    // pair unroll, no pair aggregate, no unpartitioned rank window
    val joinExchanges = "Exchange".r.findAllIn(plan(custPart)).size
    for (q <- Seq("q_item_cf", "q_adamic_adar")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("MapPartitions"), s"$q must score in one task:\n$p")
      assert("Exchange".r.findAllIn(p).size == joinExchanges + 1,
        s"$q must add exactly one exchange to the edge join's:\n$p")
      assert(!p.contains("Generate") && !p.contains("ObjectHashAggregate") &&
        !p.contains("Window"), s"$q must not unroll, set-aggregate or window:\n$p")
    }
  }

  test("calibration: score and label fuse into the scan — no join anywhere") {
    val df = SparkEntry.queries("q_calibration_bins")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join") || p.contains("BroadcastNestedLoopJoin"),
      s"calibration is aggs over one projection (1-row total broadcast ok):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bin aggregation must be partial:\n$p")
  }

  test("label separation: one corpus scan, centroid state broadcast — members never pair") {
    val df = SparkEntry.queries("q_label_separation")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // r16 shape: BOTH corpus jobs (centroid agg, member-cohesion scan
    // with broadcast centroid state + QDotStats9 riding the row) run
    // at plan-authoring time against domain-sized outputs; the
    // returned labels²-row result is a pure LocalRelation — no join,
    // no scan, no exchange left to mis-plan
    assert(!p.contains("SortMergeJoin") && !p.contains("Scan parquet") &&
      !p.contains("Exchange"),
      s"labels²-row result must be a LocalRelation:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"expected local result:\n$p")
    graft.core.Caches.release()
  }

  test("churn and cohort value: every window/join keys on the user or the matrix") {
    for (q <- Seq("q_churn", "q_cohort_value")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q must stay equi-keyed:\n$p")
      assert(p.contains("hashpartitioning(u") ||
        p.contains("hashpartitioning(user_id"),
        s"$q must hash on the user key:\n$p")
      graft.core.Caches.release()
    }
  }

  test("kaplan-meier: factor table broadcasts back; day windows stay domain-sized") {
    val df = SparkEntry.queries("q_survival_km")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the <=horizon-days factor array must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    graft.core.Caches.release()
  }

  test("ols: one map-combined 1-row aggregate — no join, no window in the data path") {
    val p = plan(SparkEntry.queries("q_ols")(spark, sf))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"normal-equation sums must not join:\n$p")
    assert(!p.contains("Window"), s"no window — the solve is a projection:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"power sums must map-combine before the exchange:\n$p")
  }

  test("emd drift: corpus collapses per distinct value before the CDF window") {
    val p = plan(SparkEntry.queries("q_emd_drift")(spark, sf))
    // the only join is the broadcast 1-row totals; the window input is
    // the domain-sized distinct-value relation, not the corpus
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"only the 1-row totals broadcast may join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-value slice counts must map-combine:\n$p")
    assert(p.contains("Window"), s"the CDF cumulates by window:\n$p")
  }

  test("pettitt and source ablation stay single-shuffle on their keys") {
    val pp = plan(SparkEntry.queries("q_pettitt")(spark, sf))
    assert(!pp.contains("Join"), s"pettitt is windows over one relation:\n$pp")
    assert(pp.contains("hashpartitioning(k"),
      s"rank/cumsum windows must key on the series:\n$pp")
    val pa = plan(SparkEntry.queries("q_source_ablation")(spark, sf))
    assert(!pa.contains("Join"),
      s"ablation totals fold by window over the group rows, never a corpus join:\n$pa")
    assert("HashAggregate".r.findAllIn(pa).size >= 2,
      s"group margins must map-combine:\n$pa")
  }

  test("dHash is a shuffle-free codegen projection; pairs join on band equi-keys") {
    val ph = plan(SparkEntry.queries("q_phash")(spark, sf))
    assert(!ph.contains("Exchange"), s"dHash must not shuffle:\n$ph")
    assert(!ph.contains("Join"), s"dHash is a pure projection:\n$ph")
    val pp = plan(SparkEntry.queries("q_phash_pairs")(spark, sf))
    assert(pp.contains("hashpartitioning(band_idx") ||
      pp.contains("band_idx"), s"candidates must key on the band:\n$pp")
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"),
      s"banded candidates must never all-pairs:\n$pp")
  }

  test("wordpiece stats is a shuffle-free single-pass projection") {
    val p = plan(SparkEntry.queries("q_wordpiece")(spark, sf))
    assert(!p.contains("Exchange"), s"wordpiece must not shuffle:\n$p")
    assert(!p.contains("Join"), s"wordpiece is a pure projection:\n$p")
    assert(p.contains("wordpiece_stats"), s"native expression missing:\n$p")
  }

  test("k-anonymity: one map-combined class aggregate, SortMergeJoin-free") {
    val p = plan(SparkEntry.queries("q_k_anonymity")(spark, sf))
    // totals re-attach by 1-row broadcast (r13 reshape) — never a
    // shuffled corpus join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"suppression totals must broadcast, never shuffle-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"class sizes must map-combine:\n$p")
  }

  test("kmv jaccard: pairwise stage broadcasts sketches, corpus never sort-merges") {
    val p = plan(SparkEntry.queries("q_kmv_jaccard")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"the only join is the broadcast sketch self-join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"|sources|-row pairwise stage must broadcast:\n$p")
  }

  test("media energy and dataset card are single-aggregate scans") {
    val pe = plan(SparkEntry.queries("q_media_energy")(spark, sf))
    assert(!pe.contains("Exchange") && !pe.contains("Join"),
      s"energy scan is a pure projection:\n$pe")
    assert(pe.contains("media_energy_stats"), s"native expression missing:\n$pe")
    val pc = plan(SparkEntry.queries("q_dataset_card")(spark, sf))
    assert(!pc.contains("Join"), s"card is one aggregate, no join:\n$pc")
    val pp = plan(SparkEntry.queries("q_power_analysis")(spark, sf))
    assert(!pp.contains("Join") && !pp.contains("Window"),
      s"power analysis is one map-combined 1-row aggregate:\n$pp")
    assert("HashAggregate".r.findAllIn(pp).size >= 2,
      s"power sums must map-combine:\n$pp")
  }

  test("release audit: gate+dedup+suppression chain never sort-merges or all-pairs") {
    val p = plan(SparkEntry.queries("q_release_audit")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"stage counts join as broadcast 1-row frames only:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(p.contains("Window"), s"dedup and class sizes are windows:\n$p")
  }

  test("bpe apply: corpus tokens hash-join the vocabulary, no corpus sort") {
    val p = plan(SparkEntry.queries("q_bpe_apply")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the vocab join must be a hash join:\n$p")
  }

  test("embedding ingest guard stays inside whole-stage codegen at the scan") {
    // the FiniteVector filter must not break the codegen span of a
    // downstream projection (it sits on EVERY corpus ANN scan)
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"), functions.SumSquares(col("embedding")).as("s"))
    val p = plan(df)
    assert(p.contains("*(1)"), s"guarded scan fell out of codegen:\n$p")
    assert(!p.contains("Exchange"), s"the guard must be shuffle-free:\n$p")
    assert(p.contains("is_finite_vec"), s"guard missing from the plan:\n$p")
  }

  test("norm profile: map-combined agg, window over the quantized domain only") {
    val df = SparkEntry.queries("q_embed_norm_profile")(spark, sf)
    val p = plan(df)
    // corpus work = one partial+final agg pair on the quantized norm;
    // the unpartitioned window runs AFTER that domain-sized collapse
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side combine on the norm key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"profile must be joinless:\n$p")
  }

  test("mojibake scan is a zero-join scan projection + one grouped agg") {
    val df = SparkEntry.queries("q_mojibake_scan")(spark, sf)
    val p = plan(df)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle (the source agg):\n$p")
    assert(!p.contains("Join"), s"scan must be joinless:\n$p")
  }

  test("fleiss kappa: zero shuffles — raters fold into one 1-row aggregate") {
    val df = SparkEntry.queries("q_fleiss_kappa")(spark, sf)
    val p = plan(df)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected only the final single-partition exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"kappa must be joinless and windowless:\n$p")
  }
}
