package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-iteration graph analytics on edge lists. Companion to the
  * near-dup connected components (graft.llm.Dedup.nearDupComponents):
  * the same iterate-persist-join discipline, applied to entity-importance
  * ranking.
  */
object Graph {

  /** PageRank with a FIXED iteration count — deterministic by
    * construction, so the SQL oracle unrolls the identical iterations.
    *
    * Numeric discipline: each iteration's incoming-contribution sum is a
    * cross-row double SUM, whose accumulation order differs between
    * engines/partitionings — so contributions are quantized to
    * fixed-point (floor(x·10^12) as LONG) and summed as integers,
    * exactly the quantizedCentroids trick: order-independent, overflow-
    * safe (values ≤ 1 ⇒ ≤ 10^12 per edge), bit-reproducible. The damping
    * constants are interpolated from the SAME Scala doubles the plan
    * uses, so the oracle parses identical literals (1.0 − 0.85 is NOT
    * the double "0.15").
    *
    * Scale posture: the classic iterative join pipeline — edges join the
    * rank vector on src, aggregate on dst, outer-join back to the node
    * set. Disciplines that keep it one-shuffle-per-iteration:
    *  - the WHOLE recurrence materializes in the consuming action — one
    *    Spark job, not one `count()` job per iteration (an earlier
    *    revision paid 39 jobs for 3 iterations: per-iteration
    *    materialization plus a broadcast-exchange job for every tiny
    *    join side). Rank layers are NOT persisted: each is referenced
    *    exactly once, so the linear chain computes once either way and
    *    caching it would pin iters·|V| storage for zero reuse;
    *  - out-degree is FUSED onto the edge set once — (src, dst, od)
    *    cached clustered by src — so each iteration joins one table,
    *    not two, and the cached layout already satisfies the join's
    *    distribution: the edges never re-shuffle inside the loop. At
    *    lake scale paying the edge shuffle once instead of per-iteration
    *    is the difference between O(E) and O(iters·E) network;
    *  - the execution REGIME is size-adaptive: a small input runs the
    *    whole recurrence in one task ([[SmallGraph]]). Above the
    *    threshold both joins keep cluster partitioning with a
    *    `shuffle_hash` hint: a |V|-row rank vector must NOT broadcast
    *    at 1e9 nodes (each broadcast is also a blocking driver job per
    *    round), and both sides arrive hash-clustered on the join key,
    *    so the SHJ plans with zero exchanges;
    *  - |V| is collected ONCE driver-side (one count job) — it is
    *    broadcast-scalar state like the k-means centroids, and folding
    *    `1/N` into plan literals deletes a per-iteration broadcast of a
    *    1-row aggregate. The division happens in the same IEEE double
    *    ops the oracle's `x / n.nn` performs, so values stay bit-equal.
    * Dangling nodes (no out-edges) simply don't contribute — the simple
    * PageRank variant; document, don't redistribute.
    *
    * The two genuinely multiply-referenced frames (the degree-fused
    * edge set — once per iteration — and the node set) are registered
    * with [[graft.core.Caches]]; the harness's releaseCaches() hook
    * frees them after the consuming action.
    *
    * Deep recurrences: every iteration appends two joins + an aggregate
    * to one linear plan, so analysis/optimizer time grows superlinearly
    * with `iters`. `checkpointEvery` > 0 truncates lineage every that
    * many rounds via an eager `localCheckpoint` (executor-local blocks,
    * no HDFS round-trip) — values are unchanged (the recurrence is
    * deterministic), only the plan is cut. 0 disables (right for the
    * usual 3-10 rounds).
    *
    * Returns (node, pr) for every node in the edge list. */
  def pageRank(edges: DataFrame, src: Column, dst: Column, iters: Int,
               damping: Double = 0.85,
               smallGraphThreshold: Long = SmallGraph.MaxInputBytes,
               checkpointEvery: Int = 0): DataFrame = {
    import graft.core.Caches
    val Scale = 1000000000000.0 // 10^12 fixed-point
    val e0 = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    if (SmallGraph.isSmall(edges, smallGraphThreshold)) {
      SmallGraph.run(e0, SmallGraph.Directed, "node", "pr")(
        g => smallPageRank(g, iters, damping, Scale))
    } else {
      val vHint = "shuffle_hash"
      // (src, dst, od) in ONE map-combined shuffle: groupBy(src) with a
      // partial collect_set dedups edges map-side AND yields the
      // out-degree as size(set) — one exchange instead of the earlier
      // distinct() (shuffle on (src,dst)) + count-window (second
      // shuffle on src + sort), no sort, and the output is
      // src-clustered for the iteration joins. Any od computation must
      // co-locate a node's out-edges; the residual hazard is the
      // per-key set buffer on a hot src (ObjectHashAggregate falls
      // back to sort-based on pressure), matching the window form's
      // per-group frame buffer.
      val ePlan = e0.groupBy(col("src"))
        .agg(collect_set(col("dst")).as("ds"))
        .select(col("src"),
          size(col("ds")).cast("long").as("od"), explode(col("ds")).as("dst"))
      val e = Caches.track(ePlan)
      val nodes = Caches.track(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count().toDouble
      var pr = nodes.select(col("node"), lit(1.0 / n).as("pr"))
      var i = 0
      while (i < iters) {
        // each rank layer is referenced exactly ONCE (by the next
        // iteration's join), so the recurrence is a linear plan computed
        // once by the consuming action — no persist needed (unlike label
        // propagation, whose label vector is referenced twice per round).
        val contrib = e.join(pr.hint(vHint), e("src") === pr("node"))
          .select(col("dst"),
            floor((col("pr") / col("od").cast("double")) * lit(Scale)).as("q"))
        val sums = contrib.groupBy(col("dst").as("node")).agg(sum(col("q")).as("sq"))
        pr = nodes.join(sums.hint(vHint), Seq("node"), "left")
          .select(col("node"),
            (lit((1.0 - damping) / n) + lit(damping) *
              (coalesce(col("sq"), lit(0L)).cast("double") / lit(Scale))).as("pr"))
        i += 1
        if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
          pr = pr.localCheckpoint()
      }
      pr
    }
  }

  /** The small-regime recurrence body: out-degree and the rank loop
    * over the distinct directed edges, in primitive arrays. Mirrors the
    * cluster branch's math EXACTLY so both regimes (and the SQL oracle)
    * agree bit-for-bit: per-edge contributions are `floor((pr / od) ·
    * 10^12)` quantized to LONG and summed as integers (order-
    * independent), and the damping update interpolates the same
    * driver-computed doubles `(1−d)/n` and `d` in the same op order as
    * the Column expression. */
  private def smallPageRank(g: SmallGraph.Edges, iters: Int, damping: Double,
                            Scale: Double): Iterator[(Long, Double)] = {
    val n = g.n; val m = g.m; val src = g.src; val dst = g.dst
    val od = new Array[Int](n)
    var r = 0
    while (r < m) { od(src(r)) += 1; r += 1 }
    val nD = n.toDouble
    var pr = Array.fill(n)(1.0 / nD)
    var it = 0
    while (it < iters) {
      val acc = new Array[Long](n)
      r = 0
      while (r < m) {
        val s = src(r)
        acc(dst(r)) += math.floor((pr(s) / od(s).toDouble) * Scale).toLong
        r += 1
      }
      val base = (1.0 - damping) / nD
      pr = Array.tabulate(n)(i => base + damping * (acc(i).toDouble / Scale))
      it += 1
    }
    Iterator.tabulate(n)(i => (g.id(i), pr(i)))
  }

  /** Shared SQL text of the global clustering coefficient 3T/W —
    * evaluated verbatim by both engines (the wilsonLbSql discipline).
    * A wedge-free graph (isolated edges only) leaves the coefficient
    * undefined — NULL via shared CASE text, since Spark 4 ANSI raises
    * DIVIDE_BY_ZERO even on DOUBLE division. */
  def ccSql(t: String, w: String): String =
    s"(CASE WHEN CAST($w AS DOUBLE) = 0.0 THEN NULL" +
      s" ELSE (3.0 * CAST($t AS DOUBLE)) / CAST($w AS DOUBLE) END)"

  /** Triangle census of an undirected graph via the degree-ordered
    * node-iterator (Schank & Wagner 2005; the MapReduce form is Suri &
    * Vassilvitskii WWW'11): orient every edge from its lower-rank to
    * its higher-rank endpoint with rank = (degree, node id), build
    * wedges from each source's oriented out-pairs, and close them
    * against the oriented edge set. Degree ordering bounds every
    * out-degree by O(√m), so wedge volume is O(m^1.5) worst-case
    * instead of Σ deg² — the difference between a hub node generating
    * C(deg,2) wedges and generating almost none. Each triangle is
    * counted exactly once (its rank-minimal vertex owns it).
    *
    * On the near-dup candidate graph this is cluster-quality QA: a
    * high clustering coefficient means candidates form tight cliques
    * (replica families — safe to collapse to one representative); a
    * low one means chains of borderline pairs (review the threshold
    * before transitive dedup merges distinct documents).
    *
    * Determinism: every count is an exact integer; the only double is
    * the coefficient, from shared SQL text. Scale posture: canonical
    * edges, degrees, orientation, wedges and closures are all keyed
    * hash joins/aggregates on node ids — no all-pairs, no driver
    * state; the oriented edge set persists once and feeds the wedge
    * build and the closure probe.
    *
    * Returns 1 row: (n_nodes, n_edges, n_wedges, n_triangles,
    * global_cc) — n_wedges = Σ C(deg,2), the coefficient denominator. */
  def triangleStats(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    // canon feeds THREE consumers (degrees, orientation join, edge
    // count) and typically sits on an expensive upstream (the LSH
    // candidate join) — persist it or the whole edge derivation runs
    // once per consumer; deg likewise feeds both orientation sides and
    // the wedge total. Both are released by the harness's releaseCaches.
    val canon = graft.core.Caches.track(edges.select(src.as("u"), dst.as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct())
    val deg = graft.core.Caches.track(
      canon.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")))
    // orient a→b iff (deg_a, a) < (deg_b, b); carry the head's rank key
    // so the wedge join can order its two heads without re-joining deg
    val oriented = graft.core.Caches.track(canon
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
          .otherwise(
            struct(col("b").as("s"), col("a").as("t"), col("da").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt")))
    // wedges at each source: unordered head pairs, canonicalized by the
    // SAME rank order the orientation used, so the closing edge (if the
    // triangle exists) is oriented t1→t2 and one equi-join probes it
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.t").as("t1"), col("e2.t").as("t2"))
    val triangles = wedges.join(oriented.as("e3"),
        col("t1") === col("e3.s") && col("t2") === col("e3.t"))
      .agg(count(lit(1)).as("n_triangles"))
    val base = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        // deg·(deg−1) is even, so the integer div is exact; Spark's `/`
        // on longs would silently go double
        sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges")))
    base.crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr(ccSql("n_triangles", "n_wedges")).as("global_cc"))
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop
    * every node with degree < k, keep only edges between survivors" on
    * the canonical undirected edge set. The fixpoint of this process
    * is the k-core — the maximal subgraph of minimum degree k — and
    * fixing the round count (the [[pageRank]] determinism rule) makes
    * the SQL oracle an unrolled CTE chain of the same rounds. On the
    * near-dup candidate graph the surviving cores are template farms /
    * mirror rings (dense mutual-similarity clusters); chains and
    * stars — borderline pairs — peel away.
    *
    * Execution regime is size-adaptive ([[SmallGraph]]): a small input
    * runs the whole peel in one task. Above the threshold, per round:
    * one degree agg (explode both endpoints, map-combined count) + two
    * LEFT SEMI joins on the survivor set — each round's edge set is
    * persisted (it feeds the round's degree agg AND the next round's
    * semi joins; releaseCaches frees them). The semi joins carry the
    * [[pageRank]] `shuffle_hash` hint: a |V|-row survivor set must not
    * broadcast at 10⁹ nodes, and without the hint the planner falls
    * back to SortMergeJoin (cached frames have no stats
    * pre-materialization). Synchronous peeling is monotone (edge sets
    * only shrink), so at lake scale each round is cheaper than the
    * last.
    *
    * Returns (node, deg): every surviving node with its
    * residual-subgraph degree after `rounds` peels. */
  def kCore(edges: DataFrame, src: Column, dst: Column,
            k: Int, rounds: Int,
            smallGraphThreshold: Long = SmallGraph.MaxInputBytes): DataFrame = {
    val e0 = edges.select(src.cast("long").as("u"), dst.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    if (SmallGraph.isSmall(edges, smallGraphThreshold)) {
      SmallGraph.run(e0, SmallGraph.Undirected, "node", "deg")(
        g => smallKCore(g, k, rounds))
    } else {
      def degrees(es: DataFrame): DataFrame =
        es.select(explode(array(col("a"), col("b"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      var cur = graft.core.Caches.track(
        e0.select(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"))
          .distinct())
      for (_ <- 1 to rounds) {
        val keep = degrees(cur).filter(col("deg") >= k).select(col("n"))
        cur = graft.core.Caches.track(
          cur.join(keep.select(col("n").as("a")).hint("shuffle_hash"),
              Seq("a"), "left_semi")
            .join(keep.select(col("n").as("b")).hint("shuffle_hash"),
              Seq("b"), "left_semi"))
      }
      degrees(cur).select(col("n").as("node"), col("deg"))
    }
  }

  /** The small-regime peel body: `rounds` synchronous peels over the
    * distinct undirected edges, in primitive arrays. Mirrors the
    * declarative branch exactly — integer degrees, kill-below-k then
    * drop incident edges per round — so both regimes and the SQL oracle
    * agree bit-for-bit. */
  private def smallKCore(g: SmallGraph.Edges, k: Int,
                         rounds: Int): Iterator[(Long, Long)] = {
    val n = g.n; val m = g.m; val xs = g.src; val ys = g.dst
    val alive = Array.fill(n)(true)
    val edgeAlive = Array.fill(m)(true)
    val deg = new Array[Int](n)
    def recount(): Unit = {
      java.util.Arrays.fill(deg, 0)
      var r = 0
      while (r < m) {
        if (edgeAlive(r)) { deg(xs(r)) += 1; deg(ys(r)) += 1 }
        r += 1
      }
    }
    var round = 0
    while (round < rounds) {
      recount()
      var i = 0
      while (i < n) { if (alive(i) && deg(i) < k) alive(i) = false; i += 1 }
      var r = 0
      while (r < m) {
        if (edgeAlive(r) && (!alive(xs(r)) || !alive(ys(r))))
          edgeAlive(r) = false
        r += 1
      }
      round += 1
    }
    recount()
    Iterator.tabulate(n)(identity).filter(deg(_) > 0)
      .map(i => (g.id(i), deg(i).toLong))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for `rounds`
    * rounds — community detection over an undirected graph, the
    * modularity-style companion of [[kCore]] (core strength) and the
    * connected-components labeling (reachability): LPA finds DENSE
    * groups inside one component, which is exactly what reachability
    * can't see.
    *
    * Determinism (classic LPA is run-order-dependent; this variant is
    * fully pinned): labels start as node ids, EVERY node updates
    * simultaneously each round to the most frequent label among its
    * neighbors' previous-round labels (its own label does not vote),
    * ties break to the smallest label. Fixed rounds, no convergence
    * test — the oracle unrolls the identical rounds as CTEs (the
    * kCore discipline), so both engines and any partitioning agree
    * exactly.
    *
    * Shape: per round, one equi-join of the direction-doubled edge
    * list against the ≤|V| label vector (shuffle_hash — the label
    * vector never becomes a sort side), one (node, label) count agg
    * and one node-partitioned top-1 window; edge and label relations
    * are persisted via the tracked-cache discipline. Plan depth is
    * linear in `rounds` (small fixed constants here; checkpoint the
    * label vector for long horizons). A small input runs all rounds in
    * one task ([[SmallGraph]]). */
  def lpaCommunities(edges: DataFrame, src: Column, dst: Column,
                     rounds: Int,
                     smallGraphThreshold: Long = SmallGraph.MaxInputBytes): DataFrame = {
    import graft.core.Caches
    val eRaw = edges.select(src.cast("long").as("u"), dst.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    if (SmallGraph.isSmall(edges, smallGraphThreshold))
      return SmallGraph.run(eRaw, SmallGraph.Undirected,
        "node", "community", "community_size")(g => smallLpa(g, rounds))
    val e0 = eRaw
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val und = Caches.track(
      e0.select(col("a").as("n"), col("b").as("m"))
        .union(e0.select(col("b").as("n"), col("a").as("m"))))
    var labels = und.select(col("n").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val msgs = und.join(labels.hint("shuffle_hash")
          .withColumnsRenamed(Map("node" -> "m")), Seq("m"))
        .select(col("n").as("node"), col("label"))
      // argmax by (cnt desc, label asc) as max(struct(cnt, -label)) —
      // a map-combinable hash agg instead of a top-1 sort window
      // (same shuffle key, no sort, partial agg shrinks the exchange)
      labels = Caches.track(
        msgs.groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
          .select(col("node"), (-col("top.nl")).as("label")))
    }
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes.hint("shuffle_hash"), Seq("label"))
      .select(col("node"), col("label").as("community"),
        col("community_size"))
  }

  /** The small-regime LPA body: CSR adjacency over the distinct
    * undirected edges + `rounds` synchronous votes, mirroring the
    * declarative branch exactly — labels are the ORIGINAL node ids (the
    * min-label tie-break compares id values, never dense indices),
    * every node updates from the previous round's labels, own label
    * abstains. The per-node label-frequency table is one open-addressed
    * array pair reused across nodes via stamping (capacity
    * 2·maxDegree — a node sees at most degree distinct labels). */
  private def smallLpa(g: SmallGraph.Edges,
                       rounds: Int): Iterator[(Long, Long, Long)] = {
    import graft.core.LongIndex
    val n = g.n; val m = g.m; val xs = g.src; val ys = g.dst
    val deg = new Array[Int](n)
    var r = 0
    while (r < m) { deg(xs(r)) += 1; deg(ys(r)) += 1; r += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val cur = java.util.Arrays.copyOf(off, n)
    r = 0
    while (r < m) {
      adj(cur(xs(r))) = ys(r); cur(xs(r)) += 1
      adj(cur(ys(r))) = xs(r); cur(ys(r)) += 1
      r += 1
    }
    var labels = Array.tabulate(n)(g.id)
    var maxDeg = 0
    i = 0
    while (i < n) { if (deg(i) > maxDeg) maxDeg = deg(i); i += 1 }
    val fcap = java.lang.Integer.highestOneBit(
      math.max(2 * maxDeg - 1, 8)) << 1
    val fkeys = new Array[Long](fcap)
    val fcnt = new Array[Int](fcap)
    val fstamp = new Array[Int](fcap)
    var stamp = 0
    var round = 0
    while (round < rounds) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        stamp += 1
        var best = 0
        var bestLabel = Long.MaxValue
        var j = off(v)
        while (j < off(v + 1)) {
          val l = labels(adj(j))
          var h = LongIndex.mix(l) & (fcap - 1)
          while (fstamp(h) == stamp && fkeys(h) != l) h = (h + 1) & (fcap - 1)
          if (fstamp(h) != stamp) { fstamp(h) = stamp; fkeys(h) = l; fcnt(h) = 0 }
          fcnt(h) += 1
          val c = fcnt(h)
          // a label holds the argmax the moment it reaches the max
          // count; ties resolve to the smaller label value
          if (c > best || (c == best && l < bestLabel)) {
            best = c; bestLabel = l
          }
          j += 1
        }
        next(v) = bestLabel // deg >= 1 always: edges define the node set
        v += 1
      }
      labels = next
      round += 1
    }
    val sizes = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < n) { sizes.merge(labels(i), 1L, (a, b) => a + b); i += 1 }
    Iterator.tabulate(n)(j => (g.id(j), labels(j),
      sizes.get(labels(j)).longValue()))
  }

  /** Item-item co-occurrence similarity (the memory-based
    * collaborative-filtering kernel): for items i, j sharing a
    * context (basket/user/document), cosine = n_ij / √(n_i·n_j) over
    * context sets — "customers who bought X also bought Y", ranked
    * into a global top-K.
    *
    * Scale discipline ([[adamicAdar]]'s): contexts gate on distinct-
    * item degree 2..maxCtx BEFORE any neighbor set materializes (a
    * mega-basket's deg² pair fan-out is the blowup; capped contexts
    * are the standard CF mitigation and carry near-zero signal
    * anyway), pairs unroll from per-context sorted arrays — no edge
    * self-join — and item supports n_i count only KEPT contexts, so
    * the cosine is exactly the candidate generator's universe.
    *
    * The item catalog is broadcast (the CF norm: it stays bounded even
    * when baskets do not): the pair stream stays BARE (two longs + a
    * counter through the one candidate-sized exchange) and the
    * |items|-row support table broadcast-joins the aggregated pairs
    * map-side — no extra shuffle, the joins fuse into the same codegen
    * stage (measured 2.85 → 2.67 s at sf0.1 over the widest pre-unroll
    * shape, with far lower variance). Two post-agg SHUFFLE joins of the
    * pair table measured 2.5× slower.
    *
    * Exactness: all counts are exact integers (set semantics via
    * collect_set); the cosine is ONE final double shared between
    * engines; top-K orders by (cosine desc, i, j) — identical doubles
    * from identical integer triples, deterministic tie-break.
    *
    * Two regimes. A small input with integral keys (the
    * [[SmallGraph]] test) scores every pair in ONE task through
    * [[SmallGraph.pairTopK]]: the same gate, supports and cosine from
    * a sparse accumulator, ranked in the task — no pair hash table, no
    * pair shuffle, no `collect_set`, no persist, no unpartitioned
    * window. Otherwise, or for non-integral keys, the cluster branch
    * described above runs. Both give the same rows and schema; the
    * output keeps the item column's type. */
  def cooccurrenceTopK(edges: DataFrame, ctx: Column, item: Column,
                       topK: Int, maxCtx: Long,
                       smallGraphThreshold: Long = SmallGraph.MaxInputBytes): DataFrame = {
    val keys = edges.select(ctx, item)
    if (SmallGraph.isSmall(edges, smallGraphThreshold) && SmallGraph.integral(keys)) {
      val e0 = edges.filter(ctx.isNotNull && item.isNotNull)
        .select(ctx.cast("long"), item.cast("long"))
      val t = keys.schema(1).dataType
      return SmallGraph.run(e0, SmallGraph.Bipartite,
          "item_a", "item_b", "n_both", "n_a", "n_b", "rank")(g =>
          // a positive double orders as its bit pattern
          SmallGraph.pairTopK(g, maxCtx, topK, _ => 0L, (both, _, nA, nB) =>
              java.lang.Double.doubleToRawLongBits(
                both.toDouble / math.sqrt(nA.toDouble * nB.toDouble)))
            .map(p => (p.a, p.b, p.both, p.nA, p.nB, p.rank)))
        .select(col("item_a").cast(t).as("item_a"), col("item_b").cast(t).as("item_b"),
          col("n_both"), col("n_a"), col("n_b"), cosine.as("cosine"), col("rank"))
    }
    val raw = edges.filter(ctx.isNotNull && item.isNotNull)
      .select(ctx.as("c"), item.as("i"))
    val deg = raw.groupBy(col("c"))
      .agg(count_distinct(col("i")).as("deg"))
      .filter(col("deg") >= 2L && col("deg") <= lit(maxCtx))
    // kept edges feed the item-support count AND the basket sets
    val kept = graft.core.Caches.track(
      raw.join(deg.select(col("c")), Seq("c")))
    val support = kept.groupBy(col("i"))
      .agg(count_distinct(col("c")).as("n_i"))
    val sets = kept.groupBy(col("c"))
      .agg(array_sort(collect_set(col("i"))).as("cs"))
    val pairs = unrollPairs(sets, "a", "b")
      .groupBy(col("a").as("item_a"), col("b").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(support.select(col("i").as("item_a"),
        col("n_i").as("n_a"))), Seq("item_a"))
      .join(broadcast(support.select(col("i").as("item_b"),
        col("n_i").as("n_b"))), Seq("item_b"))
    val scored = pairs
      .withColumn("cosine", cosine)
    scored
      .orderBy(col("cosine").desc, col("item_a"), col("item_b"))
      .limit(topK)
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"),
        col("n_b"), col("cosine"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cosine").desc, col("item_a"), col("item_b")))
          .cast("long").as("rank"))
  }

  /** Adamic–Adar link prediction over a bipartite src→dst graph:
    * score(u, v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) for src-side pairs
    * sharing a dst neighbor — "which two customers trade with the same
    * niche suppliers?", the classic common-neighbor predictor where
    * rare shared neighbors count more than popular ones.
    *
    * Scale discipline: pair generation self-joins the edge list on the
    * SHARED NEIGHBOR, so the fan-out of neighbor w is deg(w)² —
    * unbounded for hubs. Neighbors with deg > `maxDeg` are excluded
    * BEFORE the join (deg ≤ 1 neighbors form no pair and drop too):
    * the standard AA mitigation, principled because a hub's 1/ln(deg)
    * weight is exactly the term the estimator already discounts
    * toward 0. The quadratic knob is maxDeg², never corpus size.
    *
    * Exactness: degrees are exact integer counts on the DEDUPED edge
    * set; each neighbor's 1/ln(deg) weight is quantized floor(·10⁹)
    * LONG before the per-pair sum (the PSI discipline), so scores fold
    * exactly in any order; top-K orders by the integer score with the
    * pair as tie-break.
    *
    * Two regimes, as in [[cooccurrenceTopK]]: a small input with
    * integral keys runs [[SmallGraph.pairTopK]] in ONE task, with the
    * dst nodes as contexts and the src nodes as items, each kept
    * neighbor weighing the same quantized `wq` (`StrictMath.log`, the
    * function Spark's `log` evaluates); otherwise the cluster branch
    * described above runs. Both give the same rows and schema; the output keeps
    * the src column's type. */
  def adamicAdar(edges: DataFrame, src: Column, dst: Column,
                 topK: Int, maxDeg: Long,
                 smallGraphThreshold: Long = SmallGraph.MaxInputBytes): DataFrame = {
    val keys = edges.select(src, dst)
    if (SmallGraph.isSmall(edges, smallGraphThreshold) && SmallGraph.integral(keys)) {
      val e0 = edges.filter(src.isNotNull && dst.isNotNull)
        .select(dst.cast("long"), src.cast("long"))
      val t = keys.schema(0).dataType
      return SmallGraph.run(e0, SmallGraph.Bipartite,
          "u", "v", "n_common", "sq", "rank")(g =>
          SmallGraph.pairTopK(g, maxDeg, topK,
              deg => math.floor(1.0 / StrictMath.log(deg.toDouble) * 1.0e9).toLong,
              (_, sq, _, _) => sq)
            .map(p => (p.a, p.b, p.both, p.weight, p.rank)))
        .select(col("u").cast(t).as("u"), col("v").cast(t).as("v"),
          col("n_common"), aaScore.as("aa_score"), col("rank"))
    }
    val raw = edges.filter(src.isNotNull && dst.isNotNull)
      .select(src.as("s"), dst.as("w"))
    // degree gate FIRST (a map-combined countDistinct — never
    // collects a hub's neighbor list just to discard it), then the
    // kept neighbors gather into one sorted set per dst: pair
    // generation is a per-row index unroll over a ≤maxDeg array —
    // NO edge-distinct shuffle and NO self-join; the deg join, the
    // set agg and the unroll all ride the same hash partitioning
    // on w, leaving the per-pair aggregation as the only
    // candidate-sized exchange
    val deg = raw.groupBy(col("w"))
      .agg(count_distinct(col("s")).as("deg"))
      .filter(col("deg") >= 2L && col("deg") <= lit(maxDeg))
      .withColumn("wq",
        floor(lit(1.0) / log(col("deg").cast("double")) * lit(1.0e9))
          .cast("long"))
    // deg is |dst-nodes|-sized (NOT broadcast-bounded at lake scale);
    // the equi-join on w hash-co-locates with the set aggregation
    val sets = raw.join(deg, Seq("w"))
      .groupBy(col("w"))
      .agg(array_sort(collect_set(col("s"))).as("cs"), max(col("wq")).as("wq"))
    unrollPairs(sets, "u", "v", "wq")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("wq")).as("sq"))
      .orderBy(col("sq").desc, col("u"), col("v")).limit(topK)
      .select(col("u"), col("v"), col("n_common"),
        aaScore.as("aa_score"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sq").desc, col("u"), col("v"))).cast("long")
          .as("rank"))
  }

  /** [[cooccurrenceTopK]]'s cosine over (n_both, n_a, n_b) and
    * [[adamicAdar]]'s score over the quantized sum `sq`, shared by both
    * regimes. The small regime ranks by the same doubles in its task. */
  private def cosine: Column = col("n_both").cast("double") /
    sqrt(col("n_a").cast("double") * col("n_b").cast("double"))
  private def aaScore: Column = col("sq").cast("double") / lit(1.0e9)

  /** Every unordered pair of a sorted set column `cs`, as columns
    * (`left`, `right`) with left before right in the set, plus the
    * `carry` columns of its row. Two chained codegen generators
    * (posexplode picks the left element, explode-of-slice the strictly
    * later rights) instead of one interpreted nested-transform lambda:
    * higher-order functions never enter whole-stage codegen, and on an
    * 8M-pair stream the interpreted eval dominated the query (6.4 s →
    * 3.2 s isolated at sf0.1, [[cooccurrenceTopK]]). */
  private def unrollPairs(sets: DataFrame, left: String, right: String,
                          carry: String*): DataFrame =
    sets.select(carry.map(col) ++ Seq(col("cs"), posexplode(col("cs"))): _*)
      .select(Seq(col("col").as(left),
        explode(slice(col("cs"), col("pos") + lit(2), size(col("cs"))))
          .as(right)) ++ carry.map(col): _*)
}
