package graft.graph

import graft.core.LongIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo, Join, JoinHint,
  LeafNode, LogicalPlan, Project, Repartition, SHUFFLE_HASH, SubqueryAlias}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import scala.reflect.runtime.universe.TypeTag

/** The small-graph regime of the single-task graph kernels
  * ([[Graph.pageRank]], [[Graph.kCore]], [[Graph.lpaCommunities]],
  * [[graft.llm.Dedup.nearDupComponents]], and through [[pairTopK]]
  * [[Graph.cooccurrenceTopK]] and [[Graph.adamicAdar]]): when the input
  * is small, the whole recurrence runs imperatively inside ONE
  * `mapPartitions` task over the raw (src, dst) pair stream — one lazy
  * plan, one action, and plan depth constant in the round count (a
  * kernel's `checkpointEvery` is moot here). Each kernel keeps only its
  * recurrence body; this object holds the regime test, the runner, the
  * edge loader and the pair kernel.
  *
  * Why one task: per-job scheduling, not data, dominates a small graph.
  * The declarative per-layer pageRank paid ~0.25 s of driver overhead
  * per internal action (6+ actions ≈ 1.5 s at sf0.1 against ~0.5 s of
  * compute), a lazy layered plan re-planned with cascading exchanges
  * (the outer-join layer defeats co-partitioning analysis; 7 exchanges
  * at iters=3), and the declarative k-core paid ~10 shuffle stages for
  * ~0.5 s of compute. A `collect_set` prep stage feeding the task was
  * no better: its boxed ObjectHashAggregate set-building was the largest
  * stage (378 ms of a 1.09 s pageRank); the loader's primitive dedup
  * replaces it. This is the last-resort `mapPartitions` case:
  * per-partition imperative logic that Catalyst operators cannot
  * schedule efficiently at this size.
  *
  * Where the pairs come from ([[inOneTask]]): an edge plan of scans,
  * filters, projections and equi-joins runs whole inside the task —
  * every leaf read as one partition, every join a shuffle-hash join of
  * those single-partition sides — so the query is one job of one stage
  * with no exchange. Against the earlier `repartition(1)` over the
  * planned join (a broadcast job, then the pair shuffle), the
  * `orders ⋈ lineitem` edges of [[Graph.cooccurrenceTopK]] loaded in
  * `Bipartite` mode measured 206-244 → 154-192 ms at sf0.01 and
  * 749-882 → 592-678 ms at sf0.1 (`local[4]`, same edge count). Any
  * other edge plan (no join, or an aggregate, a window, a generator:
  * work the cores should share) still runs as planned, and
  * `repartition(1)` moves only its pairs.
  *
  * The regime test reads the summed INPUT LEAF sizes of the edge
  * expression from its analyzed plan — zero jobs and no optimizer pass:
  * file sources report exact on-disk bytes, LocalRelations exact row
  * bytes. Leaf sums are used instead of the edge plan's own estimate,
  * which a join inflates to size(L)·size(R). A small input can in
  * principle join-explode into a large edge set (then the single task
  * is slow but correct); a large input never misclassifies as small.
  * The default bound, [[MaxInputBytes]], keeps the task's in-memory
  * adjacency to a few hundred MB; each kernel takes it as
  * `smallGraphThreshold` so tests pin both branches (0 forces the
  * cluster branch). Each body mirrors its cluster branch's dedup and
  * arithmetic, so both regimes and the SQL oracles agree bit-for-bit.
  *
  * Four non-graph kernels reuse [[isSmall]] for their own one-task
  * bodies over a `coalesce(1)` scan, each under a default bound
  * (`smallInputThreshold`, 0 forcing the cluster branch):
  *  - [[graft.llm.Dedup.jaccardJoinPrefix]]: in-task PPJoin, bounded by
  *    `Dedup.SmallJoinMaxBytes`, integral ids only;
  *  - [[graft.llm.Similarity.rankingMetrics]]: in-task SQ8 training,
  *    scoring and ranking, bounded by `Similarity.SmallRankMaxBytes`,
  *    integral ids only. Its work is quadratic: every panel query
  *    scores every candidate, queries × candidates × dim in one task,
  *    so a byte bound fixes that work only for a given dim and query
  *    rate;
  *  - [[graft.llm.Multimodal.cdcChunkStats]]: in-task chunk interning
  *    and per-media sums over the native chunk projection, bounded by
  *    `Multimodal.SmallCdcMaxBytes` (16 MiB, below a measured
  *    crossover), integral media ids only;
  *  - [[graft.agg.Inference.conformalInterval]]: the fit, residuals
  *    and quantile fold in one pass plus a buffer, bounded by
  *    [[MaxInputBytes]] (timed past it). This task is the only place
  *    its counts fold; the cluster branch runs the distributed tail.
  * Each bound is at most the largest input at which the one task was
  * timed against the cluster branch. */
object SmallGraph {

  /** Default bound on the summed input-leaf bytes of the small regime
    * (64 MB). */
  val MaxInputBytes = 67108864L

  /** Whether `input`'s summed input-leaf size is within `threshold`
    * bytes (analyzed-plan statistics only: no job, no optimizer pass).
    * A threshold of 0 is never met, so it forces the cluster branch
    * even for an empty local relation, whose leaf reports 0 bytes. */
  def isSmall(input: DataFrame, threshold: Long): Boolean =
    threshold > 0 && leafBytes(input.queryExecution.analyzed) <= BigInt(threshold)

  /** The summed size statistics of `plan`'s leaves. */
  private[graft] def leafBytes(plan: LogicalPlan): BigInt =
    plan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** Whether every column of `keys` is integral, the key types the
    * pair kernel's long ids carry exactly. */
  def integral(keys: DataFrame): Boolean =
    keys.schema.forall(f => Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(f.dataType))

  /** How [[load]] keeps edges: `Directed` drops repeated (src, dst)
    * pairs, `Undirected` orders each pair by dense index and drops
    * repeats, `AsGiven` keeps every pair in input order, `Bipartite`
    * drops repeated pairs and interns src and dst ids in two separate
    * id spaces. */
  sealed trait Mode
  case object Directed extends Mode
  case object Undirected extends Mode
  case object AsGiven extends Mode
  case object Bipartite extends Mode

  /** An edge list over dense node indices: edge r runs src(r) →
    * dst(r); `id` maps a dense index back to its node id. Indices are
    * assigned in first-seen order. Under `Bipartite`, `n`/`id` number
    * the src side and `dstN`/`dstId` the dst side; otherwise both name
    * the one node set. */
  final class Edges(ids: LongIndex, dstIds: LongIndex,
                    val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.size
    def m: Int = src.length
    def id(i: Int): Long = ids.id(i)
    def dstN: Int = dstIds.size
    def dstId(i: Int): Long = dstIds.id(i)
  }

  /** Interns the node ids of `pairs` and keeps its edges by `mode`.
    * Dedup keys pack (src << 32 | dst) over non-negative dense indices,
    * so packing is injective; [[LongIndex.mix]] keeps those structured
    * keys from clustering in the dedup table. */
  def load(pairs: Iterator[(Long, Long)], mode: Mode): Edges = {
    val ids = new LongIndex()
    val dstIds = if (mode == Bipartite) new LongIndex() else ids
    val seen = if (mode == AsGiven) null else new LongIndex()
    var src = new Array[Int](1 << 16)
    var dst = new Array[Int](1 << 16)
    var m = 0
    pairs.foreach { case (a, b) =>
      val ai = ids.intern(a); val bi = dstIds.intern(b)
      val s = if (mode == Undirected) math.min(ai, bi) else ai
      val d = if (mode == Undirected) math.max(ai, bi) else bi
      // every kept edge interned one dedup key, so a new key's index is m
      if (seen == null || seen.intern((s.toLong << 32) | d) == m) {
        if (m == src.length) {
          src = java.util.Arrays.copyOf(src, m << 1)
          dst = java.util.Arrays.copyOf(dst, m << 1)
        }
        src(m) = s; dst(m) = d; m += 1
      }
    }
    new Edges(ids, dstIds, java.util.Arrays.copyOf(src, m),
      java.util.Arrays.copyOf(dst, m))
  }

  /** Runs `body` over the whole edge list of `pairs` (two non-null
    * long columns) in one task, loaded by `mode`, and names the output
    * columns `names`. An empty edge list yields no rows. */
  def run[T <: Product : TypeTag](pairs: DataFrame, mode: Mode, names: String*)
                                 (body: Edges => Iterator[T]): DataFrame = {
    val session = pairs.sparkSession
    import session.implicits._
    inOneTask(pairs).as[(Long, Long)]
      .mapPartitions { it =>
        val g = load(it, mode)
        if (g.n == 0) Iterator.empty else body(g)
      }
      .toDF(names: _*)
  }

  /** `df` in one partition. A plan of leaves, filters, projections and
    * at least one equi-join (no subquery) is rewritten to run whole in
    * that one task: each leaf reads as one partition (`Repartition(1,
    * shuffle = false)`) and each join carries a shuffle-hash hint, which
    * over two single-partition sides plans no exchange. Any other plan
    * keeps its own parallelism up to its output, which `repartition(1)`
    * moves: a join-free edge list is one scan stage feeding the task,
    * and an aggregate, window or generator is work the cores share. */
  private def inOneTask(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val scanJoin = plan.exists(_.isInstanceOf[Join]) && !plan.exists { p =>
      p.expressions.exists(SubqueryExpression.hasSubquery) || (p match {
        case _: LeafNode | _: Filter | _: Project | _: SubqueryAlias => false
        case j: Join => ExtractEquiJoinKeys.unapply(j).isEmpty
        case _ => true
      })
    }
    if (!scanJoin) return df.repartition(1)
    val shj = Some(HintInfo(Some(SHUFFLE_HASH)))
    bridge.ofRows(df, plan.transformUp {
      case leaf: LeafNode => Repartition(1, shuffle = false, leaf)
      case j: Join => j.copy(hint = JoinHint(shj, shj))
    })
  }

  /** A rank key of [[pairTopK]], larger first, from a pair's count of
    * shared kept contexts, their summed weight and the supports of its
    * two items. One abstract method over primitives, so the per-pair
    * call boxes nothing. */
  trait PairKey extends Serializable {
    def apply(both: Int, weight: Long, nA: Int, nB: Int): Long
  }

  /** One pair of [[pairTopK]]: item ids `a` < `b`, the number of kept
    * contexts holding both and their summed weight, each item's support
    * (its kept contexts), and the 1-based rank. */
  final case class ScoredPair(a: Long, b: Long, both: Long, weight: Long,
                              nA: Long, nB: Long, rank: Long)

  /** The top `topK` item pairs by shared context over a `Bipartite`
    * (context, item) edge list: Gustavson's row-by-row sparse product
    * A·Aᵀ, ranked by (`key` desc, a, b). Contexts holding fewer than 2
    * or more than `maxCtx` distinct items drop first; a kept context of
    * d items weighs `weight(d)`.
    *
    * Items are renumbered by id value once, so `b > a` and the (a, b)
    * tie-break compare ids, never first-seen indices. Each anchor item
    * `a`, in that order, walks its kept contexts: a context's item list
    * is ascending and a per-context cursor sits on `a`, so its partners
    * `b > a` are the rest of the list. Partners add into a dense count
    * and weight array with a touched list; the touched partners go to a
    * bounded top-K and their slots reset. Time O(pairs emitted), memory
    * O(|V| + |E|): no pair table, no pair shuffle. */
  def pairTopK(g: Edges, maxCtx: Long, topK: Int, weight: Int => Long,
               key: PairKey): Iterator[ScoredPair] = {
    val nc = g.n; val ni = g.dstN; val m = g.m; val ctx = g.src
    val ids = Array.tabulate(ni)(g.dstId)
    java.util.Arrays.sort(ids)
    val byValue = Array.tabulate(ni)(
      i => java.util.Arrays.binarySearch(ids, g.dstId(i)))
    val item = Array.tabulate(m)(r => byValue(g.dst(r)))
    val cdeg = new Array[Int](nc)
    var r = 0
    while (r < m) { cdeg(ctx(r)) += 1; r += 1 }
    val kept = Array.tabulate(nc)(c => cdeg(c) >= 2 && cdeg(c) <= maxCtx)
    val cw = Array.tabulate(nc)(c => if (kept(c)) weight(cdeg(c)) else 0L)
    // item → kept contexts; support = list length
    val iOff = new Array[Int](ni + 1)
    r = 0
    while (r < m) { if (kept(ctx(r))) iOff(item(r) + 1) += 1; r += 1 }
    var i = 0
    while (i < ni) { iOff(i + 1) += iOff(i); i += 1 }
    def support(x: Int): Int = iOff(x + 1) - iOff(x)
    val iAdj = new Array[Int](iOff(ni))
    val fill = java.util.Arrays.copyOf(iOff, ni)
    r = 0
    while (r < m) {
      if (kept(ctx(r))) { iAdj(fill(item(r))) = ctx(r); fill(item(r)) += 1 }
      r += 1
    }
    // kept context → items, ascending: appended in item order
    val cOff = new Array[Int](nc + 1)
    var c = 0
    while (c < nc) { cOff(c + 1) = cOff(c) + (if (kept(c)) cdeg(c) else 0); c += 1 }
    val cAdj = new Array[Int](cOff(nc))
    val pos = java.util.Arrays.copyOf(cOff, nc)
    i = 0
    while (i < ni) {
      var j = iOff(i)
      while (j < iOff(i + 1)) { c = iAdj(j); cAdj(pos(c)) = i; pos(c) += 1; j += 1 }
      i += 1
    }
    System.arraycopy(cOff, 0, pos, 0, nc)
    val cnt = new Array[Int](ni)
    val wsum = new Array[Long](ni)
    val touched = new Array[Int](ni)
    val top = new PairHeap(topK)
    var a = 0
    while (a < ni) {
      var t = 0
      var j = iOff(a)
      while (j < iOff(a + 1)) {
        c = iAdj(j)
        val w = cw(c)
        var p = pos(c) + 1 // cAdj(pos(c)) == a
        while (p < cOff(c + 1)) {
          val b = cAdj(p)
          if (cnt(b) == 0) { touched(t) = b; t += 1 }
          cnt(b) += 1; wsum(b) += w
          p += 1
        }
        pos(c) += 1
        j += 1
      }
      var q = 0
      while (q < t) {
        val b = touched(q)
        top.offer(key(cnt(b), wsum(b), support(a), support(b)),
          (a.toLong << 32) | b, cnt(b), wsum(b))
        cnt(b) = 0; wsum(b) = 0L
        q += 1
      }
      a += 1
    }
    top.ranked().iterator.zipWithIndex.map { case (e, rank) =>
      val x = (top.pair(e) >>> 32).toInt; val y = top.pair(e).toInt
      ScoredPair(ids(x), ids(y), top.both(e), top.weight(e),
        support(x), support(y), rank + 1L)
    }
  }

  /** Bounded top-k by (key desc, pair asc) over packed `a << 32 | b`
    * pairs, carrying each pair's count and weight: a binary heap whose
    * root is the worst kept entry, so a losing offer costs one
    * comparison. Storage grows with the entries kept, not with `k`. */
  private final class PairHeap(k: Int) {
    var key = new Array[Long](math.min(math.max(k, 0), 1024))
    var pair = new Array[Long](key.length)
    var both = new Array[Int](key.length)
    var weight = new Array[Long](key.length)
    private var n = 0

    /** Whether (k1, p1) ranks after (k2, p2). */
    private def worse(k1: Long, p1: Long, k2: Long, p2: Long): Boolean =
      k1 < k2 || (k1 == k2 && p1 > p2)

    private def put(i: Int, k1: Long, p1: Long, b1: Int, w1: Long): Unit = {
      key(i) = k1; pair(i) = p1; both(i) = b1; weight(i) = w1
    }

    def offer(k1: Long, p1: Long, b1: Int, w1: Long): Unit =
      if (n < k) {
        if (n == key.length) {
          val len = math.min(k.toLong, 2L * n).toInt
          key = java.util.Arrays.copyOf(key, len)
          pair = java.util.Arrays.copyOf(pair, len)
          both = java.util.Arrays.copyOf(both, len)
          weight = java.util.Arrays.copyOf(weight, len)
        }
        var i = n
        n += 1
        while (i > 0 && worse(k1, p1, key((i - 1) / 2), pair((i - 1) / 2))) {
          val up = (i - 1) / 2
          put(i, key(up), pair(up), both(up), weight(up)); i = up
        }
        put(i, k1, p1, b1, w1)
      } else if (n > 0 && worse(key(0), pair(0), k1, p1)) {
        var i = 0
        var done = false
        while (!done && 2 * i + 1 < n) {
          var ch = 2 * i + 1
          if (ch + 1 < n && worse(key(ch + 1), pair(ch + 1), key(ch), pair(ch)))
            ch += 1
          if (worse(key(ch), pair(ch), k1, p1)) {
            put(i, key(ch), pair(ch), both(ch), weight(ch)); i = ch
          } else done = true
        }
        put(i, k1, p1, b1, w1)
      }

    /** Slots of the kept entries, best first. */
    def ranked(): Seq[Int] =
      (0 until n).sortWith((x, y) => worse(key(y), pair(y), key(x), pair(x)))
  }
}
