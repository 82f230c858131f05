package graft.graph

import graft.core.LongIndex
import org.apache.spark.sql.DataFrame
import scala.reflect.runtime.universe.TypeTag

/** The small-graph regime of the single-task graph kernels
  * ([[Graph.pageRank]], [[Graph.kCore]], [[Graph.lpaCommunities]],
  * [[graft.llm.Dedup.nearDupComponents]]): when the input is small, the
  * whole recurrence runs imperatively inside ONE `mapPartitions` task
  * over the raw (src, dst) pair stream — one lazy plan, one shuffle
  * (the `repartition(1)` of ~16-byte pairs), one action, and plan depth
  * constant in the round count (a kernel's `checkpointEvery` is moot
  * here). Each kernel keeps only its recurrence body; this object holds
  * the regime test, the runner and the edge loader.
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
  * replaces it. `repartition(1)` — not `coalesce(1)` — keeps the
  * upstream scan/join parallel and moves only the pairs. This is the
  * last-resort `mapPartitions` case: per-partition imperative logic
  * that Catalyst operators cannot schedule efficiently at this size.
  *
  * The regime test reads the summed INPUT LEAF sizes of the edge
  * expression at plan time — zero jobs: file sources report exact
  * on-disk bytes, LocalRelations exact row bytes. Leaf sums are used
  * instead of the edge plan's own estimate, which a join inflates to
  * size(L)·size(R). A small input can in principle join-explode into a
  * large edge set (then the single task is slow but correct); a large
  * input never misclassifies as small. The default bound,
  * [[MaxInputBytes]], keeps the task's in-memory adjacency to a few
  * hundred MB; each kernel takes it as `smallGraphThreshold` so tests
  * pin both branches (0 forces the cluster branch). Each body mirrors
  * its cluster branch's dedup and arithmetic, so both regimes and the
  * SQL oracles agree bit-for-bit. */
object SmallGraph {

  /** Default bound on the summed input-leaf bytes of the small regime
    * (64 MB). */
  val MaxInputBytes = 67108864L

  /** Whether `input`'s summed input-leaf size is within `threshold`
    * bytes (plan statistics only, no job). */
  def isSmall(input: DataFrame, threshold: Long): Boolean =
    input.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum <= BigInt(threshold)

  /** How [[load]] keeps edges: `Directed` drops repeated (src, dst)
    * pairs, `Undirected` orders each pair by dense index and drops
    * repeats, `AsGiven` keeps every pair in input order. */
  sealed trait Mode
  case object Directed extends Mode
  case object Undirected extends Mode
  case object AsGiven extends Mode

  /** An edge list over dense node indices: edge r runs src(r) →
    * dst(r); `id` maps a dense index back to its node id. Indices are
    * assigned in first-seen order. */
  final class Edges(ids: LongIndex, val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.size
    def m: Int = src.length
    def id(i: Int): Long = ids.id(i)
  }

  /** Interns the node ids of `pairs` and keeps its edges by `mode`.
    * Dedup keys pack (src << 32 | dst) over non-negative dense indices,
    * so packing is injective; [[LongIndex.mix]] keeps those structured
    * keys from clustering in the dedup table. */
  def load(pairs: Iterator[(Long, Long)], mode: Mode): Edges = {
    val ids = new LongIndex()
    val seen = if (mode == AsGiven) null else new LongIndex()
    var src = new Array[Int](1 << 16)
    var dst = new Array[Int](1 << 16)
    var m = 0
    pairs.foreach { case (a, b) =>
      val ai = ids.intern(a); val bi = ids.intern(b)
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
    new Edges(ids, java.util.Arrays.copyOf(src, m), java.util.Arrays.copyOf(dst, m))
  }

  /** Runs `body` over the whole edge list of `pairs` (two non-null
    * long columns) in one task, loaded by `mode`, and names the output
    * columns `names`. An empty edge list yields no rows. */
  def run[T <: Product : TypeTag](pairs: DataFrame, mode: Mode, names: String*)
                                 (body: Edges => Iterator[T]): DataFrame = {
    val session = pairs.sparkSession
    import session.implicits._
    pairs.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val g = load(it, mode)
        if (g.n == 0) Iterator.empty else body(g)
      }
      .toDF(names: _*)
  }
}
