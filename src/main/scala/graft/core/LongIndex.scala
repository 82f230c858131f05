package graft.core

/** Open-addressed primitive long → dense-int intern table (power-of-2
  * capacity, linear probing, load factor ½) — the node-id index and the
  * edge-dedup set of the small-graph imperative regime
  * ([[graft.graph.SmallGraph]]), shared by [[graft.graph.Graph.pageRank]],
  * [[graft.graph.Graph.kCore]], [[graft.graph.Graph.lpaCommunities]],
  * [[graft.llm.Dedup.nearDupComponents]] and the pair kernels
  * ([[graft.graph.SmallGraph.pairTopK]]): no boxing, 32-64 bytes per
  * distinct key (2-4 slots of key + index, plus the id array).
  * Single-threaded by design (one task owns it). */
final class LongIndex(initialCapacity: Int = 1 << 14) {
  private var cap = java.lang.Integer.highestOneBit(
    math.max(initialCapacity - 1, 8)) << 1
  private var keys = new Array[Long](cap)
  // dense index + 1 per slot; 0 marks an empty slot
  private var slots = new Array[Int](cap)
  private var idArr = new Array[Long](cap / 2)
  private var n = 0

  /** Distinct keys interned so far. */
  def size: Int = n

  /** The key whose dense index is `i` (0 ≤ i < size). */
  def id(i: Int): Long = idArr(i)

  private def rehash(): Unit = {
    val ok = keys; val os = slots
    cap <<= 1
    keys = new Array[Long](cap); slots = new Array[Int](cap)
    var i = 0
    while (i < ok.length) {
      if (os(i) != 0) {
        var h = LongIndex.mix(ok(i)) & (cap - 1)
        while (slots(h) != 0) h = (h + 1) & (cap - 1)
        keys(h) = ok(i); slots(h) = os(i)
      }
      i += 1
    }
  }

  /** Dense index of `v`, interning it on first sight (a new key gets
    * index `size`). */
  def intern(v: Long): Int = {
    if (n * 2 >= cap) rehash()
    var h = LongIndex.mix(v) & (cap - 1)
    while (slots(h) != 0) {
      if (keys(h) == v) return slots(h) - 1
      h = (h + 1) & (cap - 1)
    }
    if (n == idArr.length) idArr = java.util.Arrays.copyOf(idArr, n << 1)
    keys(h) = v; slots(h) = n + 1; idArr(n) = v
    n += 1
    n - 1
  }
}

object LongIndex {
  /** Fibonacci-scrambled 32-bit hash. `Long.hashCode` (hi ^ lo) is
    * catastrophic for structured keys — e.g. a packed
    * (srcIdx << 32 | dstIdx) pair of small dense indices lands every
    * key in the low |V| slots and linear probing degenerates into one
    * quadratic cluster (measured: minutes, not milliseconds, at 587k
    * keys). The golden-ratio multiply spreads any key structure across
    * the full table. */
  def mix(v: Long): Int = {
    val z = v * -7046029254386353131L // 2^64 / φ
    (z ^ (z >>> 32)).toInt
  }
}
