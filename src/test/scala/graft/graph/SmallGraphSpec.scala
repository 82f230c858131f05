package graft.graph

import org.scalatest.funsuite.AnyFunSuite

/** The small-graph edge loader without Spark: its four modes against
  * plain-Scala references. */
class SmallGraphSpec extends AnyFunSuite {

  test("load keeps edges by mode over packed small-index dedup keys") {
    // a dense grid of small ids: every dedup key is a packed
    // (small index << 32 | small index), the keys Long.hashCode would
    // pile into the low slots; repeats, reversed repeats and self-loops
    // on top
    val rnd = new scala.util.Random(7)
    val grid = for (a <- 0L until 200L; b <- 0L until 150L) yield (a, b)
    val pairs = grid ++ Seq.fill(5000)(grid(rnd.nextInt(grid.size))) ++
      grid.take(3000).map(_.swap) ++ (0L until 50L).map(v => (v, v))
    val firstSeen = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    def check(mode: SmallGraph.Mode, expect: Seq[(Long, Long)]): Unit = {
      val g = SmallGraph.load(pairs.iterator, mode)
      assert(g.n == firstSeen.size, s"$mode nodes")
      assert((0 until g.n).map(g.id) == firstSeen, s"$mode first-seen ids")
      assert(g.m == expect.size && g.dst.length == g.m, s"$mode edge count")
      assert((0 until g.m).map(r => (g.id(g.src(r)), g.id(g.dst(r)))) == expect,
        s"$mode edges in first-seen order")
    }
    val index = firstSeen.zipWithIndex.toMap
    check(SmallGraph.AsGiven, pairs)
    check(SmallGraph.Directed, pairs.distinct)
    // undirected: one edge per unordered pair, lower dense index first
    check(SmallGraph.Undirected, pairs
      .map { case (a, b) => if (index(a) <= index(b)) (a, b) else (b, a) }
      .distinct)
    // bipartite: the same id value on both sides stays two nodes
    val g = SmallGraph.load(pairs.iterator, SmallGraph.Bipartite)
    assert((0 until g.n).map(g.id) == pairs.map(_._1).distinct, "Bipartite src ids")
    assert((0 until g.dstN).map(g.dstId) == pairs.map(_._2).distinct,
      "Bipartite dst ids")
    assert((0 until g.m).map(r => (g.id(g.src(r)), g.dstId(g.dst(r)))) ==
      pairs.distinct, "Bipartite edges in first-seen order")
  }

  test("load of an empty stream has no nodes and no edges") {
    val g = SmallGraph.load(Iterator.empty, SmallGraph.Directed)
    assert(g.n == 0 && g.m == 0)
  }
}
