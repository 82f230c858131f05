package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Bounded exact top-k ids by (score DESC, id ASC) — the aggregate form
  * of `row_number() OVER (PARTITION BY g ORDER BY score DESC, id) <= k`
  * followed by dropping the rank. Returns the ≤k ids in rank order.
  *
  * Why it exists (r17, guide §2.3 "aggregate before you shuffle"): the
  * window form of exact kNN/top-k shuffles the WHOLE candidate-pair
  * relation and, even with Spark's WindowGroupLimit partial pass,
  * fully SORTS every map partition's pairs first — O(n log n) over a
  * quadratic relation (q_hubness at sf1: 100 M pairs, 244 s, almost
  * all in the two sorts). A bounded per-group buffer does the same
  * selection in O(n·k) with NO sort and map-side partial aggregation,
  * so only |groups|·k rows per map partition cross the exchange.
  *
  * Exactness: selection uses the same total order Spark's sort applies
  * — score compared with NaN greatest (java.lang.Double.compare) and
  * ±0.0 normalized equal (Spark's SQLOrderingUtil semantics), ties
  * broken by id ascending. Membership and order of the returned ids
  * are therefore IDENTICAL to the window form's rank ≤ k rows; no
  * arithmetic is performed on the scores at all.
  *
  * Duplicates: a (score, id) pair seen twice takes two slots and is
  * emitted twice, exactly as row_number ranks both copies.
  *
  * NULL handling: rows with a NULL score or id are skipped — callers
  * in the engine evaluate both from non-null guarded inputs, so the
  * branch is unreachable there (asserted by the oracle hash match);
  * skipping mirrors a rank filter under DESC NULLS LAST ordering for
  * any k up to the group's non-null row count, while the window form
  * would keep NULL rows last in a shorter group (TopKScoreIdsSpec pins
  * both cases). */
case class TopKScoreIds(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKScoreIds.Buf] with ExpectsInputTypes {

  require(k > 0, "top_k_score_ids: k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(DoubleType, LongType)

  override def createAggregationBuffer(): TopKScoreIds.Buf =
    new TopKScoreIds.Buf(k)

  override def update(buf: TopKScoreIds.Buf, input: InternalRow): TopKScoreIds.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKScoreIds.Buf, other: TopKScoreIds.Buf): TopKScoreIds.Buf = {
    var j = 0
    while (j < other.n) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKScoreIds.Buf): Any = {
    val out = new Array[Long](buf.n)
    System.arraycopy(buf.ids, 0, out, 0, buf.n)
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKScoreIds.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKScoreIds.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKScoreIds.Buf(k)
    buf.n = n
    var j = 0
    while (j < n) { buf.scores(j) = bb.getDouble(); buf.ids(j) = bb.getLong(); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoreIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScoreIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))

  override def prettyName: String = "top_k_score_ids"
}

object TopKScoreIds {
  /** Rank-ordered bounded buffer: index 0 = best. k is single-digit in
    * every caller, so linear insertion beats a heap (branch-predictable,
    * no allocation). */
  final class Buf(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var n: Int = 0

    // Spark sort semantics: -0.0 == 0.0, NaN greatest (DESC ⇒ first)
    @inline private def norm(d: Double): Double = if (d == 0.0) 0.0 else d
    /** < 0 iff (s1, i1) ranks strictly before (s2, i2). */
    @inline private def cmp(s1: Double, i1: Long, s2: Double, i2: Long): Int = {
      val c = java.lang.Double.compare(norm(s2), norm(s1))
      if (c != 0) c else java.lang.Long.compare(i1, i2)
    }

    def insert(s: Double, id: Long): Unit = {
      if (n == k && cmp(s, id, scores(n - 1), ids(n - 1)) >= 0) return
      var pos = if (n == k) n - 1 else n
      // shift worse entries down; find insertion point from the tail
      while (pos > 0 && cmp(s, id, scores(pos - 1), ids(pos - 1)) < 0) {
        scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
      }
      scores(pos) = s; ids(pos) = id
      if (n < k) n += 1
    }
  }

  /** Column-API entry point. */
  def apply(score: Column, id: Column, k: Int): Column =
    bridge.toColumn(
      TopKScoreIds(bridge.toExpression(score), bridge.toExpression(id), k)
        .toAggregateExpression())
}
