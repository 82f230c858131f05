package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** One-pass dim×dim Gram matrix of the 10⁻³-quantized embedding corpus:
  * G[a·dim+b] = Σ_rows xq[a]·xq[b] with xq = floor(x·1000 + 0.5) LONG —
  * the scan that lets power iteration run ALL its rounds driver-side
  * (w = G·v is integer-identical to the per-round corpus scan
  * Σ_rows xq[d]·(xq·vq), by exact associativity), collapsing
  * [[graft.llm.Similarity.pcaPower]] from T+1 corpus jobs to 2
  * (r15 VERDICT item 4).
  *
  * Shape: a TypedImperativeAggregate over a flat Array[Long](dim²)
  * buffer — map-side combined (ObjectHashAggregate partials), merge is
  * element-wise add, output one array<long> row. Per-row update is the
  * O(dim²) outer product in tight JVM loops over the raw ArrayData
  * (no boxing); vectors shorter than `dim` contribute their prefix
  * (mirrors the posexplode form it replaces), NULL vectors contribute
  * nothing. Driver state is O(dim²) ≤ 64² longs = 32 KiB — centroid
  * discipline, never O(corpus). */
case class GramMatrixQ(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(FloatType))

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim * dim)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val m = math.min(a.numElements(), dim)
      val xq = new Array[Long](m)
      var i = 0
      while (i < m) {
        xq(i) = math.floor(a.getFloat(i).toDouble * 1000.0 + 0.5).toLong
        i += 1
      }
      i = 0
      while (i < m) {
        val xi = xq(i); val row = i * dim
        var j = 0
        while (j < m) { buf(row + j) += xi * xq(j); j += 1 }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixQ =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixQ =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "gram_matrix_q"
}

object GramMatrixQ {
  /** Column-API entry point (global aggregate). */
  def apply(v: Column, dim: Int): Column =
    bridge.toColumn(
      GramMatrixQ(bridge.toExpression(v), dim).toAggregateExpression())
}
