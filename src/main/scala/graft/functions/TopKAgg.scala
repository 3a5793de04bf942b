package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded buffer for top-k (score desc, id asc): holds ≤ k entries,
  * worst element found by linear scan (k is small by construction). */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  private def worseThan(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  def insert(score: Double, id: Long): Unit = {
    if (size < k) { scores(size) = score; ids(size) = id; size += 1 }
    else {
      var w = 0
      var i = 1
      while (i < size) {
        if (worseThan(scores(i), ids(i), scores(w), ids(w))) w = i
        i += 1
      }
      if (worseThan(scores(w), ids(w), score, id)) { scores(w) = score; ids(w) = id }
    }
  }

  /** indices sorted best-first. */
  def sorted: Array[Int] =
    (0 until size).sortBy(i => (-scores(i), ids(i))).toArray
}

/** TOP-K as a custom `TypedImperativeAggregate`: the scalable
  * replacement for window-rank top-k — partial buffers combine
  * map-side (each task keeps a k-bounded heap per group, merge is
  * k+k inserts), so no per-group sort and no full window shuffle of
  * non-winners. Input: struct(score: double, id: bigint); output:
  * array<struct<score, id>> ordered best-first (score desc, id asc).
  */
case class TopKAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        b.insert(row.getDouble(0), row.getLong(1))
    }
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { b.insert(other.scores(i), other.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.sorted.map { i =>
      InternalRow(b.scores(i), b.ids(i)): Any
    })

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + b.size * 16)
    buf.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putDouble(b.scores(i)); buf.putLong(b.ids(i)); i += 1 }
    buf.array().take(buf.position())
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.insert(buf.getDouble(), buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKAgg =
    copy(child = cs.head)
}
