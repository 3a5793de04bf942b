package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded buffer for the k smallest longs: holds ≤ k entries, the
  * current worst (max) found by linear scan — k is small by
  * construction (LSH bucket cap 64), so the scan beats heap upkeep. */
final class MinKBuffer(val k: Int) {
  val vals = new Array[Long](k)
  var size = 0

  def insert(v: Long): Unit = {
    if (size < k) { vals(size) = v; size += 1 }
    else {
      var w = 0
      var i = 1
      while (i < size) { if (vals(i) > vals(w)) w = i; i += 1 }
      if (v < vals(w)) vals(w) = v
    }
  }

  /** values sorted ascending. */
  def sorted: Array[Long] = vals.take(size).sorted
}

/** K-SMALLEST as a custom `TypedImperativeAggregate`: the bounded
  * replacement for `slice(sort_array(collect_list(x)), 1, k)` — that
  * form materializes the ENTIRE group in one aggregation buffer before
  * slicing, so a degenerate group (the skew case a bucket cap exists to
  * defend against) can still OOM a task. Here every partial buffer is
  * k-bounded, merge is ≤ k inserts, and the group's full membership
  * never exists in memory anywhere. Input: bigint; output: array<bigint>
  * sorted ascending (identical to the sort+slice form when the group
  * has no duplicate values, which [[graft.ops.Dedup.minhashPairs]]
  * guarantees: one row per (doc_id, band)).
  */
case class MinKAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): MinKBuffer = new MinKBuffer(k)

  override def update(b: MinKBuffer, input: InternalRow): MinKBuffer = {
    val v = child.eval(input)
    if (v != null) b.insert(v.asInstanceOf[Long])
    b
  }

  override def merge(b: MinKBuffer, other: MinKBuffer): MinKBuffer = {
    var i = 0
    while (i < other.size) { b.insert(other.vals(i)); i += 1 }
    b
  }

  override def eval(b: MinKBuffer): Any = new GenericArrayData(b.sorted)

  override def serialize(b: MinKBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + b.size * 8)
    buf.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putLong(b.vals(i)); i += 1 }
    buf.array().take(buf.position())
  }

  override def deserialize(bytes: Array[Byte]): MinKBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new MinKBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.insert(buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MinKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): MinKAgg =
    copy(child = cs.head)
}

/** Bounded buffer for the k lexicographically-smallest (key, value)
  * long pairs — exact long comparisons throughout (a double-scored
  * top-k would corrupt 64-bit hash keys past 2^53). */
final class MinKPairBuffer(val k: Int) {
  val keys = new Array[Long](k)
  val vals = new Array[Long](k)
  var size = 0

  private def lt(k1: Long, v1: Long, k2: Long, v2: Long): Boolean =
    k1 < k2 || (k1 == k2 && v1 < v2)

  def insert(key: Long, v: Long): Unit = {
    if (size < k) { keys(size) = key; vals(size) = v; size += 1 }
    else {
      var w = 0
      var i = 1
      while (i < size) {
        if (lt(keys(w), vals(w), keys(i), vals(i))) w = i
        i += 1
      }
      if (lt(key, v, keys(w), vals(w))) { keys(w) = key; vals(w) = v }
    }
  }

  /** values of the kept pairs, ordered by (key, value) ascending. */
  def sortedVals: Array[Long] =
    (0 until size).sortBy(i => (keys(i), vals(i))).map(vals).toArray
}

/** K-SMALLEST-BY-KEY as a bounded `TypedImperativeAggregate`: the
  * drop-in for `slice(transform(array_sort(collect_list(struct(key,
  * value))), e -> e.value), 1, k)` — identical selection and order
  * (k lexicographically-smallest pairs, values emitted in pair
  * order), but every partial buffer is k-bounded so a degenerate
  * group can never OOM a task. Used by the hash-ordered LSH bucket
  * cap in [[graft.ops.Dedup.dedupEmbedding]], where the key is an
  * unbiased per-id hash. Input: struct(key: bigint, value: bigint);
  * output: array<bigint>.
  */
case class MinKPairAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKPairBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): MinKPairBuffer = new MinKPairBuffer(k)

  override def update(b: MinKPairBuffer, input: InternalRow): MinKPairBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        b.insert(row.getLong(0), row.getLong(1))
    }
    b
  }

  override def merge(b: MinKPairBuffer, other: MinKPairBuffer): MinKPairBuffer = {
    var i = 0
    while (i < other.size) { b.insert(other.keys(i), other.vals(i)); i += 1 }
    b
  }

  override def eval(b: MinKPairBuffer): Any =
    new GenericArrayData(b.sortedVals)

  override def serialize(b: MinKPairBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + b.size * 16)
    buf.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putLong(b.keys(i)); buf.putLong(b.vals(i)); i += 1 }
    buf.array().take(buf.position())
  }

  override def deserialize(bytes: Array[Byte]): MinKPairBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new MinKPairBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.insert(buf.getLong(), buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MinKPairAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinKPairAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): MinKPairAgg =
    copy(child = cs.head)
}
