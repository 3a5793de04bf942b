package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra–Gries heavy-hitter summary with capacity m: at most m
  * counters; overflow decrements all live counters (update) or
  * subtracts the (m+1)-th largest count (merge — Agarwal et al.,
  * "Mergeable Summaries", PODS'12). Invariant after any mix of
  * updates/merges over n items: every key's estimate satisfies
  * f(x) − n/(m+1) ≤ est(x) ≤ f(x), so every key with
  * f(x) > n/(m+1) is present. */
final class MGBuffer(val m: Int) {
  val counts = new java.util.HashMap[Long, Long]()

  def add(key: Long, by: Long): Unit = {
    val cur = counts.get(key)
    if (cur != 0L || counts.containsKey(key)) counts.put(key, cur + by)
    else if (counts.size < m) counts.put(key, by)
    else {
      // weighted overflow = merging the singleton {key → by} into a
      // full buffer: subtract the (m+1)-th largest count — the min of
      // the m+1 values — from everything, keep what stays positive.
      // For by=1 this degenerates to the classic decrement-all-by-one
      // (the new key never survives); for by>1 the key enters with its
      // residual, preserving the f − n/(m+1) ≤ est ≤ f band (total
      // decrement ≤ n/(m+1) still amortizes over total weight).
      var mn = by
      val vi = counts.values().iterator()
      while (vi.hasNext) { val v = vi.next(); if (v < mn) mn = v }
      decrementAll(mn)
      if (by > mn) counts.put(key, by - mn)
    }
  }

  private def decrementAll(by: Long): Unit = {
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - by
      if (nv <= 0) it.remove() else e.setValue(nv)
    }
  }

  def mergeIn(other: MGBuffer): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counts.get(e.getKey)
      counts.put(e.getKey, cur + e.getValue)
    }
    if (counts.size > m) {
      // subtract the (m+1)-th largest count from everything, drop ≤ 0
      val vals = new Array[Long](counts.size)
      var i = 0
      val vi = counts.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val d = vals(vals.length - m - 1)
      decrementAll(d)
    }
  }

  /** (key, est) pairs, est desc then key asc. */
  def sortedEntries: Array[(Long, Long)] = {
    val arr = new Array[(Long, Long)](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue); i += 1 }
    arr.sortBy { case (k, v) => (-v, k) }
  }
}

/** Heavy hitters as a custom `TypedImperativeAggregate`: each task
  * keeps an m-bounded counter map (partial aggregation — the Zipf head
  * collapses map-side exactly like a wordcount partial), partials
  * merge with the mergeable-summaries rule, and the driver never sees
  * more than m counters per group. The deterministic alternative to
  * sketch libraries for "top sources / hot keys over 100 TB" where an
  * exact groupBy's key cardinality would not fit.
  * Input: key bigint; output: array<struct<key, est>> est-desc. */
case class MisraGriesAgg(child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType), StructField("est", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): MGBuffer = new MGBuffer(m)

  override def update(b: MGBuffer, input: InternalRow): MGBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long], 1L)
    b
  }

  override def merge(b: MGBuffer, other: MGBuffer): MGBuffer = {
    b.mergeIn(other)
    b
  }

  override def eval(b: MGBuffer): Any =
    new GenericArrayData(b.sortedEntries.map { case (k, v) =>
      InternalRow(k, v): Any
    })

  override def serialize(b: MGBuffer): Array[Byte] = {
    val entries = b.sortedEntries
    val buf = ByteBuffer.allocate(8 + entries.length * 16)
    buf.putInt(b.m).putInt(entries.length)
    entries.foreach { case (k, v) => buf.putLong(k).putLong(v) }
    buf.array().take(buf.position())
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new MGBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.counts.put(buf.getLong(), buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = cs.head)
}
