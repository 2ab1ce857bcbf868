package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items summary state: at most `capacity`
  * (item → counter) entries. Mutable plain HashMap — the aggregation
  * path touches it single-threaded per buffer.
  */
final class MgSummary(val capacity: Int) {
  val counters = new java.util.HashMap[UTF8String, Long](capacity * 2)

  /** Classic MG update: increment if tracked, insert while below
    * capacity, else decrement every counter (dropping zeros) — the
    * step that charges one occurrence of each tracked item against
    * the untracked arrival. Amortized O(1): each decrement sweep
    * removes at least one entry paid for by a prior insert.
    */
  def add(item: UTF8String): Unit = {
    val cur = counters.get(item)
    if (cur != 0L || counters.containsKey(item)) {
      counters.put(item, cur + 1L)
    } else if (counters.size < capacity) {
      // defensive copy: the incoming UTF8String may view a reused
      // row buffer; the map key must own its bytes
      counters.put(item.clone(), 1L)
    } else {
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Mergeable-summaries combine (Agarwal et al., PODS'12): sum
    * counters pairwise, then if more than `capacity` survive,
    * subtract the (capacity+1)-th largest count from every entry and
    * drop the non-positive — error stays ≤ n/(capacity+1) over the
    * TOTAL stream regardless of merge tree shape.
    */
  def merge(other: MgSummary): Unit = {
    val it = other.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counters.get(e.getKey)
      counters.put(e.getKey, cur + e.getValue)
    }
    if (counters.size > capacity) {
      val vals = new Array[Long](counters.size)
      var i = 0
      val vi = counters.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      // (capacity+1)-th largest = index size-capacity-1 ascending
      val sub = vals(vals.length - capacity - 1)
      val ei = counters.entrySet().iterator()
      while (ei.hasNext) {
        val e = ei.next()
        if (e.getValue <= sub) ei.remove() else e.setValue(e.getValue - sub)
      }
    }
  }
}

/** Misra-Gries heavy-hitters sketch as a native imperative aggregate:
  * `graft_heavy_hitters(item, capacity)` → map<string,bigint> of at
  * most `capacity` candidates with UNDER-estimated counts
  * (true − n/(capacity+1) ≤ estimate ≤ true). The containment
  * guarantee is the useful contract: EVERY item occurring more than
  * n/(capacity+1) times is in the map, for any partition layout and
  * merge order — so a fixed-size sketch (vs the unbounded state of an
  * exact group-by) is a sound first pass for exact heavy hitters:
  * sketch → ≤ capacity candidate keys → one conditional re-count of
  * candidates only → threshold filter gives the EXACT answer with
  * bounded state end to end (see TextQueries q_heavy_hitters).
  * Capacity is a construction-time literal; state is O(capacity)
  * on every executor regardless of stream length.
  */
case class HeavyHitters(child: Expression, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgSummary] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if capacity >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      "graft_heavy_hitters capacity must be >= 1")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_heavy_hitters requires a string item column, got $t")
  }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): MgSummary = new MgSummary(capacity)

  override def update(buffer: MgSummary, input: InternalRow): MgSummary = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: MgSummary, other: MgSummary): MgSummary = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: MgSummary): Any = {
    val n = buffer.counters.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    val it = buffer.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue
      i += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  override def serialize(buffer: MgSummary): Array[Byte] = {
    var bytes = 8
    val sit = buffer.counters.keySet().iterator()
    while (sit.hasNext) bytes += 12 + sit.next().numBytes()
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buffer.capacity)
    bb.putInt(buffer.counters.size)
    val it = buffer.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      bb.putInt(kb.length)
      bb.put(kb)
      bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgSummary = {
    val bb = ByteBuffer.wrap(bytes)
    val cap = bb.getInt
    val n = bb.getInt
    val s = new MgSummary(cap)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val kb = new Array[Byte](len)
      bb.get(kb)
      s.counters.put(UTF8String.fromBytes(kb), bb.getLong)
      i += 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HeavyHitters =
    copy(child = newChild)
}
