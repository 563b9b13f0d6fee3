package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Misra-Gries sketch: at most `capacity` counters, keyed by
  * OWNED (cloned) UTF8Strings — lookups probe with the transient row
  * value and clone only on first insert, so the steady state (counter
  * already present) allocates nothing per row.
  */
final class MgAggBuf(val capacity: Int) {
  final class Cnt(var v: Long)
  val m = new java.util.HashMap[UTF8String, Cnt]()

  /** One input item — the classic MG step: present → increment; room →
    * insert; full → decrement every counter (the new item's implicit
    * counter hits 0), drop zeros, do not insert.
    */
  def addOne(item: UTF8String): Unit = {
    val cur = m.get(item)
    if (cur != null) cur.v += 1
    else if (m.size < capacity) m.put(item.clone(), new Cnt(1L))
    else {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        e.getValue.v -= 1
        if (e.getValue.v <= 0) it.remove()
      }
    }
  }

  /** Counter-weight add for merge (key is already owned by the source
    * sketch, no clone needed).
    */
  def addCount(item: UTF8String, c: Long): Unit = {
    val cur = m.get(item)
    if (cur != null) cur.v += c else m.put(item, new Cnt(c))
  }

  /** Mergeable-summaries reduction: subtract the (capacity+1)-th largest
    * count from every counter, keep positives — the combined sketch keeps
    * the MG error bound.
    */
  def reduceIfOver(): Unit = {
    if (m.size <= capacity) return
    val counts = new Array[Long](m.size)
    var i = 0
    val vit = m.values().iterator()
    while (vit.hasNext) { counts(i) = vit.next().v; i += 1 }
    java.util.Arrays.sort(counts)
    val cut = counts(counts.length - 1 - capacity) // (capacity+1)-th largest
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      e.getValue.v -= cut
      if (e.getValue.v <= 0) it.remove()
    }
  }
}

/** Misra-Gries heavy hitters as a Catalyst [[TypedImperativeAggregate]]
  * — the engine's one MG sketch, behind both the batch
  * [[graft.ops.HeavyHitters.terms]] and the streaming
  * [[graft.ops.HeavyHitters.windowedTerms]] (where the serialized buffer
  * is the per-window state). It keeps at most `capacity` counters per
  * group where a plain groupBy count keys state by DISTINCT VALUE;
  * map-side partial aggregation reduces every partition to ≤ capacity
  * counters per group before the shuffle, so O(groups × capacity) rows
  * move at any corpus size.
  *
  * Guarantees (the classic MG bound, and the mergeable-summaries merge of
  * Agarwal et al., PODS'12): with N items in a group, every item whose
  * true frequency exceeds N/(capacity+1) is present in the output, and a
  * reported count undercounts its true frequency by at most
  * N/(capacity+1). When a group's DISTINCT item count is ≤ capacity, no
  * counter is ever evicted anywhere and every reported count is EXACT —
  * the condition the driver oracle runs under; the approximate regime's
  * bounds are pinned by HeavyHittersSpec on an adversarial stream.
  *
  * Output: array<struct<item,cnt>> sorted (cnt desc, item asc). The
  * update path probes an open HashMap with the transient UTF8String
  * straight off the InternalRow and clones only on first insert; the
  * typed Aggregator it replaced (now MgAggSpec's test-side reference,
  * pinned step for step) paid a per-row String deserialization plus an
  * immutable Map rebuild per item.
  */
case class MgSketchAgg(
    child: Expression, capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgAggBuf] with UnaryLike[Expression]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): MgAggBuf = new MgAggBuf(capacity)

  override def update(buf: MgAggBuf, input: InternalRow): MgAggBuf = {
    val v = child.eval(input)
    if (v != null) buf.addOne(v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: MgAggBuf, other: MgAggBuf): MgAggBuf = {
    val it = other.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.addCount(e.getKey, e.getValue.v)
    }
    buf.reduceIfOver()
    buf
  }

  override def eval(buf: MgAggBuf): Any = {
    // (cnt desc, item asc) — item order via java.lang.String like the
    // typed reference's sortBy((-c, k)), so ranks match for any input
    val entries = new Array[(String, UTF8String, Long)](buf.m.size)
    var i = 0
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (e.getKey.toString, e.getKey, e.getValue.v)
      i += 1
    }
    java.util.Arrays.sort(entries, new java.util.Comparator[(String, UTF8String, Long)] {
      override def compare(a: (String, UTF8String, Long),
                           b: (String, UTF8String, Long)): Int = {
        val byCnt = java.lang.Long.compare(b._3, a._3)
        if (byCnt != 0) byCnt else a._1.compareTo(b._1)
      }
    })
    val out = new Array[Any](entries.length)
    i = 0
    while (i < entries.length) {
      out(i) = InternalRow(entries(i)._2, entries(i)._3)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: MgAggBuf): Array[Byte] = {
    var bytes = 8
    val sit = buf.m.keySet().iterator()
    while (sit.hasNext) bytes += 12 + sit.next().numBytes()
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.capacity).putInt(buf.m.size)
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      bb.putInt(kb.length)
      bb.put(kb)
      bb.putLong(e.getValue.v)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgAggBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MgAggBuf(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt())
      bb.get(kb)
      buf.m.put(UTF8String.fromBytes(kb), new buf.Cnt(bb.getLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MgSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  // item nullable, cnt not: the schema of the typed Seq[MgHit] encoder it
  // replaced, so dumped parquet schemas stay as they were
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = true),
    StructField("cnt", LongType, nullable = false))), containsNull = true)

  override def prettyName: String = "mg_sketch"

  override protected def withNewChildInternal(newChild: Expression): MgSketchAgg =
    copy(child = newChild)
}

object MgAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Misra-Gries sketch of the string column: at most `capacity`
    * (item, cnt) counters per group, (cnt desc, item asc) rank order.
    * Exact when the group's distinct item count is ≤ capacity.
    */
  def mg_sketch(item: Column, capacity: Int): Column =
    Bridge.column(MgSketchAgg(Bridge.expression(item), capacity)
      .toAggregateExpression())
}
