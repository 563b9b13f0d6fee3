package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer ordered by (key desc, id asc): parallel
  * primitive arrays + insertion sort — k is small (≤ tens), so insert is
  * a short memmove with zero allocation per row.
  */
final class TopKBuf(val k: Int) {
  val keys = new Array[Double](k)
  val ids = new Array[Long](k)
  val sims = new Array[Double](k)
  var size = 0

  /** Same total order as the typed `graft.ops.TopKByScore`: NaN keys
    * never rank (deterministic contract); ties on key break by ascending
    * id.
    */
  def insert(key: Double, id: Long, sim: Double): Unit = {
    if (key.isNaN) return
    if (size >= k) {
      val lk = keys(size - 1); val li = ids(size - 1)
      // not better than the current last => drop
      if (!(key > lk || (key == lk && id < li))) return
    }
    var pos = if (size < k) size else k - 1
    while (pos > 0 &&
           (key > keys(pos - 1) ||
            (key == keys(pos - 1) && id < ids(pos - 1)))) {
      keys(pos) = keys(pos - 1); ids(pos) = ids(pos - 1); sims(pos) = sims(pos - 1)
      pos -= 1
    }
    keys(pos) = key; ids(pos) = id; sims(pos) = sim
    if (size < k) size += 1
  }
}

/** Bounded per-group top-k as a Catalyst [[TypedImperativeAggregate]] —
  * the InternalRow-level twin of the typed `graft.ops.TopKByScore`, the
  * reference implementation kept in the test sources (identical ordering
  * contract, pinned against it in TopKAggSpec and KernelProps). The typed
  * Aggregator paid a per-row encoder round-trip (ScoredRow
  * deserialization + an immutable Seq rebuild per insert) that dominated
  * the all-pairs kNN stage; this update path reads the three input fields
  * straight off the InternalRow into a mutable primitive-array buffer.
  * Map-side partial aggregation still prunes every partition to k rows
  * per group before the shuffle (ObjectHashAggregate partial → merge),
  * so the scale shape is unchanged: O(groups × k) shuffled, never
  * O(pairs).
  *
  * Output: array<struct<key:double, nbr_id:bigint, sim:double>> sorted
  * best-first — element order IS the rank, exactly like the Aggregator's
  * finish().
  */
case class TopKByScoreAgg(
    first: Expression, second: Expression, third: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] with TernaryLike[Expression]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  // analysis-time typing (the typed Aggregator this replaced got the
  // same safety from its encoder): mis-typed columns are rejected or
  // coerced at analysis instead of ClassCastException mid-task
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, LongType, DoubleType)

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val kv = first.eval(input)
    val iv = second.eval(input)
    val sv = third.eval(input)
    if (kv != null && iv != null && sv != null)
      buf.insert(kv.asInstanceOf[Double], iv.asInstanceOf[Long],
                 sv.asInstanceOf[Double])
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.keys(i), other.ids(i), other.sims(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKBuf): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = InternalRow(buf.keys(i), buf.ids(i), buf.sims(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.size * 24)
    bb.putInt(buf.k).putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.keys(i)).putLong(buf.ids(i)).putDouble(buf.sims(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuf(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      buf.keys(i) = bb.getDouble(); buf.ids(i) = bb.getLong()
      buf.sims(i) = bb.getDouble()
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", DoubleType, nullable = false),
    StructField("nbr_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def prettyName: String = "top_k_by_score"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): TopKByScoreAgg =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TopKAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Per-group bounded top-k of (key, id, sim) rows ordered (key desc,
    * id asc); result array is rank-ordered. `key` must be double, `id`
    * long, `sim` double.
    */
  def top_k_by_score(key: Column, id: Column, sim: Column, k: Int): Column =
    Bridge.column(TopKByScoreAgg(
      Bridge.expression(key), Bridge.expression(id), Bridge.expression(sim),
      k).toAggregateExpression())
}
