package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.stream.CsrState

/** Amortized append log of turn indices — the mutable twin of the old
  * `CsrBuf` (capacity-doubling array + valid length); dedup + sort happen
  * once in eval, exactly like the Aggregator's finish().
  */
final class CsrAggBuf(var seen: Array[Int], var len: Int) {
  def append(idx: Int): Unit = {
    if (len >= seen.length)
      seen = java.util.Arrays.copyOf(seen, math.max(8, seen.length * 2))
    seen(len) = idx
    len += 1
  }
}

/** Per-conversation CSR shape as a Catalyst [[TypedImperativeAggregate]] —
  * the InternalRow-level twin of the typed `graft.ops.ConvCsrAggregator`
  * it replaced in q_csr_agg, the reference implementation kept in the
  * test sources (identical output: same [[CsrState.csrOf]] derivation,
  * pinned row-for-row in CsrAggSpec). The typed path paid a
  * per-row encoder round-trip that deserialized the ENTIRE Turn — conv_id,
  * role, text, tool, ts — to read one Int, and its `.as[Turn]` blocked
  * column pruning, so the full turn text was carried through the
  * turn-derivation shuffle. This update path reads the single int32 off
  * the InternalRow, and the untyped groupBy lets pruning cut the plan to
  * (conv_id, turn_idx) end to end. Map-side partial aggregation still
  * applies (ObjectHashAggregate partial → merge), so the shuffle carries
  * one buffer per (partition, conversation), not one row per turn.
  *
  * Output: struct<n_turns:int, n_edges:int, min_idx:int, max_idx:int,
  * contiguous:boolean> — same fields, types and values as the old
  * `CsrOut`.
  *
  * Rows whose `turn_idx` is null are skipped (`update` appends only
  * non-null values), so they count toward no shape. The driver feed
  * never yields one: [[graft.schema.Turn]]'s `turn_idx` is a non-null
  * `Int`, and the turn derivation ranks every row.
  */
case class CsrShapeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CsrAggBuf] with UnaryLike[Expression]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(IntegerType)

  override def createAggregationBuffer(): CsrAggBuf =
    new CsrAggBuf(Array.emptyIntArray, 0)

  override def update(buf: CsrAggBuf, input: InternalRow): CsrAggBuf = {
    val v = child.eval(input)
    if (v != null) buf.append(v.asInstanceOf[Int])
    buf
  }

  override def merge(buf: CsrAggBuf, other: CsrAggBuf): CsrAggBuf = {
    var i = 0
    while (i < other.len) { buf.append(other.seen(i)); i += 1 }
    buf
  }

  override def eval(buf: CsrAggBuf): Any = {
    // distinct + sort once per group, exactly like the old finish():
    // sort the valid prefix, then compact equal runs in place
    val a = java.util.Arrays.copyOf(buf.seen, buf.len)
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    val seen = if (n == a.length) a else java.util.Arrays.copyOf(a, n)
    val (_, indices) = CsrState.csrOf(seen)
    InternalRow(
      n,
      indices.length,
      if (n == 0) -1 else seen(0),
      if (n == 0) -1 else seen(n - 1),
      n > 0 && seen(n - 1) - seen(0) + 1 == n)
  }

  override def serialize(buf: CsrAggBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.len * 4)
    bb.putInt(buf.len)
    var i = 0
    while (i < buf.len) { bb.putInt(buf.seen(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CsrAggBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val arr = new Array[Int](n)
    var i = 0
    while (i < n) { arr(i) = bb.getInt(); i += 1 }
    new CsrAggBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CsrShapeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CsrShapeAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  // fields nullable to mirror the typed Aggregator's encoder output — the
  // dumped parquet schema (optional int32/bool) is byte-identical to the
  // pre-r07 q_csr_agg dump
  override def dataType: DataType = StructType(Seq(
    StructField("n_turns", IntegerType),
    StructField("n_edges", IntegerType),
    StructField("min_idx", IntegerType),
    StructField("max_idx", IntegerType),
    StructField("contiguous", BooleanType)))

  override def prettyName: String = "csr_shape"

  override protected def withNewChildInternal(newChild: Expression): CsrShapeAgg =
    copy(child = newChild)
}

object CsrAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Per-group CSR shape of the int turn-index column: struct<n_turns,
    * n_edges, min_idx, max_idx, contiguous> over the distinct sorted
    * index set ([[CsrState.csrOf]] derivation).
    */
  def csr_shape(turnIdx: Column): Column =
    Bridge.column(CsrShapeAgg(Bridge.expression(turnIdx))
      .toAggregateExpression())
}
