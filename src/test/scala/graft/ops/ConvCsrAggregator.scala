package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.schema.Turn
import graft.stream.CsrState

/** Batch CSR assembly as a typed Aggregator (SURVEY §2.10) — the
  * batch-parity twin of the streaming [[graft.stream.CsrState]] keyed
  * state: same sorted-seen-set representation, same CSR derivation, so
  * streaming == batch equivalence is testable operator-for-operator.
  *
  * The buffer is an amortized append log (capacity-doubling array + valid
  * length): reduce/merge are O(1)/O(a+b) and dedup+sort happen ONCE in
  * finish. The previous `(seen :+ x).distinct` re-scanned the array per
  * ROW — O(n²) per key, ~12.5M array walks for one 5k-turn hot
  * conversation.
  *
  * Test-side reference implementation: the engine runs its imperative
  * twin [[graft.functions.CsrShapeAgg]], pinned against this in
  * CsrAggSpec, CsrParitySpec and ResumeSpec.
  */
case class CsrBuf(seen: Array[Int], len: Int)
case class CsrOut(n_turns: Int, n_edges: Int, min_idx: Int, max_idx: Int,
                  contiguous: Boolean)

object ConvCsrAggregator extends Aggregator[Turn, CsrBuf, CsrOut] {
  type Buf = CsrBuf
  type Out = CsrOut

  override def zero: Buf = CsrBuf(Array.empty, 0)

  override def reduce(b: Buf, t: Turn): Buf = {
    val arr =
      if (b.len < b.seen.length) b.seen
      else java.util.Arrays.copyOf(b.seen, math.max(8, b.seen.length * 2))
    arr(b.len) = t.turn_idx
    CsrBuf(arr, b.len + 1)
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val arr = java.util.Arrays.copyOf(a.seen, a.len + b.len)
    System.arraycopy(b.seen, 0, arr, a.len, b.len)
    CsrBuf(arr, a.len + b.len)
  }

  override def finish(b: Buf): Out = {
    val seen = b.seen.take(b.len).distinct.sorted
    val (_, indices) = CsrState.csrOf(seen)
    CsrOut(
      n_turns = seen.length,
      n_edges = indices.length,
      min_idx = if (seen.isEmpty) -1 else seen.head,
      max_idx = if (seen.isEmpty) -1 else seen.last,
      contiguous = seen.nonEmpty && seen.last - seen.head + 1 == seen.length)
  }

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}
