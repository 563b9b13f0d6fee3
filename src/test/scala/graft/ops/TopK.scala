package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored candidate row entering a per-key top-k. `key` is the rank
  * score (e.g. rounded similarity), `sim` the raw score carried through.
  */
case class ScoredRow(query_id: Long, nbr_id: Long, key: Double, sim: Double)

/** A kept top-k entry. */
case class TopEntry(key: Double, nbr_id: Long, sim: Double)

/** Bounded top-k per key as a typed Aggregator (O7 at scale): reduce and
  * merge keep at most k entries under (key desc, nbr_id asc), so the
  * MAP-SIDE partial aggregation prunes every partition to k rows per key
  * BEFORE the shuffle. An all-pairs kNN baseline then shuffles
  * O(keys × k) instead of O(pairs) — the difference between a 100 MB and
  * a 100 TB shuffle at corpus scale. The total order (score desc, id asc)
  * makes the result identical to a row_number window over the full pair
  * set (tested against it in KnnSpec).
  *
  * Test-side reference implementation: the engine runs its imperative
  * twin [[graft.functions.TopKByScoreAgg]], pinned against this in
  * TopKAggSpec and KernelProps.
  */
class TopKByScore(k: Int) extends Aggregator[ScoredRow, Seq[TopEntry], Seq[TopEntry]] {

  private def better(a: TopEntry, b: TopEntry): Boolean =
    a.key > b.key || (a.key == b.key && a.nbr_id < b.nbr_id)

  private def insert(buf: Seq[TopEntry], e: TopEntry): Seq[TopEntry] = {
    // NaN keys (e.g. cosine of a zero-norm vector) never rank: `better`
    // is false in both directions for NaN, which would make placement
    // arrival-order-dependent — drop them for a deterministic, total
    // ordering contract
    if (e.key.isNaN) buf
    else if (buf.length >= k && !better(e, buf.last)) buf
    else {
      val (pre, post) = buf.span(better(_, e))
      ((pre :+ e) ++ post).take(k)
    }
  }

  override def zero: Seq[TopEntry] = Seq.empty

  override def reduce(buf: Seq[TopEntry], s: ScoredRow): Seq[TopEntry] =
    insert(buf, TopEntry(s.key, s.nbr_id, s.sim))

  override def merge(a: Seq[TopEntry], b: Seq[TopEntry]): Seq[TopEntry] =
    b.foldLeft(a)(insert)

  override def finish(buf: Seq[TopEntry]): Seq[TopEntry] = buf

  override def bufferEncoder: Encoder[Seq[TopEntry]] =
    ExpressionEncoder[Seq[TopEntry]]()
  override def outputEncoder: Encoder[Seq[TopEntry]] =
    ExpressionEncoder[Seq[TopEntry]]()
}
