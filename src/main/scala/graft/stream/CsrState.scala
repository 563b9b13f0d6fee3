package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.schema.Turn

/** Per-conversation incremental CSR adjacency state (T6) — the streaming
  * reinterpretation of the reference's builder accumulators: `node2idx` +
  * COO rows/cols/data (builders.py:145-148, 190-230) finalized to CSR
  * (utils.py:40-63), held as keyed state in `flatMapGroupsWithState`.
  *
  * State per conv_id is O(turns in that conversation): a sorted compressed
  * set of seen turn indices plus the CSR arrays of the chain adjacency.
  * Event-time timeout evicts conversations once the watermark passes
  * `idleTimeout` beyond their last turn, emitting a final summary — the
  * unbounded-input guarantee the north rule demands.
  */
object CsrState {

  /** Keyed state: seen turn indices (sorted, deduped) + last event time.
    * CSR arrays are derived on emit (chain adjacency: indptr/indices over
    * consecutive present indices) rather than stored — recomputing from
    * the sorted index set is O(n) and keeps the state minimal.
    */
  case class ConvState(seen: Array[Int], lastTsMs: Long, finalized: Boolean)

  /** Per-batch (and final, on timeout) conversation summary with CSR
    * shape: nnz = edges between consecutive present turn indices.
    */
  case class ConvUpdate(
      conv_id: String,
      n_turns: Int,
      n_edges: Int,
      min_idx: Int,
      max_idx: Int,
      contiguous: Boolean,
      is_final: Boolean,
      last_ts: Timestamp)

  /** CSR derivation from the sorted seen-index set: edge i→j for
    * consecutive j = i+1 both present (the transcript Link rule, W3).
    */
  def csrOf(seen: Array[Int]): (Array[Int], Array[Int]) = {
    // `seen` is sorted and distinct (the state invariant), so "i+1 is
    // present" is exactly "the next element equals i+1" — no hash set
    val idx = new scala.collection.mutable.ArrayBuilder.ofInt
    val indptr = new Array[Int](seen.length + 1)
    var k = 0
    var row = 0
    while (row < seen.length) {
      if (row + 1 < seen.length && seen(row + 1) == seen(row) + 1) {
        k += 1; idx += seen(row) + 1
      }
      indptr(row + 1) = k
      row += 1
    }
    (indptr, idx.result())
  }

  /** One micro-batch's pre-aggregated slice of a conversation: the
    * distinct sorted turn indices seen by ONE input partition plus their
    * max event time — the map-side-combine unit of [[attachSalted]].
    */
  case class ConvPartial(conv_id: String, idxs: Array[Int], max_ts: Timestamp)

  def update(idleTimeoutMs: Long)(
      convId: String, turns: Iterator[Turn], state: GroupState[ConvState])
      : Iterator[ConvUpdate] =
    advance(idleTimeoutMs, convId, state,
      turns.map(t => (t.turn_idx, t.ts.getTime)))

  private def updateFromPartials(idleTimeoutMs: Long)(
      convId: String, parts: Iterator[ConvPartial],
      state: GroupState[ConvState]): Iterator[ConvUpdate] =
    advance(idleTimeoutMs, convId, state,
      parts.flatMap(p => p.idxs.iterator.map(i => (i, p.max_ts.getTime))))

  private def advance(idleTimeoutMs: Long, convId: String,
                      state: GroupState[ConvState],
                      incoming: Iterator[(Int, Long)]): Iterator[ConvUpdate] = {
    if (state.hasTimedOut) {
      val s = state.get
      val out = summarize(convId, s, isFinal = true)
      state.remove()
      Iterator.single(out)
    } else {
      val prev = state.getOption.getOrElse(ConvState(Array.empty, 0L, false))
      val b = new scala.collection.mutable.ArrayBuilder.ofInt
      var maxTs = prev.lastTsMs
      incoming.foreach { case (i, ts) =>
        b += i
        if (ts > maxTs) maxTs = ts
      }
      // sort/dedup the (small) per-batch delta only, then linear-merge it
      // into the already-sorted previous state: O(d log d + n) per batch
      // instead of re-sorting the full union — for a mega-conversation
      // receiving a trickle of turns per trigger, the state task's hot
      // loop is the merge, not an O(n log n) resort of everything seen.
      val delta = b.result()
      java.util.Arrays.sort(delta)
      val seen = mergeSortedDistinct(prev.seen, delta)
      val next = ConvState(seen, maxTs, finalized = false)
      state.update(next)
      state.setTimeoutTimestamp(maxTs + idleTimeoutMs)
      Iterator.single(summarize(convId, next, isFinal = false))
    }
  }

  /** Merge a sorted-distinct array with a sorted (possibly duplicated)
    * delta into one sorted-distinct array — the state-update kernel.
    */
  private[stream] def mergeSortedDistinct(prev: Array[Int],
                                          delta: Array[Int]): Array[Int] = {
    if (delta.isEmpty) return prev
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(prev.length + delta.length)
    var i = 0; var j = 0; var last = Int.MinValue; var first = true
    def emit(v: Int): Unit =
      if (first || v != last) { out += v; last = v; first = false }
    while (i < prev.length && j < delta.length) {
      if (prev(i) <= delta(j)) { emit(prev(i)); i += 1 }
      else { emit(delta(j)); j += 1 }
    }
    while (i < prev.length) { emit(prev(i)); i += 1 }
    while (j < delta.length) { emit(delta(j)); j += 1 }
    out.result()
  }

  private def summarize(convId: String, s: ConvState,
                        isFinal: Boolean): ConvUpdate = {
    val (indptr, indices) = csrOf(s.seen)
    ConvUpdate(
      convId,
      n_turns = s.seen.length,
      n_edges = indices.length,
      min_idx = if (s.seen.isEmpty) -1 else s.seen.head,
      max_idx = if (s.seen.isEmpty) -1 else s.seen.last,
      contiguous = s.seen.nonEmpty &&
        s.seen.last - s.seen.head + 1 == s.seen.length,
      is_final = isFinal,
      last_ts = new Timestamp(s.lastTsMs))
  }

  /** An interval string ("1 hour", "48 hours") in milliseconds, a month
    * counted as 30 days — the event-time timeout of the stateful stream
    * operators here and in [[Patterns]].
    */
  private[stream] def intervalMs(interval: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    iv.months * 2592000000L + iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Wire the operator over a typed turn stream. The input must carry a
    * watermark on `ts` for EventTimeTimeout to fire.
    */
  def attach(turns: Dataset[Turn], idleTimeout: String = "1 hour")
      : Dataset[ConvUpdate] = {
    implicit val stateEnc = Encoders.product[ConvState]
    implicit val outEnc = Encoders.product[ConvUpdate]
    val timeoutMs = intervalMs(idleTimeout)
    turns
      .groupByKey(_.conv_id)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(timeoutMs))
  }

  /** Skew-hardened variant (A14/X2 wired into the stateful path): a
    * map-side partial aggregation per INPUT PARTITION compacts each
    * conversation's micro-batch slice into one (idxs[], max_ts) row before
    * the keyed-state shuffle — the input partition plays the salt. A hot
    * conversation with 10⁶ rows in one micro-batch then crosses the
    * shuffle as ≤ numPartitions compact partials instead of 10⁶ Turn
    * objects, and the single state task merges pre-sorted arrays instead
    * of iterating raw rows. The event-time tag does not survive the
    * object map, so THIS operator declares the watermark on `max_ts`
    * with `watermarkDelay` — pass an UN-watermarked stream (Spark
    * disallows redefining a watermark in one chain). Per-partition max
    * preserves the global batch max, so the watermark VALUE (and thus
    * timeout behavior) is identical to [[attach]] over the same input.
    *
    * Late-drop granularity differs by design: attach drops each late
    * turn individually (row-level ts), while here lateness is judged per
    * PARTIAL (its max_ts) — a late turn riding a partial that also holds
    * a fresh turn is admitted. Output is row-identical to attach for
    * input whose lateness never straddles a partial (CsrParitySpec
    * covers the in-order case); pick attach when exact row-level late
    * semantics matter more than hot-key throughput.
    */
  def attachSalted(turns: Dataset[Turn], idleTimeout: String = "1 hour",
                   watermarkDelay: String = "10 minutes")
      : Dataset[ConvUpdate] = {
    implicit val pEnc = Encoders.product[ConvPartial]
    implicit val stateEnc = Encoders.product[ConvState]
    implicit val outEnc = Encoders.product[ConvUpdate]
    val timeoutMs = intervalMs(idleTimeout)
    val partials = turns.mapPartitions { it =>
      final class Acc {
        val b = new scala.collection.mutable.ArrayBuilder.ofInt
        var maxTs = Long.MinValue
      }
      val m = scala.collection.mutable.HashMap.empty[String, Acc]
      it.foreach { t =>
        val a = m.getOrElseUpdate(t.conv_id, new Acc)
        a.b += t.turn_idx
        val ts = t.ts.getTime
        if (ts > a.maxTs) a.maxTs = ts
      }
      m.iterator.map { case (c, a) =>
        ConvPartial(c, a.b.result().distinct.sorted, new Timestamp(a.maxTs))
      }
    }
    partials
      .withWatermark("max_ts", watermarkDelay)
      .groupByKey(_.conv_id)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateFromPartials(timeoutMs))
  }
}
