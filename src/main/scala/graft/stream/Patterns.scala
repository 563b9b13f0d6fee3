package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.schema.Turn

/** CEP sequence-pattern detection: maximal runs of ≥ `minLen` CONSECUTIVE
  * turns (by turn_idx) that carry a tool tag, per conversation — the
  * pattern `TOOL{minLen,}` over each conversation's event sequence (the
  * transcript analog of the reference's chain-detection over consecutive
  * path segments, builders.py:302-430: a "run" there is a maximal stretch
  * of adjacent intervals on one segment).
  *
  * Two execution paths with identical output:
  *   - [[toolRuns]]: the batch gaps-and-islands plan (one turn-order sort
  *     shuffle; `idx − row_number` is constant within a run).
  *   - [[attach]]: the streaming path — flagged turns buffered as keyed
  *     state in `flatMapGroupsWithState`, runs emitted ONCE per
  *     conversation when the event-time timeout finalizes it (matches
  *     must not be emitted early: a run that is still growing at batch
  *     boundary would double-report). State per conversation is O(flagged
  *     turns), evicted at finalization — bounded by the watermark, not by
  *     stream length.
  */
object Patterns {

  /** Keyed state: flagged turn indices (sorted, distinct) + each one's
    * tool tag (parallel array) + the conversation's max event time.
    */
  case class RunState(idxs: Array[Int], tools: Array[String], lastTsMs: Long)

  case class RunMatch(conv_id: String, start_idx: Int, end_idx: Int,
                      run_len: Int, n_tools: Int)

  /** Batch twin: islands of consecutive flagged turn_idx per conv_id. */
  def toolRuns(turns: DataFrame, minLen: Int = 2): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns.where(col("tool").isNotNull)
      .withColumn("grp", col("turn_idx") - row_number().over(w))
      .groupBy("conv_id", "grp")
      .agg(min("turn_idx").as("start_idx"),
           max("turn_idx").as("end_idx"),
           count(lit(1)).cast("int").as("run_len"),
           countDistinct("tool").cast("int").as("n_tools"))
      .where(col("run_len") >= minLen)
      .select("conv_id", "start_idx", "end_idx", "run_len", "n_tools")
  }

  /** Scan kernel over the sorted flagged indices: maximal consecutive
    * stretches, with the distinct-tool count per stretch. Pure function —
    * PatternsSpec exercises it exhaustively.
    */
  private[stream] def runsOf(convId: String, idxs: Array[Int],
                             tools: Array[String],
                             minLen: Int): Iterator[RunMatch] = {
    if (idxs.isEmpty) return Iterator.empty
    val out = Seq.newBuilder[RunMatch]
    var start = 0
    var i = 1
    def close(endExcl: Int): Unit = {
      val len = endExcl - start
      if (len >= minLen) {
        val distinct = new scala.collection.mutable.HashSet[String]
        var k = start
        // skip nulls: countDistinct ignores NULL, and the batch twin /
        // oracle must agree even if a caller forgets the tool pre-filter
        while (k < endExcl) { if (tools(k) != null) distinct += tools(k); k += 1 }
        out += RunMatch(convId, idxs(start), idxs(endExcl - 1), len,
                        distinct.size)
      }
      start = endExcl
    }
    while (i < idxs.length) {
      if (idxs(i) != idxs(i - 1) + 1) close(i)
      i += 1
    }
    close(idxs.length)
    out.result().iterator
  }

  /** Merge one micro-batch's flagged turns into the sorted state — the
    * same O(n + d log d) kernel shape as CsrState's merge; duplicate idx
    * keeps the first-seen tool, so the update is idempotent under
    * replayed input. Shared by the flatMapGroupsWithState and
    * transformWithState paths.
    */
  private[stream] def mergeFlagged(prev: RunState,
                                   turns: Iterator[Turn]): RunState = {
    val delta = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var maxTs = prev.lastTsMs
    turns.foreach { t =>
      delta += ((t.turn_idx, t.tool.orNull))
      val ts = t.ts.getTime
      if (ts > maxTs) maxTs = ts
    }
    val d = delta.sortBy(_._1)
    val idxs = new scala.collection.mutable.ArrayBuilder.ofInt
    val tools = Seq.newBuilder[String]
    var i = 0; var j = 0; var last = Int.MinValue
    def emit(idx: Int, tool: String): Unit =
      if (idx != last) { idxs += idx; tools += tool; last = idx }
    while (i < prev.idxs.length && j < d.length) {
      if (prev.idxs(i) <= d(j)._1) { emit(prev.idxs(i), prev.tools(i)); i += 1 }
      else { emit(d(j)._1, d(j)._2); j += 1 }
    }
    while (i < prev.idxs.length) { emit(prev.idxs(i), prev.tools(i)); i += 1 }
    while (j < d.length) { emit(d(j)._1, d(j)._2); j += 1 }
    RunState(idxs.result(), tools.result().toArray, maxTs)
  }

  private def update(minLen: Int, idleTimeoutMs: Long)(
      convId: String, turns: Iterator[Turn], state: GroupState[RunState])
      : Iterator[RunMatch] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      runsOf(convId, s.idxs, s.tools, minLen)
    } else {
      val prev = state.getOption.getOrElse(RunState(Array.empty, Array.empty, 0L))
      val next = mergeFlagged(prev, turns)
      state.update(next)
      state.setTimeoutTimestamp(next.lastTsMs + idleTimeoutMs)
      Iterator.empty
    }
  }

  /** Wire the pattern matcher over a typed turn stream. Pre-filter the
    * stream to flagged turns BEFORE calling (only they carry state), but
    * declare the watermark UPSTREAM of the filter so unflagged traffic
    * still advances event time. Same timeout contract as
    * [[CsrState.attach]]: EventTimeTimeout fires one batch after the
    * watermark advances, and `idleTimeout` must exceed the conversation
    * event span plus any batch-split watermark jump.
    */
  def attach(flagged: Dataset[Turn], minLen: Int = 2,
             idleTimeout: String = "48 hours"): Dataset[RunMatch] = {
    implicit val stateEnc = Encoders.product[RunState]
    implicit val outEnc = Encoders.product[RunMatch]
    val timeoutMs = CsrState.intervalMs(idleTimeout)
    flagged
      .groupByKey(_.conv_id)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(minLen, timeoutMs))
  }

  /** The same pattern matcher on Spark 4's `transformWithState` API — the
    * arbitrary-stateful-processing successor to flatMapGroupsWithState
    * (typed state variables, EXPLICIT event-time timers instead of the
    * one-per-key timeout). Requires the RocksDB state-store provider
    * ([[StateStores.withRocksDb]]); output is row-identical to [[attach]]
    * over the same input — q_stream_runs_tws hash-checks that under the
    * same oracle. Exactly one live timer per conversation: each batch
    * deletes the previous expiry before registering the advanced one, and
    * a stale expiry (state extended after a crash-replayed register) is
    * ignored by the lastTsMs guard.
    */
  def attachTws(flagged: Dataset[Turn], minLen: Int = 2,
                idleTimeout: String = "48 hours"): Dataset[RunMatch] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode,
      TimerValues, TTLConfig, ValueState}
    val timeoutMs = CsrState.intervalMs(idleTimeout)
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[String, Turn, RunMatch] {
        @transient private var runs: ValueState[RunState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          runs = getHandle.getValueState[RunState](
            "runs", Encoders.product[RunState], TTLConfig.NONE)
        override def handleInputRows(convId: String, rows: Iterator[Turn],
                                     timers: TimerValues): Iterator[RunMatch] = {
          val prev = if (runs.exists()) runs.get()
                     else RunState(Array.empty, Array.empty, 0L)
          val next = mergeFlagged(prev, rows)
          runs.update(next)
          if (prev.lastTsMs > 0L)
            getHandle.deleteTimer(prev.lastTsMs + timeoutMs)
          getHandle.registerTimer(next.lastTsMs + timeoutMs)
          Iterator.empty
        }
        override def handleExpiredTimer(convId: String, timers: TimerValues,
                                        expired: ExpiredTimerInfo)
            : Iterator[RunMatch] = {
          if (!runs.exists()) return Iterator.empty
          val s = runs.get()
          if (expired.getExpiryTimeInMs < s.lastTsMs + timeoutMs)
            return Iterator.empty // stale timer; a fresher one is armed
          runs.clear()
          runsOf(convId, s.idxs, s.tools, minLen)
        }
      }
    implicit val outEnc = Encoders.product[RunMatch]
    flagged
      .groupByKey(_.conv_id)(Encoders.STRING)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append)
  }
}
