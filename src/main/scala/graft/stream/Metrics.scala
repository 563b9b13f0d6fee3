package graft.stream

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming metrics collector (T8): per-micro-batch input rows,
  * processing rate, event-time watermark, state rows, and late-row drops
  * (`numRowsDroppedByWatermark`) — the engine's replacement for the
  * reference's verbose progress printing (builders.py:257-258) and
  * warn-once flags (parser.py:125-132).
  */
final class Metrics extends StreamingQueryListener {

  case class BatchMetric(
      batchId: Long, inputRows: Long, processedRowsPerSec: Double,
      durationMs: Long, watermark: String, stateRows: Long,
      lateRowsDropped: Long)

  private val buf = mutable.ArrayBuffer.empty[BatchMetric]

  def batches: Seq[BatchMetric] = buf.synchronized(buf.toSeq)

  def totalLateDropped: Long = batches.map(_.lateRowsDropped).sum

  /** p95 of micro-batch durations — the session-window latency evidence
    * required by BASELINE.md.
    */
  def p95DurationMs: Long = {
    val ds = batches.map(_.durationMs).sorted
    if (ds.isEmpty) 0L else ds((ds.length * 95 / 100).min(ds.length - 1))
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val state = Option(p.stateOperators).toSeq.flatten
    val m = BatchMetric(
      p.batchId,
      p.numInputRows,
      p.processedRowsPerSecond,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      Option(p.eventTime.get("watermark")).getOrElse(""),
      state.map(_.numRowsTotal).sum,
      state.map(_.numRowsDroppedByWatermark).sum)
    buf.synchronized { buf += m }
  }
}
