package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.stream.TranscriptSink

/** Sink-side counters of one phase. Only traced runs fill the file and
  * merge counts: they snapshot the table's files around each upsert.
  */
final class SinkStats {
  val batches = new AtomicLong
  val mergeBatches = new AtomicLong
  val filesWritten = new AtomicLong
  val bytesWritten = new AtomicLong
}

object Streams {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name → id of the batch that consumed it, from a file-source
    * checkpoint's metadata log (compacted entries included).
    */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap { l =>
        for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }

  /** Progress of the triggers that ran a batch (idle reports dropped). */
  def executed(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.get("triggerExecution").doubleValue

  /** Batch id → epoch ms at which that trigger ended. */
  def batchEnds(q: StreamingQuery): Map[Long, Double] =
    executed(q).map(p => p.batchId -> endMs(p)).toMap

  /** Record each executed trigger of `q` as a `stream` span. */
  def traceTriggers(t: Tracer, q: StreamingQuery, qname: String, parent: Long): Unit =
    executed(q).foreach { p =>
      t.add(Span(t.keyedId(s"$qname/${p.batchId}"), parent, "stream",
        s"stream.trigger.$qname", startMs(p), endMs(p), q.runId.toString))
    }

  private def tableFiles(table: Path): Map[String, Long] =
    Frames.listFiles(table).map(p => p.toString -> Files.size(p)).toMap

  /** foreachBatch body that upserts through [[TranscriptSink.upsertBatch]]
    * as one span per batch, parented to the trigger that ran it.
    */
  def sinkWriter(ctx: Ctx, table: Path, qname: String, stats: SinkStats)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val t = ctx.tracer
    val before = if (t.enabled) tableFiles(table) else Map.empty[String, Long]
    t.span("stream", "sink.upsert", t.keyedId(s"$qname/$batchId")) {
      TranscriptSink.upsertBatch(batch.sparkSession, table.toString, batch, batchId)
    }
    stats.batches.incrementAndGet()
    if (t.enabled) {
      val after = tableFiles(table)
      val added = after.keySet -- before.keySet
      stats.filesWritten.addAndGet(added.size)
      stats.bytesWritten.addAndGet(added.toSeq.map(after).sum)
      if ((before.keySet -- after.keySet).nonEmpty) stats.mergeBatches.incrementAndGet()
    }
  }

  def turnSource(spark: SparkSession, src: Path, maxFiles: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Gen.TurnSchema)
    maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).parquet(src.toString)
  }

  def startSink(ctx: Ctx, src: DataFrame, table: Path, ckpt: Path, qname: String,
                stats: SinkStats, trigger: Trigger): StreamingQuery = {
    val write = sinkWriter(ctx, table, qname, stats)
    ctx.tracer.detached {
      src.writeStream
        .queryName(qname)
        .option("checkpointLocation", ckpt.toString)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) => write(b, id); () }
        .start()
    }
  }

  private def keyHash = xxhash64(col("conv_id"), col("turn_idx"), col("text"))
    .cast("decimal(38,0)")

  /** (distinct keys, order-independent checksum of (conv_id, turn_idx,
    * text) over one row per key) of a turn relation.
    */
  def keysAndChecksum(turns: DataFrame): (Long, BigDecimal) = {
    val r = turns.dropDuplicates("conv_id", "turn_idx")
      .agg(count(lit(1)), sum(keyHash)).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** The exactly-once checks of a sink table against its input. */
  def checkSink(ctx: Ctx, label: String, table: DataFrame, input: DataFrame): Unit = {
    val (wantKeys, wantSum) = keysAndChecksum(input)
    val o = ctx.outcome
    o.checkEq(s"$label.rows_eq_distinct_input_keys", table.count(), wantKeys)
    o.checkEq(s"$label.duplicate_keys", table.groupBy("conv_id", "turn_idx").count()
      .where(col("count") > 1).count(), 0L)
    o.checkEq(s"$label.text_checksum", keysAndChecksum(table)._2, wantSum)
  }

  def droppedByWatermark(ps: Iterable[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** Per-query trigger and state metrics for the per-layer table. */
  def queryMetrics(qname: String, ps: Seq[StreamingQueryProgress],
                   stateful: Boolean): Map[String, Double] = {
    def phase(k: String) = Stats.median(ps.flatMap(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue)))
    val trig = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .map(k => s"trigger.$qname.${k}_ms" -> phase(k)).toMap ++ Map(
      s"trigger.$qname.count" -> ps.length.toDouble,
      s"trigger.$qname.rows_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)))
    if (!stateful) trig
    else {
      val ops = ps.flatMap(_.stateOperators.toSeq)
      trig ++ Map(
        s"state.$qname.rows" -> ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
        s"state.$qname.memory_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0),
        s"state.$qname.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        s"state.$qname.dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
  }
}
