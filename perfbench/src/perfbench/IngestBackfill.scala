package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.Trigger

/** Closed loop: seeded turn files already sit in the source directory and
  * are drained with `Trigger.AvailableNow` through the sink alone, again
  * and again into fresh tables until the run's time is up. Files are in
  * event-time order with hot conversations; the last four re-deliver two
  * earlier files and add a slice on the first (already written) day, so
  * the sink's merge-rewrite path runs beside its append path.
  */
object IngestBackfill extends Workload {
  val name = "ingest_backfill"
  val closedLoop = true
  val Convs = 5000
  val MainFiles = 60
  val FilesPerTrigger = 32
  val MinDrains = 2
  def sizeKey(seconds: Double) = s"c$Convs-f$MainFiles"

  def generate(seed: Long, seconds: Double, dir: Path): Unit = {
    val main = Gen.turns(seed, Convs, "c", Gen.T0Ms, 2 * Gen.DayMs)
    val late = Gen.turns(seed ^ 0x5eedL, Convs / 40, "late", Gen.T0Ms, Gen.DayMs / 4)
    val files = Gen.chunk(main, MainFiles) ++ Gen.chunk(late, 2)
    val written = Gen.writeFiles(files, dir.resolve("files"), "part")
    // re-delivery: byte-identical copies of two earlier files
    Seq(10, 30).zipWithIndex.foreach { case (i, k) =>
      Files.copy(written(i), dir.resolve("files").resolve(f"redo-$k%05d.parquet"))
    }
  }

  /** Stage the input into a private source directory with modification
    * times in delivery order (the file source's arrival order).
    */
  private def stage(ctx: Ctx): Path = {
    val src = ctx.freshDir("src")
    val names = Frames.listFiles(ctx.inputs.resolve("files")).map(_.getFileName.toString)
    val order = names.filter(_.startsWith("part")).sorted ++ names.filter(_.startsWith("redo")).sorted
    order.zipWithIndex.foreach { case (n, i) =>
      val d = src.resolve(n)
      Files.copy(ctx.inputs.resolve("files").resolve(n), d)
      Files.setLastModifiedTime(d, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    src
  }

  def prepare(ctx: Ctx, last: Boolean): Prepared = new Run(ctx, stage(ctx))

  final class Run(ctx: Ctx, val src: Path) extends Prepared {
    var stats = new SinkStats
    val tables = mutable.ArrayBuffer.empty[Path]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    private val nFiles = Frames.listFiles(src).length

    override def newPhase(): Unit = { stats = new SinkStats; tables.clear(); progress.clear() }
    override def warmUp(): Unit = { drains(1); newPhase() }
    def run(): Phase = drains(MinDrains)

    /** Drains until `min` have run and the run's seconds are used. */
    private def drains(min: Int): Phase = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val lat = mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      var busy = 0.0
      while (tables.length < min || elapsed < ctx.seconds) {
        val table = ctx.freshDir("table")
        val ckpt = ctx.freshDir("ckpt")
        val qname = s"sink${tables.length}"
        val d0 = System.nanoTime()
        val due = Clock.nowMs
        try {
          ctx.tracer.span("stream", "stream.drain") {
            val q = Streams.startSink(ctx, Streams.turnSource(ctx.spark, src, Some(FilesPerTrigger)),
              table, ckpt, qname, stats, Trigger.AvailableNow())
            q.awaitTermination()
            Streams.traceTriggers(ctx.tracer, q, qname, ctx.tracer.current)
            val ends = Streams.batchEnds(q)
            val ps = Streams.executed(q)
            progress ++= ps
            rows += ps.map(_.numInputRows).sum
            val fb = Streams.fileBatches(ckpt)
            fb.values.foreach(b => lat += ends(b) - due)
            ctx.outcome.ok(fb.size)
            if (fb.size < nFiles) (fb.size until nFiles).foreach(_ => ctx.outcome.fail(s"$qname: file not consumed"))
          }
          busy += (System.nanoTime() - d0) / 1e9
          tables += table
        } catch {
          case NonFatal(e) => ctx.outcome.fail(s"stream.drain threw ${e.getMessage}")
            if (elapsed > ctx.seconds) return Phase(rows, busy, lat.toSeq)
        }
      }
      Phase(rows, busy, lat.toSeq)
    }

    def check(): Unit = {
      val input = ctx.spark.read.schema(Gen.TurnSchema).parquet(src.toString)
      tables.zipWithIndex.foreach { case (t, i) =>
        Streams.checkSink(ctx, s"drain$i", ctx.spark.read.parquet(t.toString), input)
      }
    }
  }

  override def traceExtras(ctx: Ctx, p: Prepared): Map[String, Double] = {
    val r = p.asInstanceOf[Run]
    val inBytes = Frames.listFiles(r.src).map(Files.size).sum.toDouble * r.tables.length
    SinkMetrics(ctx, r.stats, r.tables.toSeq, inBytes) ++
      Streams.queryMetrics("sink", r.progress.toSeq, stateful = false)
  }
}

object SinkMetrics {
  /** sink.* per-layer metrics of one phase. */
  def apply(ctx: Ctx, s: SinkStats, tables: Seq[Path], inputBytes: Double): Map[String, Double] = {
    val finalRows = tables.map(t => ctx.spark.read.parquet(t.toString).count()).sum.toDouble
    Map(
      "sink.batches" -> s.batches.get.toDouble,
      "sink.merge_batches" -> s.mergeBatches.get.toDouble,
      "sink.files_written" -> s.filesWritten.get.toDouble,
      "sink.bytes_per_input_byte" -> (if (inputBytes > 0) s.bytesWritten.get / inputBytes else 0.0),
      "sink.final_rows" -> finalRows)
  }
}
