package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.Turn
import graft.stream.{CepQueries, CsrState}

/** Open loop at a fixed offered rate: one generator thread renames
  * pre-staged small files into the source directory on a schedule that
  * never waits for the engine. Four queries run on that stream at once:
  * the sink, session statistics, the user→assistant outer join and the
  * salted CSR state. Latency is measured per file, from when it was due
  * to the end of the last trigger (over all four queries) that consumed it.
  */
object CepLive extends Workload {
  val name = "cep_live"
  val closedLoop = false
  val FilesPerSecond = 100
  val TurnsPerFile = 10
  val SessionGap = "30 minutes"
  val Watermark = "10 minutes"
  val IdleTimeout = "3 hours"
  val Queries = Seq("sink", "sessions", "pairing", "csr")

  def files(seconds: Double): Int = math.max(200, math.round(FilesPerSecond * seconds).toInt)
  def sizeKey(seconds: Double) = s"f${files(seconds)}-t$TurnsPerFile"

  /** A user and an assistant turn far ahead in event time: the join's two
    * watermark operators each sit behind a role filter, so each role needs
    * its own sentinel row.
    */
  private def sentinel(i: Int, afterMs: Long): Array[Turn] = {
    val ts = new java.sql.Timestamp(afterMs + (i + 1) * 30L * Gen.DayMs)
    Array(Turn("~sentinel", 2 * i, "user", "sentinel", None, ts),
          Turn("~sentinel", 2 * i + 1, "assistant", "sentinel", None, ts))
  }

  def generate(seed: Long, seconds: Double, dir: Path): Unit = {
    val n = files(seconds)
    // ~14 turns per conversation on average; one day of event time
    val turns = Gen.turns(seed, n * TurnsPerFile / 14, "c", Gen.T0Ms, Gen.DayMs)
    val warm = Gen.turns(seed ^ 0xfeedL, 40, "warm", Gen.T0Ms - Gen.DayMs, Gen.DayMs / 4)
    val maxTs = turns.map(_.ts.getTime).max
    Gen.writeFiles(Gen.chunk(turns, n), dir.resolve("files"), "f")
    Gen.writeFiles(IndexedSeq(warm), dir.resolve("warm"), "w")
    Gen.writeFiles(IndexedSeq(sentinel(0, maxTs), sentinel(1, maxTs)),
      dir.resolve("sentinel"), "s")
  }

  final class Queries4(ctx: Ctx, val src: Path) {
    val stats = new SinkStats
    val table: Path = ctx.freshDir("table")
    private val tag = s"${System.nanoTime()}"
    val ckpts: Map[String, Path] = Queries.map(q => q -> ctx.freshDir(s"ckpt-$q")).toMap
    def memName(q: String) = s"${q}_$tag"
    val queries: Map[String, StreamingQuery] = {
      val spark = ctx.spark
      import spark.implicits._
      def memory(q: String, df: DataFrame) = ctx.tracer.detached {
        df.writeStream.queryName(memName(q)).outputMode("append").format("memory")
          .option("checkpointLocation", ckpts(q).toString).start()
      }
      val s = () => Streams.turnSource(spark, src)
      Map(
        "sink" -> Streams.startSink(ctx, s(), table, ckpts("sink"), memName("sink"), stats,
          Trigger.ProcessingTime(0L)),
        "sessions" -> memory("sessions", CepQueries.sessionStats(s(), Watermark, SessionGap)),
        "pairing" -> memory("pairing", CepQueries.userAssistantJoinOuter(s(), Watermark)),
        "csr" -> memory("csr", CsrState.attachSalted(s().as[Turn], IdleTimeout, Watermark).toDF()))
    }
    def drain(which: Seq[String] = Queries): Unit = which.foreach(q => queries(q).processAllAvailable())
    def stop(): Unit = queries.values.foreach(q => try q.stop() catch { case NonFatal(_) => () })
  }

  private def move(from: Path, toDir: Path): Unit =
    Files.move(from, toDir.resolve(from.getFileName), StandardCopyOption.ATOMIC_MOVE)

  /** Stage the files and start the four queries on an empty source. */
  def prepare(ctx: Ctx, last: Boolean): Prepared = {
    // staging sits beside the source directory so arrival is one rename
    val staging = ctx.freshDir("staging")
    Frames.copyTree(ctx.inputs, staging)
    val qs = new Queries4(ctx, ctx.freshDir("src"))
    if (!last) { qs.stop(); new Prepared { def run() = Phase(0, 0, Nil); def check() = () } }
    else new Run(ctx, staging, qs)
  }

  final class Run(ctx: Ctx, staging: Path, val qs: Queries4) extends Prepared {
    /** The four queries once over the warm-up file, on their own source. */
    override def warmUp(): Unit = {
      val warm = new Queries4(ctx, ctx.freshDir("warm-src"))
      Frames.listFiles(staging.resolve("warm")).foreach(move(_, warm.src))
      warm.drain()
      warm.stop()
    }

    val offered: Seq[Path] = Frames.listFiles(staging.resolve("files")).sortBy(_.getFileName.toString)
    val due = mutable.Map.empty[String, Double]
    var lateMsMax = 0.0
    var latency: Seq[Double] = Nil
    var backlogMax = 0.0

    def run(): Phase = {
      val root = ctx.tracer.current
      val intervalMs = 1000.0 / FilesPerSecond
      val t0 = Clock.nowMs + 50
      val gen = new Thread(() => {
        offered.zipWithIndex.foreach { case (f, i) =>
          val d = t0 + i * intervalMs
          val wait = d - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          move(f, qs.src)
          lateMsMax = math.max(lateMsMax, Clock.nowMs - d)
          due(f.getFileName.toString) = d
        }
      }, "perfbench-open-loop")
      gen.start()
      gen.join()
      // wait until every query has consumed every offered file
      qs.drain()
      val t1 = Clock.nowMs
      Queries.foreach(q => Streams.traceTriggers(ctx.tracer, qs.queries(q), qs.memName(q), root))
      val consumed = Queries.map { q =>
        val ends = Streams.batchEnds(qs.queries(q))
        Streams.fileBatches(qs.ckpts(q)).flatMap { case (f, b) => ends.get(b).map(f -> _) }
      }
      val lat = mutable.ArrayBuffer.empty[Double]
      val doneAt = mutable.ArrayBuffer.empty[Double]
      due.foreach { case (f, d) =>
        val ends = consumed.flatMap(_.get(f))
        if (ends.length == Queries.length) {
          ctx.outcome.ok()
          lat += ends.max - d
          doneAt += ends.max
        } else ctx.outcome.fail(s"file $f not consumed by every query")
      }
      latency = lat.toSeq
      val dues = due.values.toSeq.sorted
      val done = doneAt.sorted
      backlogMax = dues.map(d => dues.count(_ <= d) - done.count(_ <= d)).maxOption.getOrElse(0).toDouble
      val rows = offered.length.toLong * TurnsPerFile
      Phase(rows, (t1 - t0) / 1000.0, latency,
        Map("gen.late_ms_max" -> lateMsMax, "gen.backlog_files_max" -> backlogMax))
    }

    /** Rows of a memory-sink table or batch frame, as sorted strings,
      * sentinel conversations removed.
      */
    private def rowsOf(df: DataFrame): Seq[String] =
      df.where(!col("conv_id").startsWith("~")).collect().map(_.mkString("|")).sorted.toSeq

    def check(): Unit = {
      val spark = ctx.spark
      val o = ctx.outcome
      // two sentinels far in event time: the first advances the watermark,
      // the second runs the batch that emits everything behind it (the
      // sink keeps no event-time state, so it stops first)
      qs.queries("sink").stop()
      val cep = Queries.filter(_ != "sink")
      Frames.listFiles(staging.resolve("sentinel")).sortBy(_.getFileName.toString).foreach { f =>
        move(f, qs.src); qs.drain(cep)
      }
      val progress = Queries.map(q => q -> Streams.executed(qs.queries(q))).toMap
      qs.stop()
      val input = spark.read.schema(Gen.TurnSchema).parquet(qs.src.toString)
        .where(!col("conv_id").startsWith("~"))
      o.checkEq("sessions.equals_batch",
        rowsOf(spark.table(qs.memName("sessions"))),
        rowsOf(CepQueries.sessionStats(input, Watermark, SessionGap)))
      o.checkEq("pairing.equals_batch",
        rowsOf(spark.table(qs.memName("pairing"))),
        rowsOf(CepQueries.userAssistantJoinOuter(input, Watermark)))
      val finals = spark.table(qs.memName("csr")).where(col("is_final"))
        .select("conv_id", "n_turns", "n_edges", "min_idx", "max_idx", "contiguous")
      o.checkEq("csr.final_equals_reference", rowsOf(finals), rowsOf(csrReference(input)))
      o.checkEq("state.dropped_by_watermark",
        Streams.droppedByWatermark(progress.values.flatten), 0L)
      Streams.checkSink(ctx, "sink",
        spark.read.parquet(qs.table.toString).where(!col("conv_id").startsWith("~")), input)
      finalProgress = progress
    }
    var finalProgress: Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]] = Map.empty

    override def close(): Unit = qs.stop()
  }

  /** CSR shape per conversation, computed in plain Scala from the input's
    * (conv_id, turn_idx) pairs: the reference the final CSR rows must equal.
    */
  def csrReference(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val byConv = input.select("conv_id", "turn_idx").as[(String, Int)].collect()
      .groupBy(_._1).toSeq.map { case (c, xs) =>
        val idx = xs.map(_._2).distinct.sorted
        val edges = idx.sliding(2).count(p => p.length == 2 && p(1) == p(0) + 1)
        (c, idx.length, edges, idx.head, idx.last, idx.last - idx.head + 1 == idx.length)
      }
    byConv.toDF("conv_id", "n_turns", "n_edges", "min_idx", "max_idx", "contiguous")
  }

  override def traceExtras(ctx: Ctx, p: Prepared): Map[String, Double] = {
    val r = p.asInstanceOf[Run]
    val inBytes = r.offered.map(p => Files.size(r.qs.src.resolve(p.getFileName))).sum.toDouble
    SinkMetrics(ctx, r.qs.stats, Seq(r.qs.table), inBytes) ++
      Queries.flatMap(q => Streams.queryMetrics(q, r.finalProgress.getOrElse(q, Nil), q != "sink"))
  }
}
