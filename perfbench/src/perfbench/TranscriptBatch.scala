package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.gfa.GfaGraph
import graft.graph.Graph
import graft.ops._
import graft.schema.Turn
import graft.stream.TranscriptSink

/** Closed loop of the batch analytics over the table the sink wrote during
  * set-up: transcript operators, the graph kernels on the bounded-diameter
  * conversation-overlap graph, and a GFA rendering of the turn graph parsed
  * back. Passes repeat over the same table until the run's time is up.
  */
object TranscriptBatch extends Workload {
  val name = "transcript_batch"
  val closedLoop = true
  val Convs = 2000
  val SinkBatches = 1
  val GapSec = 1800L
  val BfsSeeds = 32
  def sizeKey(seconds: Double) = s"c$Convs"

  def generate(seed: Long, seconds: Double, dir: Path): Unit =
    generateConvs(seed, Convs, dir)

  def generateConvs(seed: Long, convs: Int, dir: Path): Unit = {
    val turns = Gen.turns(seed, convs, "c", Gen.T0Ms, 2 * Gen.DayMs)
    Gen.writeFiles(Gen.chunk(turns, 8), dir.resolve("turns"), "t")
    Files.writeString(dir.resolve("graph.gfa"), Gen.gfa(turns))
    Frames.writeProps(dir.resolve("expect.properties"), expectations(turns))
    val ov = overlapEdges(turns)
    Files.writeString(dir.resolve("overlap.txt"), ov.map { case (a, b) => s"$a $b" }.mkString("\n"))
  }

  /** Conversation-overlap edges by the definition of `ops.Overlap`,
    * recomputed in plain Scala: convs sharing a text held by ≤ maxDf convs.
    */
  def overlapEdges(turns: Array[Turn]): Seq[(String, String)] =
    turns.map(t => (t.conv_id, t.text)).distinct.groupBy(_._2).values
      .filter(_.length <= Overlap.DefaultMaxDf)
      .flatMap { g =>
        val cs = g.map(_._1).sorted
        for (i <- cs.indices; j <- i + 1 until cs.length) yield (cs(i), cs(j))
      }.toSeq.distinct.sorted

  /** Identities the generator's turns must satisfy, computed in plain Scala. */
  def expectations(turns: Array[Turn]): Map[String, Any] = {
    val byConv = turns.groupBy(_.conv_id).values.map(_.sortBy(_.turn_idx)).toSeq
    val gaps = byConv.map(c => c.sliding(2).count(p => p.length == 2 &&
      p(1).ts.getTime - p(0).ts.getTime > GapSec * 1000)).sum
    val pairs = byConv.map(c => c.sliding(2).count(p => p.length == 2 &&
      p(0).role == "user" && p(1).role == "assistant")).sum
    val gapUs = byConv.map(c => (c.last.ts.getTime - c.head.ts.getTime) * 1000).sum
    val hour = 3600000L
    val slideRows = turns.flatMap { t =>
      val w = Math.floorDiv(t.ts.getTime, hour) * hour
      Seq((w, t.role), (w - hour, t.role))
    }.distinct.length
    val replyTools = byConv.flatMap(c => c.tail.filter(_.role == "assistant").map(_.tool)).distinct.length
    Map("turns" -> turns.length, "convs" -> byConv.length,
        "sessions" -> (byConv.length + gaps), "pairs" -> pairs, "gap_us" -> gapUs,
        "tool_turns" -> turns.count(_.role == "tool"),
        "assistant_turns" -> turns.count(t => t.role == "assistant" && t.turn_idx > 0),
        "reply_groups" -> replyTools, "sliding_rows" -> slideRows)
  }

  def prepare(ctx: Ctx, last: Boolean): Prepared = prepareIn(ctx, ctx.inputs)

  /** The sink writes the table from the generated files, in event-time
    * order, in [[SinkBatches]] batches.
    */
  def prepareIn(ctx: Ctx, inputs: Path): Run = {
    val table = ctx.freshDir("table")
    val files = Frames.listFiles(inputs.resolve("turns")).map(_.toString).sorted
    Gen.chunk(files.toArray, SinkBatches).zipWithIndex.foreach { case (fs, i) =>
      TranscriptSink.upsertBatch(ctx.spark, table.toString,
        ctx.spark.read.schema(Gen.TurnSchema).parquet(fs: _*), i.toLong)
    }
    new Run(ctx, inputs, table)
  }

  final class Run(ctx: Ctx, inputs: Path, table: Path) extends Prepared {
    private val spark = ctx.spark
    private val want = Frames.readProps(inputs.resolve("expect.properties")).map {
      case (k, v) => k -> v.toLong }
    private val got = mutable.Map.empty[String, Long]
    private var cc: Array[Row] = Array.empty
    private var bfs: Array[Row] = Array.empty
    private val seedConvs: Seq[String] = {
      val linked = overlapNodes.sorted
      linked.filter(_.takeRight(6).toInt % 4 == 0).take(BfsSeeds)
    }
    private lazy val expectedEdges: Seq[(String, String)] =
      Files.readAllLines(inputs.resolve("overlap.txt")).toArray.map(_.toString)
        .filter(_.nonEmpty).map { l => val a = l.split(' '); (a(0), a(1)) }.toSeq
    private def overlapNodes: Seq[String] = expectedEdges.flatMap(e => Seq(e._1, e._2)).distinct

    private def rec(k: String, v: Long): Unit = got(k) = v

    /** One pass; true when every call returned. */
    def pass(): Boolean = {
      val turns = spark.read.parquet(table.toString)
      def m(layer: String, call: String, df: => DataFrame, extra: org.apache.spark.sql.Column*)
          : Option[Row] =
        ctx.call(layer, call)(Frames.materialize(df, extra: _*))(_.getLong(0))
      val r = Seq(
        m("ops", "edges", TurnGraph.edges(turns), sum("gap_us")).map { x =>
          rec("edges", x.getLong(0)); rec("gap_us", x.getLong(2)) },
        m("ops", "byGap", Sessions.byGap(turns, GapSec), sum("n_turns")).map { x =>
          rec("sessions", x.getLong(0)); rec("session_turns", x.getLong(2)) },
        m("ops", "userAssistant", Pairing.userAssistant(turns)).map(x => rec("pairs", x.getLong(0))),
        m("ops", "asOf", {
          val userPts = turns.where(col("role") === "user")
            .groupBy(col("conv_id"), col("ts").as("u_ts"))
            .agg(max("turn_idx").cast("int").as("user_idx"))
          AsOfJoin.asOf(turns.where(col("role") === "tool")
              .select("conv_id", "turn_idx", "tool", "ts"),
            userPts, Seq("conv_id"), "ts", "u_ts", Seq("user_idx"))
        }, count(col("user_idx"))).map(x => rec("asof_matched", x.getLong(2))),
        m("ops", "replyLatency", Quantiles.replyLatency(turns), sum("n")).map { x =>
          rec("reply_groups", x.getLong(0)); rec("reply_n", x.getLong(2)) },
        m("ops", "slidingPerRole", Rates.slidingPerRole(turns, "2 hours", "1 hour"),
          sum("n_turns")).map { x => rec("sliding_rows", x.getLong(0)); rec("sliding_sum", x.getLong(2)) },
        ctx.call("ops", "overlap") {
          Overlap.edges(Overlap.convText(turns)).localCheckpoint(true)
        }(_.count()).flatMap { ov =>
          rec("overlap_edges", ov.count())
          val seeds = spark.createDataFrame(seedConvs.map(c => (c, c)))
            .toDF("node", "tag")
          Seq(
            ctx.call("graph", "connectedComponents")(Graph.connectedComponents(ov).collect())(
              _.length.toLong).map(cc = _),
            ctx.call("graph", "multiSourceBfs")(Graph.multiSourceBfs(ov, seeds).collect())(
              _.length.toLong).map(bfs = _)
          ).reduce((a, b) => a.flatMap(_ => b))
        },
        m("gfa", "edges", GfaGraph.edges(
            GfaGraph.readLines(spark, inputs.resolve("graph.gfa").toString)))
          .map(x => rec("gfa_edges", x.getLong(0))))
      r.forall(_.isDefined)
    }

    def turns: Long = want("turns")

    def run(): Phase = ClosedLoop(ctx)(() => Some((pass(), turns)))

    def check(): Unit = {
      val o = ctx.outcome
      def eq(k: String, v: Long) = o.checkEq(s"transcript.$k", got.getOrElse(k, -1L), v)
      eq("edges", want("turns") - want("convs"))
      eq("gap_us", want("gap_us"))
      eq("sessions", want("sessions"))
      eq("session_turns", want("turns"))
      eq("pairs", want("pairs"))
      eq("asof_matched", want("tool_turns"))
      eq("reply_groups", want("reply_groups"))
      eq("reply_n", want("assistant_turns"))
      eq("sliding_rows", want("sliding_rows"))
      eq("sliding_sum", 2 * want("turns"))
      eq("overlap_edges", expectedEdges.length.toLong)
      eq("gfa_edges", want("turns") - want("convs"))
      // components and BFS against a plain-Scala recomputation
      val adj = mutable.Map.empty[String, mutable.Set[String]]
      expectedEdges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
      def bfsFrom(s: String): Map[String, Int] = {
        val d = mutable.Map(s -> 0)
        val q = mutable.Queue(s)
        while (q.nonEmpty) {
          val u = q.dequeue()
          adj(u).foreach(v => if (!d.contains(v)) { d(v) = d(u) + 1; q.enqueue(v) })
        }
        d.toMap
      }
      val wantComps = overlapNodes.map(n => bfsFrom(n).keySet).distinct.map(_.toSeq.sorted).sortBy(_.head)
      val gotComps = cc.map(r => (r.getAs[String]("label"), r.getAs[String]("node")))
        .groupBy(_._1).values.map(_.map(_._2).toSeq.sorted).toSeq.sortBy(_.head)
      o.checkEq("transcript.components", gotComps, wantComps)
      val wantBfs = seedConvs.flatMap(s => bfsFrom(s).map { case (n, d) => s"$s|$n|$d" }).sorted
      val gotBfs = bfs.map(r => s"${r.getAs[String]("tag")}|${r.getAs[String]("node")}|${r.getAs[Number]("dist").intValue}").toSeq.sorted
      o.checkEq("transcript.bfs", gotBfs, wantBfs)
    }
  }
}
