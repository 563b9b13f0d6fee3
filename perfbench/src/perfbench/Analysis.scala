package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The per-layer metric names a traced run prints, every one on every
  * workload (0 where a workload does not exercise that layer).
  */
object PerLayer {
  private val sinkM = Seq("sink.upsert_ms", "sink.batches", "sink.merge_batches",
    "sink.rewrite_rows_per_new_row", "sink.files_written", "sink.bytes_per_input_byte")
  private val triggerM = CepLive.Queries.flatMap(q =>
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .map(p => s"trigger.$q.${p}_ms") ++ Seq(s"trigger.$q.count", s"trigger.$q.rows_p50"))
  private val stateM = CepLive.Queries.filter(_ != "sink").flatMap(q =>
    Seq("rows", "memory_bytes", "commit_ms", "dropped_by_watermark").map(m => s"state.$q.$m"))
  val OpsCalls = Seq("edges", "byGap", "userAssistant", "asOf", "replyLatency",
    "slidingPerRole", "overlap").map("ops." + _)
  val GraphCalls = Seq("graph.connectedComponents", "graph.multiSourceBfs")
  val GfaCalls = Seq("gfa.edges")
  val TextCalls = Seq("exact", "shingleTable", "minhashBands", "minhashNearDups", "funnel",
    "lineDedup", "semdedup").map("text." + _)
  val SimCalls = Seq("sim.trainCentroids", "sim.assign")
  val Layers = Seq("stream", "ops", "graph", "gfa", "text", "sim")
  private val callM =
    (OpsCalls ++ GfaCalls).flatMap(c => Seq(s"$c.self_ms", s"$c.rows_out")) ++
    GraphCalls.flatMap(c => Seq(s"$c.self_ms", s"$c.rows_out", s"$c.jobs")) ++
    (TextCalls ++ SimCalls).map(c => s"$c.self_ms") ++
    Seq("text.minhash.verified_per_candidate", "text.semdedup.shuffle_write_bytes",
        "text.tokenBudgetSelect.unpartitioned_windows", "text.packOffsets.unpartitioned_windows")
  private val execM = Seq("exec.jobs", "exec.tasks", "exec.task_ms", "exec.gc_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.task_skew", "exec.driver_ms", "exec.single_partition_ops", "exec.scaling_efficiency",
    "exec.live_heap_peak_mb")
  private val benchM = Seq("gen.s", "gen.late_ms_max", "gen.backlog_files_max",
    "trace.rows_per_s", "trace.wall_ms", "trace.unattributed_ms") ++
    Layers.map(l => s"layer.$l.self_ms")

  val Names: Seq[String] = sinkM ++ triggerM ++ stateM ++ callM ++ execM ++ benchM

  def unit(n: String): String =
    if (n == "gen.s") "s"
    else if (n.endsWith("rows_per_s")) "rows/s"
    else if (n.endsWith("_ms") || n.endsWith("_ms_max")) "ms"
    else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("rows_out") || n.endsWith("rows_p50") || n.endsWith(".rows")) "rows"
    else if (n.contains("per_") || n.endsWith("skew") || n.endsWith("efficiency")) "ratio"
    else "count"
}

/** Turns a traced phase's spans and listener records into per-layer
  * metrics, prints the per-call table to stderr and writes every span
  * to `<out>/trace-<workload>-<seed>.json`.
  */
object Analysis {
  def apply(t: Tracer, l: ExecListener, ctx: Ctx, ph: Phase, extras: Map[String, Double],
            out: Path, wl: String, seed: Long): Map[String, Double] = {
    val root = t.spans.find(_.name == "bench.timed").get
    // spans of the traced set-up (warm-up queries) fall outside the phase
    val spans = t.spans.filter(s => s.end >= root.start && s.start <= root.end)
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def kids(s: Span) = children.getOrElse(s.id, Nil)
    def self(s: Span) = s.dur - Stats.covered(kids(s).map(c => (c.start, c.end)), s.start, s.end)
    def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)

    val jobs = l.jobs.asScala.toSeq.filter(j => j.start >= root.start && j.start <= root.end)
    val triggers = spans.filter(_.name.startsWith("stream.trigger.")).groupBy(_.runId)
    def owner(j: JobRec): Long =
      if (j.span != 0 && byId.contains(j.span)) j.span
      else Option(j.group).flatMap(triggers.get)
        .flatMap(_.find(s => j.start >= s.start - 1 && j.start <= s.end + 1))
        .map(_.id).getOrElse(root.id)
    val jobsBy = jobs.groupBy(owner)
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j)).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).minBy(_.id) }
    val tasks = l.tasks.asScala.toSeq.filter(x => stageJob.contains(x.stage))
    val tasksBy = tasks.groupBy(x => owner(stageJob(x.stage)))

    final case class Exec(jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
      def plans = jobs.map(_.execId).filter(_ >= 0).distinct.flatMap(e => Option(l.plans.get(e)))
      def singleOps = plans.map(Plans.singlePartitionExchanges).sum
      def windows = plans.map(Plans.unpartitionedWindows).sum
      def taskMs = tasks.map(_.runMs).sum
      def shufW = tasks.map(_.shufW).sum
      def skew = tasks.groupBy(_.stage).values.filter(_.map(_.runMs).sum >= 100)
        .map { ts => val ms = ts.map(_.runMs.toDouble); ms.max / math.max(1.0, Stats.median(ms)) }
        .maxOption.getOrElse(1.0)
      def driverMs(s: Span) = s.dur - Stats.covered(
        jobs.map(j => (j.start, if (j.end.isNaN) s.end else j.end)), s.start, s.end)
    }
    def execUnder(s: Span): Exec = {
      val ids = subtree(s).map(_.id)
      Exec(ids.flatMap(i => jobsBy.getOrElse(i, Nil)), ids.flatMap(i => tasksBy.getOrElse(i, Nil)))
    }

    // per-call table, aggregated by span name
    val named = spans.filter(_.id != root.id).groupBy(_.name).toSeq.sortBy(_._1)
    val table = named.map { case (n, ss) =>
      val ex = ss.map(execUnder)
      n -> Map(
        "count" -> ss.length.toDouble, "total_ms" -> ss.map(_.dur).sum,
        "self_ms" -> ss.map(self).sum, "jobs" -> ex.map(_.jobs.length).sum.toDouble,
        "tasks" -> ex.map(_.tasks.length).sum.toDouble, "task_ms" -> ex.map(_.taskMs).sum.toDouble,
        "shuffle_write_bytes" -> ex.map(_.shufW).sum.toDouble,
        "records_written" -> ex.flatMap(_.tasks.map(_.written)).sum.toDouble,
        "single_partition_ops" -> ex.map(_.singleOps).sum.toDouble,
        "unpartitioned_windows" -> ex.map(_.windows).sum.toDouble,
        "driver_ms" -> ss.zip(ex).map { case (s, e) => e.driverMs(s) }.sum)
    }.toMap
    def tab(n: String, k: String) = table.get(n).flatMap(_.get(k)).getOrElse(0.0)

    val all = execUnder(root)
    val m = Map.newBuilder[String, Double]
    PerLayer.OpsCalls ++ PerLayer.GfaCalls ++ PerLayer.GraphCalls foreach { c =>
      m += s"$c.self_ms" -> tab(c, "self_ms")
      m += s"$c.rows_out" -> Option(ctx.rowsOut.get(c)).map(_.toDouble).getOrElse(0.0)
    }
    PerLayer.GraphCalls.foreach(c => m += s"$c.jobs" -> tab(c, "jobs"))
    PerLayer.TextCalls ++ PerLayer.SimCalls foreach (c => m += s"$c.self_ms" -> tab(c, "self_ms"))
    m += "text.semdedup.shuffle_write_bytes" -> tab("text.semdedup", "shuffle_write_bytes")
    m += "sink.upsert_ms" -> tab("sink.upsert", "self_ms")
    val newRows = extras.getOrElse("sink.final_rows", 0.0)
    m += "sink.rewrite_rows_per_new_row" ->
      (if (newRows > 0) (tab("sink.upsert", "records_written") - newRows) / newRows else 0.0)
    PerLayer.Layers.foreach(ly =>
      m += s"layer.$ly.self_ms" -> spans.filter(_.layer == ly).map(self).sum)
    m ++= Seq(
      "exec.jobs" -> all.jobs.length.toDouble, "exec.tasks" -> all.tasks.length.toDouble,
      "exec.task_ms" -> all.taskMs.toDouble, "exec.gc_ms" -> all.tasks.map(_.gcMs).sum.toDouble,
      "exec.shuffle_write_bytes" -> all.shufW.toDouble,
      "exec.shuffle_read_bytes" -> all.tasks.map(_.shufR).sum.toDouble,
      "exec.spill_bytes" -> all.tasks.map(_.spill).sum.toDouble,
      "exec.task_skew" -> all.skew, "exec.driver_ms" -> all.driverMs(root),
      "exec.single_partition_ops" -> all.singleOps.toDouble,
      "trace.wall_ms" -> root.dur, "trace.unattributed_ms" -> self(root),
      "trace.rows_per_s" -> ph.rowsPerS)
    m ++= extras.removed("sink.final_rows")
    val res = m.result()

    System.err.println(f"[perfbench] per-call table ($wl, seed $seed): wall ${root.dur}%.0f ms, " +
      f"unattributed ${self(root)}%.0f ms, driver (no job running) ${all.driverMs(root)}%.0f ms")
    System.err.println(f"  ${"span"}%-34s ${"n"}%5s ${"self_ms"}%10s ${"jobs"}%6s ${"task_ms"}%9s ${"driver_ms"}%10s ${"1-part"}%6s ${"win"}%4s")
    table.toSeq.sortBy(-_._2("self_ms")).foreach { case (n, v) =>
      System.err.println(f"  $n%-34s ${v("count")}%5.0f ${v("self_ms")}%10.1f ${v("jobs")}%6.0f " +
        f"${v("task_ms")}%9.0f ${v("driver_ms")}%10.1f ${v("single_partition_ops")}%6.0f ${v("unpartitioned_windows")}%4.0f")
    }

    Files.createDirectories(out)
    val sb = new StringBuilder
    sb.append(s"""{"workload": ${Json.str(wl)}, "seed": $seed, "rows_per_s": ${Json.num(ph.rowsPerS)},\n""")
    sb.append(""" "calls": {""")
    sb.append(table.toSeq.sortBy(_._1).map { case (n, v) =>
      s"${Json.str(n)}: {" + v.toSeq.sortBy(_._1).map { case (k, x) => s"${Json.str(k)}: ${Json.num(x)}" }
        .mkString(", ") + "}" }.mkString(",\n  "))
    sb.append("},\n \"metrics\": {")
    sb.append(res.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", "))
    sb.append("},\n \"spans\": [\n")
    sb.append(spans.sortBy(_.start).map { s =>
      s"""  {"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
      s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "self_ms": ${Json.num(self(s))}, """ +
      s""""run_id": ${Json.str(s.runId)}, "jobs": ${jobsBy.getOrElse(s.id, Nil).length}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    Files.writeString(out.resolve(s"trace-$wl-$seed.json"), sb.toString)
    res
  }
}
