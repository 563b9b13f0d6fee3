package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --tmp <dir>     private temp root (deleted by the launcher)
  *   --cache <dir>   input cache, keyed by workload, seed, size, version
  *   --out <dir>     where traced runs write their spans
  *
  * Prints one JSON object as the last line of stdout.
  */
object Main {
  val Workloads: Seq[Workload] =
    Seq(IngestBackfill, CepLive, Batch, TranscriptBatch, CorpusBatch)
  val SetupReps = 3

  def session(cpus: Int, tmp: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the engine's session defaults, as in graft.Bench
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // housekeeping: keep every file inside the run's temp root
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "1").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val tmp = Paths.get(a("tmp"))
    val cache = Paths.get(a("cache"))
    val out = Paths.get(a.getOrElse("out", tmp.toString))
    val cpus = Runtime.getRuntime.availableProcessors

    val result = try {
      val r = new Runner(wl, seed, seconds, cpus, tmp, cache)
      if (trace) r.traced(out) else r.endToEnd()
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        SparkSession.getActiveSession.foreach(_.stop())
        sys.exit(2)
    }
    SparkSession.getActiveSession.foreach(_.stop())
    println(result)
  }
}

/** One benchmark run: set-up, timed phase(s), checks, report. */
final class Runner(wl: Workload, seed: Long, seconds: Double, cpus: Int,
                   tmp: Path, cache: Path) {
  private val outcome = new Outcome
  private val heap = new HeapWatch
  var genS = 0.0

  /** Inputs for this run, generated once per (workload, seed, size, version). */
  private def inputs(): Path = {
    val key = s"${wl.name}-s$seed-${wl.sizeKey(seconds)}-g${Gen.Version}"
    val dir = cache.resolve(key)
    if (!Files.exists(dir.resolve("_DONE"))) {
      val t0 = System.nanoTime()
      Frames.rmTree(dir)
      val part = cache.resolve(key + ".partial")
      Frames.rmTree(part)
      Files.createDirectories(part)
      wl.generate(seed, seconds, part)
      Files.writeString(part.resolve("_DONE"), "")
      Files.move(part, dir)
      genS = (System.nanoTime() - t0) / 1e9
      Log.info(f"generated inputs $key in $genS%.1f s")
    }
    dir
  }

  /** Session, the workload's preparation repeated [[Main.SetupReps]] times,
    * then one warm-up; set-up time is session time plus the median
    * preparation plus the warm-up. `warm = false` skips the warm-up (the
    * single-core phase of a traced run, whose JVM is already warm).
    */
  private def setUp(n: Int, tracer: Tracer, warm: Boolean = true): Setup = {
    val s0 = System.nanoTime()
    val spark = Main.session(n, tmp)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val in = inputs()
    val ctx = new Ctx(spark, tracer, outcome, tmp, in, seconds)
    val reps = (1 to Main.SetupReps).map { i =>
      val p0 = System.nanoTime()
      val p = wl.prepare(ctx, last = i == Main.SetupReps)
      ((System.nanoTime() - p0) / 1e9, p)
    }
    val w1 = System.nanoTime()
    if (warm) reps.last._2.warmUp()
    ctx.callMs.clear()
    ctx.rowsOut.clear()
    val warmS = (System.nanoTime() - w1) / 1e9
    Log.info(f"session ${sessionS}%.2f s, preparation ${reps.map(_._1).map(x => f"$x%.2f").mkString(" ")} s, warm-up $warmS%.2f s")
    Setup(ctx, reps.last._2, sessionS + Stats.median(reps.map(_._1)) + warmS)
  }

  private def timed(su: Setup): (Phase, Double) = {
    heap.start()
    val ph = su.ctx.tracer.span("bench", "bench.timed")(su.prepared.run())
    (ph, heap.finish())
  }

  private def e2e(ph: Phase, setupS: Double): Map[String, (Double, String)] =
    Map(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (ph.rowsPerS, "rows/s"),
      "latency_p50_ms" -> (Stats.pct(ph.latencyMs, 0.5), "ms"),
      "latency_p95_ms" -> (Stats.pct(ph.latencyMs, 0.95), "ms"))

  def endToEnd(): String = {
    val su = setUp(cpus, new Tracer(false))
    val (ph, heapMb) = timed(su)
    su.prepared.check()
    su.prepared.close()
    report(e2e(ph, su.setupS), ph, heapMb)
  }

  /** Human-readable lines (failed_ratio and the heap peak included), then
    * the JSON result as the last stdout line.
    */
  private def report(m: Map[String, (Double, String)], ph: Phase, heapMb: Double): String = {
    val att = outcome.attempted.get
    val fail = outcome.failed.get
    val ok = fail == 0
    println(f"workload=${wl.name} seed=$seed seconds=$seconds%.0f cpus=$cpus operations=${ph.latencyMs.length} " +
      f"failed_ratio=${if (att > 0) fail.toDouble / att else 0.0}%.4f ($fail/$att)")
    println(f"  ${"live_heap_peak_mb"}%-40s $heapMb%14.4f MB")
    m.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"  $k%-40s $v%14.4f $u") }
    if (!ok) outcome.failures.forEach(f => println(s"  failure: $f"))
    val metrics = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $ok, "attempted": ${math.max(att, 1)}, "failed": $fail, "metrics": {$metrics}}"""
  }

  /** Traced run: the end-to-end run's set-up and timed phase with spans
    * and listeners on (→ per-layer metrics), and for closed-loop workloads
    * one more untraced phase at a single core for the scaling efficiency.
    * The tracing overhead is traced against untraced `rows_per_s` of the
    * same seed, i.e. this run against an end-to-end run.
    */
  def traced(out: Path): String = {
    val tracer = new Tracer(true)
    val su = setUp(cpus, tracer)
    val spark = su.ctx.spark
    tracer.sc = spark.sparkContext
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val (ph, heapMb) = timed(su)
    spark.sparkContext.removeSparkListener(listener)
    su.prepared.check()
    val extras = wl.traceExtras(su.ctx, su.prepared)
    val layer = Analysis(tracer, listener, su.ctx, ph, extras, out, wl.name, seed)
    su.prepared.close()

    // single core, untraced: against the traced phase above this reads
    // low by the tracing overhead
    val scaling =
      if (!wl.closedLoop) 0.0
      else {
        val su1 = setUp(1, new Tracer(false), warm = false)
        val (ph1, _) = timed(su1)
        su1.prepared.close()
        if (ph1.rowsPerS > 0) ph.rowsPerS / ph1.rowsPerS / cpus else 0.0
      }
    val m = layer ++ Map(
      "exec.scaling_efficiency" -> scaling,
      "gen.s" -> genS,
      "exec.live_heap_peak_mb" -> heapMb,
      "gen.late_ms_max" -> ph.extra.getOrElse("gen.late_ms_max", 0.0),
      "gen.backlog_files_max" -> ph.extra.getOrElse("gen.backlog_files_max", 0.0))
    val full = PerLayer.Names.map(n => n -> (m.getOrElse(n, 0.0), PerLayer.unit(n))).toMap
    report(full, ph, heapMb)
  }
}

final case class Setup(ctx: Ctx, prepared: Prepared, setupS: Double)

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
