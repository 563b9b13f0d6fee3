package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

object Log {
  def info(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Attempted/failed accounting. Each offered file, each layer call and
  * each correctness check is one attempt; a file never consumed, a call
  * that threw and a check that did not hold each count as one failure.
  */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()
  def ok(n: Long = 1): Unit = attempted.addAndGet(n)
  def fail(what: String): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    failures.add(what); Log.info(s"FAILED: $what")
  }
  def check(name: String)(cond: => Boolean): Boolean = {
    val r = try cond catch { case NonFatal(e) => Log.info(s"check $name threw $e"); false }
    if (r) ok() else fail(s"check $name")
    r
  }
  def checkEq[A](name: String, got: => A, want: A): Boolean =
    check(name) {
      val g = got
      if (g != want) (g, want) match {
        case (a: Seq[_], b: Seq[_]) =>
          Log.info(s"check $name: got ${a.length} rows, want ${b.length}; " +
            s"unexpected ${a.diff(b).take(5).mkString(", ")}; missing ${b.diff(a).take(5).mkString(", ")}")
        case _ => Log.info(s"check $name: got $g, want $want")
      }
      g == want
    }
}

/** Everything a workload phase needs. `tracer` is replaced per phase. */
final class Ctx(val spark: SparkSession, var tracer: Tracer,
                val outcome: Outcome, val tmp: Path, val inputs: Path,
                val seconds: Double) {
  /** A fresh directory under the run's private temp root. */
  def freshDir(name: String): Path =
    Files.createDirectories(tmp.resolve(s"$name-${Ctx.dirs.incrementAndGet()}"))

  /** Per-call wall times (ms) of calls that returned. */
  val callMs = new ConcurrentLinkedQueue[Double]()
  /** Rows out of each call, summed over the phase. */
  val rowsOut = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** One call into a layer: timed, traced as span `layer.call`, failures
    * counted and never timed. Returns None when the call threw.
    */
  def call[A](layer: String, name: String)(body: => A)(rows: A => Long): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layer, s"$layer.$name")(body)
      callMs.add((System.nanoTime() - t0) / 1e6)
      rowsOut.merge(s"$layer.$name", rows(r), (a, b) => a + b)
      outcome.ok()
      Some(r)
    } catch {
      case NonFatal(e) =>
        outcome.fail(s"$layer.$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
}

object Ctx { private val dirs = new AtomicLong }

object Frames {
  /** Fully materialize `df` with one aggregate: row count, an
    * order-independent hash over every column (so column pruning cannot
    * skip any projection), then `extra` aggregates for the checks.
    */
  def materialize(df: DataFrame, extra: Column*): Row = {
    val h = xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*))
    df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")) +: extra: _*).head()
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d)
    } finally s.close()
  }

  def listFiles(dir: Path, suffix: String = ".parquet"): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toSeq
      finally s.close()
    }

  def writeProps(p: Path, kv: Map[String, Any]): Unit = {
    val sb = new StringBuilder
    kv.toSeq.sortBy(_._1).foreach { case (k, v) => sb.append(s"$k=$v\n") }
    Files.writeString(p, sb.toString)
  }

  def readProps(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    xs.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Result of one timed phase. `latencyMs` holds one sample per operation:
  * per file on the streaming workloads, per layer call on the batch ones.
  */
final case class Phase(rows: Long, seconds: Double, latencyMs: Seq[Double],
                       extra: Map[String, Double] = Map.empty) {
  def rowsPerS: Double = if (seconds > 0) rows / seconds else 0.0
}

/** A closed loop of passes: the next pass starts when the previous one
  * returned, until the run's seconds are used (at least one pass) or
  * `pass` returns None (inputs used up). `pass` returns whether every call
  * returned and the input rows it processed; a failed pass adds neither
  * rows nor time.
  */
object ClosedLoop {
  def apply(ctx: Ctx)(pass: () => Option[(Boolean, Long)]): Phase = {
    val t0 = System.nanoTime()
    var rows = 0L
    var busy = 0.0
    var passes = 0
    var more = true
    while (more && (passes == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val p0 = System.nanoTime()
      pass() match {
        case Some((ok, n)) =>
          val s = (System.nanoTime() - p0) / 1e9
          if (ok) { rows += n; busy += s }
          passes += 1
          Log.info(f"pass $passes: $s%.2f s")
        case None => more = false
      }
    }
    Phase(rows, busy, ctx.callMs.toArray.map(_.asInstanceOf[Double]).toSeq)
  }
}

/** A prepared workload instance: its timed phase, then its checks. */
trait Prepared {
  /** Runs once after the last preparation, before the timed phase, so JIT
    * compilation and Spark's code generation are not timed. By default one
    * unreported run of the timed phase itself.
    */
  def warmUp(): Unit = { run(); newPhase() }
  /** Forget what earlier phases recorded (traced runs run several). */
  def newPhase(): Unit = ()
  def run(): Phase
  def check(): Unit
  def close(): Unit = ()
}

trait Workload {
  def name: String
  def closedLoop: Boolean
  /** Part of the input-cache key besides workload, seed and version. */
  def sizeKey(seconds: Double): String
  def generate(seed: Long, seconds: Double, dir: Path): Unit
  /** Set-up that runs before the timed phase; called several times per
    * run so its median can be reported. Only the last instance is run.
    */
  def prepare(ctx: Ctx, last: Boolean): Prepared
  /** Extra per-layer metrics only a traced run computes (untimed). */
  def traceExtras(ctx: Ctx, p: Prepared): Map[String, Double] = Map.empty
}
