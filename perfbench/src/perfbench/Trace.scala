package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed interval. Times are epoch milliseconds (fractional) so that
  * spans, Spark job events and streaming progress share one clock.
  * `layer` is the module the span belongs to (`stream`, `ops`, `graph`,
  * `gfa`, `text`, `sim`) or `bench` for the benchmark's own spans.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double, runId: String) {
  def dur: Double = end - start
}

object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** Span recorder. With tracing off, [[span]] only runs its body, so the
  * end-to-end runs pay nothing for it. With tracing on, each span also
  * stamps its id on the Spark jobs its thread submits (a local property),
  * which is how [[ExecListener]] attributes jobs, tasks and plans to it.
  */
final class Tracer(val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var sc: SparkContext = _

  def spans: Seq[Span] = done.asScala.toSeq
  def add(s: Span): Unit = if (enabled) done.add(s)
  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.get.headOption.getOrElse(0L)

  private val keyed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** A span id fixed by a key, so a span created on one thread (a sink
    * upsert inside a trigger) can name a parent recorded later (the
    * trigger, known only from the query's progress).
    */
  def keyedId(key: String): Long = keyed.computeIfAbsent(key, _ => newId())

  def span[A](layer: String, name: String, parentId: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = if (parentId >= 0) parentId else current
      val prev = if (sc != null) sc.getLocalProperty(Tracer.SpanKey) else null
      stack.set(id :: stack.get)
      if (sc != null) sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        done.add(Span(id, parent, layer, name, t0, Clock.nowMs, runId))
        stack.set(stack.get.tail)
        if (sc != null) sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Run `body` with no span stamped on the thread: streaming queries
    * started inside inherit the thread's local properties, and their jobs
    * must be attributed by query run id instead.
    */
  def detached[A](body: => A): A =
    if (!enabled || sc == null) body
    else {
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, null)
      try body finally sc.setLocalProperty(Tracer.SpanKey, prev)
    }
}

object Tracer { val SpanKey = "perfbench.span" }

final case class JobRec(id: Int, start: Double, var end: Double, span: Long,
                        group: String, execId: Long, stages: Seq[Int])
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, shufW: Long,
                         shufR: Long, spill: Long, written: Long)

/** Spark-side observer for traced runs: jobs, tasks and executed plans. */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** executionId → latest physical plan (AQE updates replace it). */
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val r = JobRec(e.jobId, e.time.toDouble, Double.NaN,
      prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop("spark.jobGroup.id").orNull,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageIds)
    jobById.put(e.jobId, r)
    jobs.add(r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.recordsWritten))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }
}

object Plans {
  private def isSingle(p: SparkPlanInfo) =
    p.nodeName == "Exchange" && p.simpleString.contains("SinglePartition")

  private val Wrappers = Set("InputAdapter", "ShuffleQueryStage", "AQEShuffleRead",
    "ColumnarToRow", "AdaptiveSparkPlan", "ResultQueryStage")
  private def isWrapper(p: SparkPlanInfo) =
    Wrappers(p.nodeName) || p.nodeName.startsWith("WholeStageCodegen")
  private def isAggregate(p: SparkPlanInfo) = p.nodeName.endsWith("Aggregate")

  /** Exchanges into a single partition whose consumer is not an aggregate:
    * a global aggregate's final merge of one row per task is harmless,
    * while a window, sort or limit over one partition serializes its input.
    */
  def singlePartitionExchanges(p: SparkPlanInfo): Int = {
    def walk(q: SparkPlanInfo, consumerIsAgg: Boolean): Int = {
      val here = if (isSingle(q) && !consumerIsAgg) 1 else 0
      val next = if (isWrapper(q)) consumerIsAgg else isAggregate(q)
      here + q.children.map(walk(_, next)).sum
    }
    walk(p, consumerIsAgg = false)
  }

  /** Window operators fed by a single-partition exchange: the operators
    * behind Spark's "No Partition Defined for Window operation" warning.
    */
  def unpartitionedWindows(p: SparkPlanInfo): Int = {
    def feedsSingle(q: SparkPlanInfo): Boolean =
      if (q.nodeName == "Exchange") isSingle(q)
      else q.children.exists(feedsSingle)
    (if (p.nodeName == "Window" && p.children.exists(feedsSingle)) 1 else 0) +
      p.children.map(unpartitionedWindows).sum
  }
}

/** Old-generation occupancy right after each collection that reclaimed old
  * regions, while [[on]] is set. [[finish]] forces one full collection so
  * every run has at least one sample.
  */
final class HeapWatch {
  private val oldPool = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  @volatile var on = false
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (on && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val gi = info.getGcInfo
        oldPool.foreach { p =>
          val before = gi.getMemoryUsageBeforeGc.get(p.getName)
          val after = gi.getMemoryUsageAfterGc.get(p.getName)
          if (before != null && after != null && after.getUsed < before.getUsed)
            peak = math.max(peak, after.getUsed)
        }
      }
  }
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def start(): Unit = { peak = 0L; on = true }
  /** Peak in MB, including a forced full collection at the end of the phase. */
  def finish(): Double = {
    System.gc()
    val now = oldPool.map(_.getUsage.getUsed).getOrElse(0L)
    on = false
    math.max(peak, now) / 1048576.0
  }
}
