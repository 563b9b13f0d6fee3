package graft.stream

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.schema.Turn

/** The driver feed loop behind every driver-oracled streaming query.
  *
  * [[run]] owns the MemoryStream, the split of the fed rows into two
  * halves (two micro-batches), any trailing sentinel batches, the
  * optional stop and restart between the halves, and
  * `processAllAvailable`/`stop`. The caller passes only `start`, which
  * builds the query over the stream and starts it with its own sink and
  * checkpoint; start-time conf (state partitions, provider) is that of
  * the session passed in. The harness never looks at which query it
  * serves. Callers read the result back from their sink.
  */
object Harness {

  /** conv_id of the sentinel turns (no real conversation matches the
    * `^c[0-9]d` feed pattern with it), so sinks can strip their rows.
    */
  val SentinelConv = "zz_watermark_sentinel"

  /** Event-time gap between sentinel batches: past every real window and
    * session of the driver feed.
    */
  val DefaultSentinelGapMs: Long = 48L * 3600 * 1000

  /** The two feed micro-batches: the first `rows.length / 2` rows, then
    * the rest.
    */
  def halves[A](rows: Seq[A]): Seq[Seq[A]] = {
    val (b1, b2) = rows.splitAt(rows.length / 2)
    Seq(b1, b2)
  }

  /** `n` far-future sentinel batches after the last fed turn, `gapMs`
    * apart, which advance the watermark so every real window or state
    * entry finalizes. State TIMEOUTS fire one batch after the watermark
    * advances, so timeout-based operators need two. Each batch carries one
    * turn per role in `roles`: a query whose per-side watermark operators
    * sit behind role filters (the stream-stream OUTER join) needs a
    * sentinel per side, since the global watermark is the min over sides.
    * An empty feed gets no sentinels.
    */
  def sentinels(rows: Seq[Turn], n: Int, gapMs: Long = DefaultSentinelGapMs,
                roles: Seq[String] = Seq("user")): Seq[Seq[Turn]] =
    rows.lastOption.toSeq.flatMap { last =>
      (1 to n).map { i =>
        val ts = new java.sql.Timestamp(last.ts.getTime + i * gapMs)
        roles.zipWithIndex.map { case (role, j) =>
          Turn(SentinelConv, j, role, "s", None, ts)
        }
      }
    }

  /** Feeds `rows` in two halves, then the `after` batches, through one
    * MemoryStream into the query `start` starts, processing each batch
    * fully before the next. With `restart`, the query is stopped after
    * the first half and `start` is called again over the same stream for
    * the rest, so a sink checkpointed at a fixed path resumes from it.
    *
    * An empty feed runs exactly one empty micro-batch instead: every sink
    * then exists with the query's schema and no rows, so the caller's
    * read-back returns an empty result of the same shape as a fed run.
    */
  def run[A <: Product : TypeTag](s: SparkSession, rows: Seq[A],
                                  after: Seq[Seq[A]] = Nil,
                                  restart: Boolean = false)(
      start: DataFrame => StreamingQuery): Unit = {
    val ms = MemoryStream[A](Encoders.product[A], s.sqlContext)
    val batches = if (rows.nonEmpty) halves(rows) ++ after else Seq(Nil)
    val legs = if (restart) Seq(batches.take(1), batches.drop(1)) else Seq(batches)
    legs.foreach { leg =>
      val q = start(ms.toDF())
      try leg.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
  }

  /** Append-mode memory sink named `name`; read back with `s.table(name)`. */
  def toMemory(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append").start()

  /** Append-mode parquet sink at `root/out`, checkpointed at `root/ckpt` —
    * a memory sink would lose its rows across a restart. Read back with
    * `s.read.parquet(s"$root/out")`.
    */
  def toParquet(df: DataFrame, root: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()

  /** A fresh working directory for one run's sink and checkpoint, deleted
    * recursively on JVM exit. It must be fresh per run: a reused
    * checkpoint would try to resume past offsets a new MemoryStream does
    * not hold.
    */
  def workDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () }))
    p.toString
  }
}
