package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reply-latency distribution — the north rule's "session-window query
  * latency p95" surface as a first-class operator: per-tool exact
  * percentiles of the assistant reply gap (the numeric-tag
  * weight the reference extracts per Link, builders.py:205-209, reduced
  * to order statistics instead of min/mean as in analysis.py:119-141).
  *
  * Gaps are integer MICROSECONDS (cross-engine-exact time math); the
  * interpolated percentile is the only floating-point step and both
  * engines compute the two-product form `lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋)`
  * at pos = p·(n−1), so the doubles are bit-identical under the oracle
  * compare (QuantilesSpec pins the formula).
  */
object Quantiles {

  private def gaps(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("role") === "assistant" && col("prev_ts").isNotNull)
      .select(col("tool"),
              expr("timestampdiff(MICROSECOND, prev_ts, ts)").as("gap_us"))
  }

  /** Exact per-tool p50/p95/p99/max of the assistant reply gap. One
    * turn-order sort shuffle + one group-by; EXACT `percentile` holds the
    * per-group value multiset on the reducer — right for dimension-sized
    * groups (tools).
    */
  def replyLatency(turns: DataFrame): DataFrame =
    gaps(turns).groupBy("tool").agg(
      count(lit(1)).as("n"),
      percentile(col("gap_us"), lit(0.5)).as("p50_us"),
      percentile(col("gap_us"), lit(0.95)).as("p95_us"),
      percentile(col("gap_us"), lit(0.99)).as("p99_us"),
      max(col("gap_us")).as("max_us"))

  /** Session-scoped variant — the north rule's "session-window query
    * latency p95" verbatim: a gap larger than the session-inactivity
    * threshold is by definition a NEW session (Sessions.byGap), not a
    * reply latency, so only intra-session gaps enter the order
    * statistics. Same plan shape as [[replyLatency]] plus one pushed
    * filter.
    */
  def sessionReplyLatency(turns: DataFrame, gapSec: Long = 1800): DataFrame =
    gaps(turns).where(col("gap_us") <= gapSec * 1000000L)
      .groupBy("tool").agg(
        count(lit(1)).as("n"),
        percentile(col("gap_us"), lit(0.5)).as("p50_us"),
        percentile(col("gap_us"), lit(0.95)).as("p95_us"),
        percentile(col("gap_us"), lit(0.99)).as("p99_us"),
        max(col("gap_us")).as("max_us"))
}
