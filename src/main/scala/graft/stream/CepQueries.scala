package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CEP query surface over a (possibly streaming) Turn DataFrame —
  * the north-rule operators T2-T5. Every query here runs identically on a
  * batch DataFrame (ScalaTest parity) and on a watermarked stream.
  *
  * Event time is `ts`; `watermark` (e.g. "10 minutes") bounds state:
  * session windows close, window aggregates finalize, and join state is
  * evicted once the watermark passes — at 10^12 turns the state footprint
  * is O(open sessions), never O(history).
  */
object CepQueries {

  /** T3 — session-window conversation segmentation (CEP query #1; the
    * streaming form of split-on-alignment, builders.py:302-430).
    */
  def sessionStats(turns: DataFrame, watermark: String = "10 minutes",
                   gap: String = "30 minutes"): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(col("conv_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_turns"),
           min("ts").as("start_ts"),
           max("ts").as("end_ts"),
           sum(when(col("role") === "user", 1).otherwise(0)).as("n_user"),
           sum(when(col("tool").isNotNull, 1).otherwise(0)).as("n_tool"))
      .select(col("conv_id"), col("n_turns"), col("start_ts"), col("end_ts"),
              col("n_user"), col("n_tool"))

  /** T4 — tumbling per-tool turn-rate (CEP query #2; the event-time form
    * of the 500k-line progress cadence, builders.py:257-258) with EXACT
    * conversation counts on the streaming path. A streaming aggregation
    * cannot use `countDistinct`, so this CHAINS two stateful window
    * aggregations (Spark ≥ 3.4 multiple-stateful-operator support): the first
    * collapses (window, tool, conv_id) — its state is the set of active
    * (conv, tool) pairs per open window, watermark-bounded — and the
    * second re-windows on `window_time` (the finalized window's event
    * time) and counts the collapsed rows, giving COUNT(DISTINCT conv_id)
    * exactly. Scale shape: both aggregations shuffle on their group keys
    * with map-side partial aggregation, and the second one's input is
    * already one row per (window, tool, conv) — independent of turn
    * volume. The first agg finalizes a window only when the watermark
    * passes its end, and the second finalizes one batch later, so a
    * driver flushing with far-future sentinels needs two of them.
    */
  def turnRateExactDistinct(turns: DataFrame,
                            watermark: String = "10 minutes",
                            width: String = "1 hour"): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("tool"), col("conv_id"))
      .agg(count(lit(1)).as("n_in_conv"))
      .groupBy(window(window_time(col("w")), width).as("w2"), col("tool"))
      .agg(sum("n_in_conv").as("n_turns"), count(lit(1)).as("n_convs"))
      .select(col("w2.start").as("window_start"), col("tool"),
              col("n_turns"), col("n_convs"))

  /** Streaming exact dedup — the insert-once operator as a first-class
    * stream transform (T7's sink-side semantics lifted into the plan;
    * reference analog: node2idx insert-once, builders.py:190-198):
    * emits each distinct text fingerprint the first time it is seen.
    * `boundedState = false` → global exact dedup (state = one entry per
    * DISTINCT key — the offline-corpus shape, state bounded by corpus
    * distinctness, never by turn volume); `true` →
    * `dropDuplicatesWithinWatermark` (state evicted once the watermark
    * passes a key's horizon — the unbounded-input shape, with the
    * documented trade that a duplicate arriving after its twin's horizon
    * re-emits).
    */
  def distinctFingerprints(turns: DataFrame,
                           watermark: String = "10 minutes",
                           boundedState: Boolean = false): DataFrame = {
    val fp = turns
      .withWatermark("ts", watermark)
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"),
              col("ts"))
    (if (boundedState) fp.dropDuplicatesWithinWatermark("fp")
     else fp.dropDuplicates("fp"))
      .select("fp")
  }

  /** T5/J6 — stateful stream-stream join pairing each user turn with the
    * following assistant turn (CEP query #3; Link-building analog,
    * builders.py:199-256). Both sides watermarked; the time-range
    * condition (`asst.ts` within [user.ts, user.ts + maxWait]) bounds join
    * state, so each side's buffer is O(turns within the watermark+range
    * horizon) — the required shape for unbounded inputs.
    */
  def userAssistantJoin(turns: DataFrame, watermark: String = "10 minutes",
                        maxWait: String = "2 hours"): DataFrame = {
    val u = turns.where(col("role") === "user")
      .select(col("conv_id").as("u_conv"), col("turn_idx").as("user_idx"),
              col("ts").as("user_ts"))
      .withWatermark("user_ts", watermark)
    val a = turns.where(col("role") === "assistant")
      .select(col("conv_id").as("a_conv"), col("turn_idx").as("asst_idx"),
              col("ts").as("asst_ts"))
      .withWatermark("asst_ts", watermark)
    u.join(a,
        col("u_conv") === col("a_conv") &&
        col("asst_idx") === col("user_idx") + 1 &&
        col("asst_ts") >= col("user_ts") &&
        col("asst_ts") <= col("user_ts") + expr(s"INTERVAL $maxWait"))
      .select(col("u_conv").as("conv_id"), col("user_idx"), col("asst_idx"),
              expr("timestampdiff(MICROSECOND, user_ts, asst_ts)").as("latency_us"))
  }

  /** [[userAssistantJoin]]'s LEFT OUTER form — the "unanswered user
    * turn" detector: user turns with no assistant reply within `maxWait`
    * emit a null-padded row. On the streaming path this is the third
    * watermark semantic (after aggregate finalization and state
    * eviction): Spark may emit a null-padded outer row ONLY once the
    * watermark proves no matching right row can still arrive (user_ts +
    * maxWait + delay), one micro-batch after the watermark advances — so
    * a driver flushing with sentinels needs two. Same state bounds as
    * the inner join; the outer rows add no state, only deferred output.
    */
  def userAssistantJoinOuter(turns: DataFrame,
                             watermark: String = "10 minutes",
                             maxWait: String = "2 hours"): DataFrame = {
    val u = turns.where(col("role") === "user")
      .select(col("conv_id").as("u_conv"), col("turn_idx").as("user_idx"),
              col("ts").as("user_ts"))
      .withWatermark("user_ts", watermark)
    val a = turns.where(col("role") === "assistant")
      .select(col("conv_id").as("a_conv"), col("turn_idx").as("asst_idx"),
              col("ts").as("asst_ts"))
      .withWatermark("asst_ts", watermark)
    u.join(a,
        col("u_conv") === col("a_conv") &&
        col("asst_idx") === col("user_idx") + 1 &&
        col("asst_ts") >= col("user_ts") &&
        col("asst_ts") <= col("user_ts") + expr(s"INTERVAL $maxWait"),
        "leftOuter")
      .select(col("u_conv").as("conv_id"), col("user_idx"), col("asst_idx"),
              expr("timestampdiff(MICROSECOND, user_ts, asst_ts)").as("latency_us"))
  }
}
