package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.gen.SynthTranscripts
import graft.ops.{Pairing, Sessions}
import graft.schema.Turn

/** Streaming == batch parity (SURVEY §5 test 3) via MemoryStream, plus
  * watermark/late-data and CSR-state behavior.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private val data = SynthTranscripts.turnRows(8, 10)
  private val maxTs = data.map(_.ts.getTime).max

  /** Sentinel far in the future: advances the watermark so every window /
    * join row of the real data finalizes in append mode.
    */
  private val sentinel = Turn("zz_sentinel", 0, "user", "s", None,
    new Timestamp(maxTs + 48L * 3600 * 1000))

  private def runToCompletion(q: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    // two micro-batches in EVENT-TIME order (an out-of-order split would
    // make the second batch legitimately late → dropped by the watermark,
    // which the dedicated T2 test covers), then the sentinel flush
    val sorted = data.sortBy(_.ts.getTime)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    val out = q(ms.toDF())
    val query = out.writeStream.format("memory")
      .queryName(s"parity_${System.nanoTime()}").outputMode("append").start()
    ms.addData(b1)
    query.processAllAvailable()
    ms.addData(b2)
    query.processAllAvailable()
    ms.addData(Seq(sentinel))
    query.processAllAvailable()
    val streamed = spark.table(query.name)
    (streamed, spark.createDataset(data).toDF())
  }

  test("T4 exact-distinct rate: chained streaming window aggs == batch countDistinct") {
    // the chained two-level aggregation must reproduce EXACT
    // COUNT(DISTINCT conv_id) on the streaming path — the thing the
    // single-level streaming agg can only approximate with HLL. Stage-2
    // finalization lags the watermark by one batch, so flush with a
    // second (and third) sentinel.
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val out = CepQueries.turnRateExactDistinct(
      ms.toDF(), watermark = "1 minute", width = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName(s"rate_exact_${System.nanoTime()}")
      .outputMode("append").start()
    val sorted = data.sortBy(_.ts.getTime)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    ms.addData(b1); query.processAllAvailable()
    ms.addData(b2); query.processAllAvailable()
    (1 to 3).foreach { i =>
      ms.addData(Seq(sentinel.copy(
        ts = new Timestamp(maxTs + i * 48L * 3600 * 1000))))
      query.processAllAvailable()
    }
    val s = spark.table(query.name)
      .where(col("window_start") <= new Timestamp(maxTs))
      .select("window_start", "tool", "n_turns", "n_convs")
    val b = spark.createDataset(data).toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tool"))
      .agg(count(lit(1)).as("n_turns"),
           countDistinct("conv_id").as("n_convs"))
      .select(col("w.start").as("window_start"), col("tool"),
              col("n_turns"), col("n_convs"))
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
    // and the fixture genuinely exercises distinctness (some window has
    // n_convs < n_turns), otherwise the exactness claim tests nothing
    assert(b.where(col("n_convs") < col("n_turns")).count() > 0)
    query.stop()
  }

  test("T7 streaming dedup: global form emits once; bounded form re-emits past the horizon") {
    def run(boundedState: Boolean): Long = {
      val ms = MemoryStream[Turn](
        implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
      val out = CepQueries.distinctFingerprints(
        ms.toDF(), watermark = "1 minute", boundedState = boundedState)
      val query = out.writeStream.format("memory")
        .queryName(s"dedup_${boundedState}_${System.nanoTime()}")
        .outputMode("append").start()
      def at(min: Long) = Turn("D", 0, "user", "same text", None,
        new Timestamp(1700000000000L + min * 60000))
      ms.addData(Seq(at(0), at(1)))   // dup within the horizon
      query.processAllAvailable()
      ms.addData(Seq(at(600)))        // advances watermark ~10 h
      query.processAllAvailable()
      ms.addData(Seq(at(601)))        // same text, far past the horizon
      query.processAllAvailable()
      val n = spark.table(query.name).count()
      query.stop()
      n
    }
    // global state: one fingerprint forever
    assert(run(boundedState = false) == 1L)
    // watermark-bounded state: the evicted fingerprint re-emits once its
    // twin's horizon has passed — the documented unbounded-input trade
    assert(run(boundedState = true) == 2L)
  }

  test("T3 session windows: streaming append == batch sessions") {
    val (streamed, batch) = runToCompletion(df =>
      CepQueries.sessionStats(df, watermark = "1 minute", gap = "30 minutes"))
    val s = streamed.where(col("conv_id") =!= sentinel.conv_id)
      .select("conv_id", "n_turns", "start_ts", "end_ts")
    val b = Sessions.bySessionWindow(batch, "30 minutes")
      .select("conv_id", "n_turns", "start_ts", "end_ts")
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("T5 stream-stream join == batch pairing") {
    val (streamed, batch) = runToCompletion(df =>
      CepQueries.userAssistantJoin(df, watermark = "1 minute", maxWait = "2 hours"))
    val s = streamed.select("conv_id", "user_idx", "asst_idx", "latency_us")
    // batch twin restricted to the same maxWait horizon
    val b = Pairing.userAssistant(batch, maxGapSec = 7200)
      .select("conv_id", "user_idx", "asst_idx", "latency_us")
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("T5 outer stream-stream join: null-padded rows need per-side sentinels") {
    // the LEFT OUTER join's null-padded rows emit only once the GLOBAL
    // watermark (min over both sides) proves no reply can arrive — a
    // sentinel visible to one side's role filter leaves the other side's
    // watermark at its real-data horizon and the outer rows unemitted
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val out = CepQueries.userAssistantJoinOuter(
      ms.toDF(), watermark = "1 minute", maxWait = "2 hours")
    val query = out.writeStream.format("memory")
      .queryName(s"pair_outer_${System.nanoTime()}")
      .outputMode("append").start()
    // the synthetic fixture answers every user turn inside maxWait — the
    // outer rows it would emit are exactly the inner join's, so plant
    // the two genuinely-unanswered shapes: no reply at all, and a reply
    // past the maxWait horizon
    val planted = Seq(
      Turn("x_unanswered", 0, "user", "u", None,
           new Timestamp(maxTs - 3600 * 1000)),
      Turn("x_late_reply", 0, "user", "u", None,
           new Timestamp(maxTs - 4 * 3600 * 1000)),
      Turn("x_late_reply", 1, "assistant", "a", None,
           new Timestamp(maxTs - 1800 * 1000)))
    val sorted = (data ++ planted).sortBy(_.ts.getTime)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    ms.addData(b1); query.processAllAvailable()
    ms.addData(b2); query.processAllAvailable()
    (1 to 2).foreach { i =>
      val ts = new Timestamp(maxTs + i * 48L * 3600 * 1000)
      ms.addData(Seq(sentinel.copy(ts = ts),
                     sentinel.copy(turn_idx = 1, role = "assistant", ts = ts)))
      query.processAllAvailable()
    }
    val s = spark.table(query.name)
      .where(col("conv_id") =!= sentinel.conv_id)
      .select("conv_id", "user_idx", "asst_idx", "latency_us")
    val batch = spark.createDataset(data ++ planted).toDF()
    val u = batch.where(col("role") === "user")
      .select(col("conv_id"), col("turn_idx").as("user_idx"),
              col("ts").as("u_ts"))
    val a = batch.where(col("role") === "assistant")
      .select(col("conv_id").as("a_conv"), col("turn_idx").as("asst_idx"),
              col("ts").as("a_ts"))
    val b = u.join(a,
        col("conv_id") === col("a_conv") &&
        col("asst_idx") === col("user_idx") + 1 &&
        col("a_ts") >= col("u_ts") &&
        col("a_ts") <= col("u_ts") + expr("INTERVAL 2 hours"), "leftOuter")
      .select(col("conv_id"), col("user_idx"), col("asst_idx"),
              expr("timestampdiff(MICROSECOND, u_ts, a_ts)").as("latency_us"))
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
    // the fixture genuinely has unanswered user turns, else the outer
    // semantics are untested
    assert(b.where(col("asst_idx").isNull).count() > 0)
    query.stop()
  }

  test("T6 CSR state: incremental updates + event-time timeout finalization") {
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val withWm = ms.toDS().withWatermark("ts", "1 minute")
    val updates = CsrState.attach(withWm, idleTimeout = "10 minutes")
    val query = updates.toDF().writeStream.format("memory")
      .queryName("csr_out").outputMode("append").start()

    def turn(c: String, i: Int, tsMin: Long) =
      Turn(c, i, if (i % 2 == 0) "user" else "assistant", s"t$i", None,
           new Timestamp(1700000000000L + tsMin * 60000))
    ms.addData(Seq(turn("A", 0, 0), turn("A", 1, 1), turn("B", 0, 0)))
    query.processAllAvailable()
    ms.addData(Seq(turn("A", 2, 3)))
    query.processAllAvailable()
    // far-future event drives watermark past A/B idle timeout
    ms.addData(Seq(turn("C", 0, 600)))
    query.processAllAvailable()
    ms.addData(Seq(turn("C", 1, 601))) // one more batch so timeouts fire
    query.processAllAvailable()
    val out = spark.table("csr_out").collect()

    val aUpdates = out.filter(r => r.getAs[String]("conv_id") == "A")
    assert(aUpdates.exists(r => r.getAs[Int]("n_turns") == 2 && !r.getAs[Boolean]("is_final")))
    assert(aUpdates.exists(r => r.getAs[Int]("n_turns") == 3 &&
      r.getAs[Int]("n_edges") == 2 && r.getAs[Boolean]("contiguous")))
    val aFinal = aUpdates.filter(_.getAs[Boolean]("is_final"))
    assert(aFinal.length == 1, s"expected one final A row, got ${aFinal.length}")
    query.stop()
  }

  test("csrOf: CSR arrays from sparse seen-set") {
    val (indptr, indices) = CsrState.csrOf(Array(0, 1, 2, 5, 6))
    assert(indices.toSeq == Seq(1, 2, 6))   // edges 0→1, 1→2, 5→6
    // rows: 0 has 1 edge, 1 has 1, 2 none, 5 has 1, 6 none
    assert(indptr.toSeq == Seq(0, 1, 2, 2, 3, 3))
  }

  test("T9 sink: upsert is idempotent under batch replay, lineage recorded") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    val table = s"$dir/table"
    val lineage = s"$dir/lineage"
    val d = spark.createDataset(data).toDF()
    val (b1, b2) = (d.where(col("turn_idx") < 5), d.where(col("turn_idx") >= 5))

    TranscriptSink.upsertBatch(spark, table, b1, 0L, Some(lineage))
    val after1 = spark.read.parquet(table).count()
    TranscriptSink.upsertBatch(spark, table, b2, 1L, Some(lineage))
    val after2 = spark.read.parquet(table).count()
    assert(after2 == data.length)
    // replay batch 0 (checkpoint restart semantics) → nothing changes
    TranscriptSink.upsertBatch(spark, table, b1, 0L, Some(lineage))
    val after3 = spark.read.parquet(table)
    assert(after3.count() == data.length)
    assert(after3.groupBy("conv_id", "turn_idx").count()
      .where(col("count") > 1).isEmpty)
    assert(after1 == b1.count())
    // lineage: batch rows idempotent per batch_id, counts match
    val lin = Lineage.read(spark, lineage)
    val perBatch = lin.groupBy("batch_id").agg(sum("row_count").as("rows"))
      .collect().map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("rows")).toMap
    assert(perBatch(0L) == b1.count() && perBatch(1L) == b2.count())

    // a two-day batch where day 0 is already in the table and day 1 is
    // new: the batch anti-joins against day 0's keys and appends, so the
    // stored ("a", 0) is kept, ("a", 1) and day 1 are added, the untouched
    // day 2 survives, the session's overwrite mode is left as found, and
    // the day-0 files batch 0 wrote are not rewritten
    def turn(c: String, i: Int, day: Int) = Turn(c, i, "user", "x", None,
      new Timestamp(1700000000000L + day * 86400000L))
    val table2 = s"$dir/table2"
    TranscriptSink.upsertBatch(spark, table2,
      Seq(turn("a", 0, 0), turn("b", 0, 2)).toDF(), 0L)
    val day0 = new java.io.File(s"$table2/day=2023-11-14")
    def parquetFiles(d: java.io.File) = d.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toSet
    val day0Files = parquetFiles(day0)
    assert(day0Files.nonEmpty)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val mode = spark.conf.getOption(modeKey)
    TranscriptSink.upsertBatch(spark, table2,
      Seq(turn("a", 0, 0), turn("a", 1, 0), turn("c", 0, 1)).toDF(), 1L)
    assert(spark.conf.getOption(modeKey) == mode)
    val keys = spark.read.parquet(table2).select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSet
    assert(keys == Set(("a", 0), ("a", 1), ("b", 0), ("c", 0)))
    assert(day0Files.subsetOf(parquetFiles(day0)))
  }

  test("T9 sink: null-ts rows are dropped, table and lineage agree") {
    val dir = java.nio.file.Files.createTempDirectory("sink_null_ts").toString
    val (table, lineage) = (s"$dir/table", s"$dir/lineage")
    val rows = Seq(Turn("a", 0, "user", "x", None, new Timestamp(1700000000000L)),
                   Turn("a", 1, "user", "y", None, null)).toDF()
    TranscriptSink.upsertBatch(spark, table, rows, 0L, Some(lineage))
    TranscriptSink.upsertBatch(spark, table, rows, 0L, Some(lineage))
    val sunk = spark.read.parquet(table)
    assert(sunk.select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq
      == Seq(("a", 0)))
    assert(new java.io.File(table).list().filter(_.startsWith("day=")).toSeq
      == Seq("day=2023-11-14"))
    assert(Lineage.read(spark, lineage).agg(sum("row_count")).head().getLong(0) == 1L)
  }

  test("T2 watermark: late rows are dropped and counted") {
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val metrics = new Metrics
    spark.streams.addListener(metrics)
    try {
      val agg = CepQueries.turnRateExactDistinct(ms.toDF(),
        watermark = "10 minutes", width = "5 minutes")
      val query = agg.writeStream.format("memory")
        .queryName("late_out").outputMode("append").start()
      def at(min: Long, c: String = "L") =
        Turn(c, 0, "user", "x", None, new Timestamp(1700000000000L + min * 60000))
      ms.addData(Seq(at(0), at(1), at(2)))
      query.processAllAvailable()
      ms.addData(Seq(at(120)))          // advances watermark to ~110min
      query.processAllAvailable()
      ms.addData(Seq(at(3)))            // 3min << watermark → late, dropped
      query.processAllAvailable()
      query.processAllAvailable()
      assert(metrics.totalLateDropped >= 1,
        s"late drops=${metrics.totalLateDropped}")
      query.stop()
    } finally spark.streams.removeListener(metrics)
  }

  test("T5 join state is bounded: evicted user rows never pair with late assistants") {
    // the unbounded-input guarantee of the stream-stream join: once the
    // watermark passes user_ts + maxWait, the buffered user row is
    // evicted — an assistant arriving after that produces NO pair (and a
    // fresh pair in the same batch still emits, as the positive control)
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val out = CepQueries.userAssistantJoin(ms.toDF(),
      watermark = "1 minute", maxWait = "10 minutes")
    val query = out.writeStream.format("memory")
      .queryName(s"join_evict_${System.nanoTime()}")
      .outputMode("append").start()
    val t0 = 1700000000000L
    def turn(c: String, i: Int, role: String, offMs: Long) =
      Turn(c, i, role, "x", None, new Timestamp(t0 + offMs))
    try {
      // batch 1: user A at t0; user C two hours later pushes the
      // watermark (computed at batch END) to ~t0+2h−1min ≫ t0+10min
      ms.addData(Seq(turn("A", 0, "user", 0),
                     turn("C", 0, "user", 2 * 3600 * 1000L)))
      query.processAllAvailable()
      // batch 2: state cleanup runs with batch 1's watermark → A's user
      // row (evictable once watermark > user_ts + maxWait) is removed;
      // C's fresh assistant pairs (the positive control)
      ms.addData(Seq(turn("C", 1, "assistant", 2 * 3600 * 1000L + 30 * 1000L)))
      query.processAllAvailable()
      // batch 3: A's assistant arrives 2 h late — its user row is gone,
      // so no pair (the bounded-state guarantee; eviction lags the
      // watermark by one batch, which is why this is batch 3 not 2)
      ms.addData(Seq(turn("A", 1, "assistant", 30 * 1000L)))
      query.processAllAvailable()
      query.processAllAvailable()
      val rows = spark.table(query.name)
        .select("conv_id", "user_idx", "asst_idx").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(rows == Set(("C", 0, 1)), s"got $rows")
    } finally query.stop()
  }
}
