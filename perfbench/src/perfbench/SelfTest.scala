package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.stream.{CepQueries, TranscriptSink}

/** Tests of the benchmark's own checks: each corrupts one output the way
  * a broken program would and shows the check turn red and the failed
  * ratio rise. Run with `python3 perfbench/run.py --selftest`; exits
  * non-zero when a check fails to catch its corruption.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, cond: Boolean): Unit = {
    println(s"${if (cond) "PASS" else "FAIL"} $name")
    if (!cond) failures += 1
  }

  private def ratio(o: Outcome) = o.failed.get.toDouble / math.max(1L, o.attempted.get)

  def main(args: Array[String]): Unit = {
    val tmp = Paths.get(args(args.indexOf("--tmp") + 1))
    val spark = Main.session(2, tmp)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      sinkChecks(spark, tmp)
      watermarkCheck(spark, tmp)
      plantedCountCheck(spark, tmp)
      throwingCall(spark, tmp)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all checks catch their corruption"
            else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def ctx(spark: SparkSession, tmp: Path, inputs: Path = null) =
    new Ctx(spark, new Tracer(false), new Outcome, tmp, inputs, 1.0)

  /** ingest_backfill / cep_live sink checks: a dropped row, a duplicated key. */
  def sinkChecks(spark: SparkSession, tmp: Path): Unit = {
    val c = ctx(spark, tmp)
    val turns = Gen.turns(7L, 30, "c", Gen.T0Ms, Gen.DayMs)
    val input = spark.createDataFrame(spark.sparkContext.parallelize(
      turns.toSeq.map(t => org.apache.spark.sql.Row(t.conv_id, t.turn_idx, t.role, t.text,
        t.tool.orNull, t.ts))), Gen.TurnSchema)
    val table = c.freshDir("table")
    TranscriptSink.upsertBatch(spark, table.toString, input, 0L)
    val sink = spark.read.parquet(table.toString).drop("day").cache()

    Streams.checkSink(c, "clean", sink, input)
    expect("sink checks hold on the sink's own output", c.outcome.failed.get == 0)

    val before = ratio(c.outcome)
    val dropped = sink.orderBy("conv_id", "turn_idx").limit(sink.count().toInt - 1)
    Streams.checkSink(c, "dropped_row", dropped, input)
    expect("a dropped sink row turns the row-count check red",
      c.outcome.failures.contains("check dropped_row.rows_eq_distinct_input_keys"))
    val afterDrop = ratio(c.outcome)
    expect("failed_ratio rises after a dropped row", afterDrop > before)

    Streams.checkSink(c, "dup_key", sink.union(sink.limit(1)), input)
    expect("a duplicated key turns the duplicate-key check red",
      c.outcome.failures.contains("check dup_key.duplicate_keys"))
    expect("failed_ratio rises after a duplicated key", ratio(c.outcome) > afterDrop)
  }

  /** cep_live: a row that arrives behind the watermark is dropped by the
    * session query; the no-drop check and the batch-equality check see it.
    */
  def watermarkCheck(spark: SparkSession, tmp: Path): Unit = {
    val c = ctx(spark, tmp)
    val src = c.freshDir("src")
    val day = java.sql.Timestamp.valueOf("2024-03-01 12:00:00").getTime
    def file(name: String, i: Int, rows: Seq[(String, Int, Long)]): Unit = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (cv, ix, ts) =>
        org.apache.spark.sql.Row(cv, ix, "user", s"t$ix", null, new java.sql.Timestamp(ts)) }, 1),
        Gen.TurnSchema)
      val out = c.freshDir(name)
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Frames.listFiles(out).foreach { p =>
        val d = src.resolve(s"$name.parquet")
        Files.move(p, d)
        Files.setLastModifiedTime(d, FileTime.fromMillis(1700000000000L + i * 1000L))
      }
    }
    file("a", 0, Seq(("x", 0, day), ("x", 1, day + 60000L)))
    file("b", 1, Seq(("y", 0, day + 4 * 3600000L)))
    file("late", 2, Seq(("z", 0, day - 3600000L)))   // one hour behind the watermark
    file("s", 3, Seq(("~s", 0, day + 40 * 86400000L)))
    val q = CepQueries.sessionStats(Streams.turnSource(spark, src, Some(1)), "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("selftest_sessions").outputMode("append")
      .option("checkpointLocation", c.freshDir("ckpt").toString).start()
    q.processAllAvailable()
    val progress = Streams.executed(q)
    q.stop()
    val dropped = Streams.droppedByWatermark(progress)
    val before = ratio(c.outcome)
    c.outcome.checkEq("state.dropped_by_watermark", dropped, 0L)
    expect("a watermark-dropped row turns the no-drop check red", dropped > 0 &&
      c.outcome.failures.contains("check state.dropped_by_watermark"))
    val input = spark.read.schema(Gen.TurnSchema).parquet(src.toString)
    def rows(df: DataFrame) = df.where(!col("conv_id").startsWith("~"))
      .collect().map(_.mkString("|")).sorted.toSeq
    c.outcome.checkEq("sessions.equals_batch", rows(spark.table("selftest_sessions")),
      rows(CepQueries.sessionStats(input, "10 minutes", "30 minutes")))
    expect("the dropped row also breaks stream == batch",
      c.outcome.failures.contains("check sessions.equals_batch"))
    expect("failed_ratio rises after a watermark drop", ratio(c.outcome) > before)
  }

  /** corpus_batch: a wrong planted count. */
  def plantedCountCheck(spark: SparkSession, tmp: Path): Unit = {
    val inputs = Files.createDirectories(tmp.resolve("corpus-inputs"))
    CorpusBatch.generateShard(11L, inputs.resolve("shard-00"), 0, 400, 200)
    val c = ctx(spark, tmp, inputs)
    val run = new CorpusBatch.Run(c, Seq(inputs.resolve("shard-00")))
    run.run()
    run.check()
    expect("planted counts hold on the program's own output", c.outcome.failed.get == 0)
    val before = ratio(c.outcome)
    val got = run.results.head._2
    got("verified_pairs") = got("verified_pairs") - 1
    run.check()
    expect("a wrong near-duplicate pair count turns its check red",
      c.outcome.failures.contains("check shard-00.verified_pairs"))
    expect("failed_ratio rises after a wrong planted count", ratio(c.outcome) > before)
  }

  /** A layer call that throws is counted as failed and never timed. */
  def throwingCall(spark: SparkSession, tmp: Path): Unit = {
    val c = ctx(spark, tmp)
    c.call("ops", "ok")(1L)(n => n)
    val timed = c.callMs.size
    def boom(): Long = throw new IllegalStateException("boom")
    val r = c.call("ops", "boom")(boom())(n => n)
    expect("a throwing call returns no result", r.isEmpty)
    expect("a throwing call counts as one failed attempt",
      c.outcome.failed.get == 1 && c.outcome.attempted.get == 2)
    expect("a throwing call adds no latency sample", c.callMs.size == timed)
    expect("a throwing call adds no output rows", !c.rowsOut.containsKey("ops.boom"))
  }
}
