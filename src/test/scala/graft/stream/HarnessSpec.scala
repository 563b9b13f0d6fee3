package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.gen.SynthTranscripts
import graft.schema.Turn

/** The feed harness: halves + sentinel batches into the caller's sink,
  * the stop/restart between the halves, and the empty-feed path, which
  * must yield an empty result with the schema of a fed run.
  */
class HarnessSpec extends SparkSuite {
  import spark.implicits._

  private val fed: Seq[Turn] =
    SynthTranscripts.turnRows(8, 6).sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))

  private def sessions(src: DataFrame): DataFrame =
    CepQueries.sessionStats(src, watermark = "10 minutes", gap = "30 minutes")

  private def csr(src: DataFrame): DataFrame =
    CsrState.attach(src.withWatermark("ts", "10 minutes").as[Turn],
                    idleTimeout = "48 hours").toDF()

  private def viaMemory(rows: Seq[Turn]): DataFrame = {
    val name = s"harness_mem_${System.nanoTime()}"
    Harness.run(spark, rows, Harness.sentinels(rows, 1)) { src =>
      Harness.toMemory(sessions(src), name)
    }
    spark.table(name).where(col("conv_id") =!= Harness.SentinelConv)
  }

  private def viaParquetResumed(rows: Seq[Turn]): DataFrame = {
    val root = Harness.workDir("harness_parquet")
    Harness.run(spark, rows, Harness.sentinels(rows, 2, 14L * 24 * 3600 * 1000),
                restart = true) { src =>
      Harness.toParquet(csr(src), root)
    }
    spark.read.parquet(s"$root/out").where(col("conv_id") =!= Harness.SentinelConv)
  }

  test("halves + sentinels: every fed conversation finalizes exactly once") {
    val out = viaMemory(fed)
    val convs = fed.map(_.conv_id).distinct
    assert(out.select("conv_id").distinct().count() == convs.size)
    assert(out.agg(sum("n_turns")).head().getLong(0) == fed.size)
  }

  test("restart from the same checkpoint: one final per conversation") {
    val out = viaParquetResumed(fed).where(col("is_final"))
    val got = out.select("conv_id", "n_turns").as[(String, Int)].collect().sorted
    val want = fed.groupBy(_.conv_id).map { case (c, ts) => (c, ts.size) }
      .toArray.sorted
    assert(got.sameElements(want))
  }

  test("empty feed, memory sink: empty result with the fed run's schema") {
    val full = viaMemory(fed)
    val empty = viaMemory(Nil)
    assert(full.count() > 0)
    assert(empty.isEmpty)
    assert(empty.schema == full.schema)
  }

  test("empty feed, checkpointed parquet sink: empty result with the fed run's schema") {
    val full = viaParquetResumed(fed)
    val empty = viaParquetResumed(Nil)
    assert(full.count() > 0)
    assert(empty.isEmpty)
    assert(empty.schema == full.schema)
  }

  test("empty feed, materialized view: the view reads back empty with its fed schema") {
    def view(rows: Seq[Turn]): DataFrame = {
      val root = Harness.workDir("harness_view")
      Harness.run(spark, rows) { src =>
        MaterializedView.start(src, s"$root/view", s"$root/ckpt")
      }
      MaterializedView.readView(spark, s"$root/view")
    }
    val full = view(fed)
    val empty = view(Nil)
    assert(full.count() == fed.map(_.conv_id).distinct.size)
    assert(empty.isEmpty)
    assert(empty.schema == full.schema)
  }

  test("sentinels: n batches, gapMs apart after the last turn, one turn per role") {
    val bs = Harness.sentinels(fed, 2, gapMs = 1000L, roles = Seq("user", "assistant"))
    assert(bs.map(_.map(_.role)) == Seq.fill(2)(Seq("user", "assistant")))
    assert(bs.map(_.head.ts.getTime) == Seq(1000L, 2000L).map(_ + fed.last.ts.getTime))
    assert(Harness.sentinels(Nil, 3).isEmpty)
  }
}
