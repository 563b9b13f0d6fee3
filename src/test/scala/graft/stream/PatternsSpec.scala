package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSuite
import graft.gen.SynthTranscripts
import graft.schema.Turn

class PatternsSpec extends SparkSuite {
  import spark.implicits._

  private def runs(idxs: Array[Int], tools: Array[String], minLen: Int = 2) =
    Patterns.runsOf("c", idxs, tools, minLen).toSeq
      .map(r => (r.start_idx, r.end_idx, r.run_len, r.n_tools))

  test("runsOf kernel: maximal consecutive stretches with distinct-tool counts") {
    assert(runs(Array.empty, Array.empty) === Seq.empty)
    assert(runs(Array(3), Array("a")) === Seq.empty)                 // below minLen
    assert(runs(Array(3), Array("a"), minLen = 1) === Seq((3, 3, 1, 1)))
    assert(runs(Array(1, 2), Array("a", "a")) === Seq((1, 2, 2, 1)))
    assert(runs(Array(1, 2, 3), Array("a", "b", "a")) === Seq((1, 3, 3, 2)))
    // a gap splits runs; sub-minLen fragments are dropped
    assert(runs(Array(0, 1, 3, 5, 6, 7), Array("a", "b", "c", "a", "a", "b"))
      === Seq((0, 1, 2, 2), (5, 7, 3, 2)))
  }

  test("batch islands == per-conv brute force on the synthetic corpus") {
    val t = SynthTranscripts.turns(spark, 60, 12).toDF()
    val got = Patterns.toolRuns(t, minLen = 2)
      .as[(String, Int, Int, Int, Int)].collect().toSet
    // brute force in Scala from the raw rows
    val brute = t.as[Turn].collect().groupBy(_.conv_id).toSeq.flatMap {
      case (conv, ts) =>
        val flagged = ts.filter(_.tool.isDefined).sortBy(_.turn_idx)
        Patterns.runsOf(conv, flagged.map(_.turn_idx).toArray,
                        flagged.map(_.tool.get).toArray, minLen = 2)
          .map(r => (r.conv_id, r.start_idx, r.end_idx, r.run_len, r.n_tools))
    }.toSet
    assert(got === brute)
    assert(got.nonEmpty, "fixture must actually contain tool runs")
    assert(got.exists(_._5 > 1), "fixture must contain a multi-tool run")
  }

  test("streaming pattern path == batch islands; matches emit only at finalization") {
    val data = SynthTranscripts.turnRows(30, 12)
    val maxTs = data.map(_.ts.getTime).max
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val out = Patterns.attach(
      ms.toDF().withWatermark("ts", "1 minute")
        .as[Turn].filter(_.tool.isDefined),
      minLen = 2, idleTimeout = "48 hours")
    val query = out.toDF().writeStream.format("memory")
      .queryName(s"runs_${System.nanoTime()}").outputMode("append").start()
    val sorted = data.sortBy(_.ts.getTime)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    ms.addData(b1); query.processAllAvailable()
    ms.addData(b2); query.processAllAvailable()
    // nothing may emit before the watermark finalizes conversations — a
    // run straddling the batch split would otherwise double-report
    assert(spark.table(query.name).isEmpty)
    (1 to 2).foreach { i =>
      ms.addData(Seq(Turn("zz_sentinel", 0, "user", "s", Some("t"),
        new Timestamp(maxTs + i * 14L * 24 * 3600 * 1000))))
      query.processAllAvailable()
    }
    val streamed = spark.table(query.name)
      .where(col("conv_id") =!= "zz_sentinel")
      .as[(String, Int, Int, Int, Int)].collect().toSet
    query.stop()
    val batch = Patterns.toolRuns(spark.createDataset(data).toDF(), minLen = 2)
      .as[(String, Int, Int, Int, Int)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("transformWithState path (RocksDB, explicit timers) == batch islands") {
    val data = SynthTranscripts.turnRows(30, 12)
    val maxTs = data.map(_.ts.getTime).max
    val rocks = Bridge.child(spark, StateStores.RocksDbConf: _*)
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], rocks.sqlContext)
    val out = Patterns.attachTws(
      ms.toDF().withWatermark("ts", "1 minute")
        .as[Turn].filter(_.tool.isDefined),
      minLen = 2, idleTimeout = "48 hours")
    val query = out.toDF().writeStream.format("memory")
      .queryName(s"runs_tws_${System.nanoTime()}")
      .outputMode("append").start()
    val sorted = data.sortBy(_.ts.getTime)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    ms.addData(b1); query.processAllAvailable()
    ms.addData(b2); query.processAllAvailable()
    (1 to 2).foreach { i =>
      ms.addData(Seq(Turn("zz_sentinel", 0, "user", "s", Some("t"),
        new Timestamp(maxTs + i * 14L * 24 * 3600 * 1000))))
      query.processAllAvailable()
    }
    val streamed = rocks.table(query.name)
      .where(col("conv_id") =!= "zz_sentinel")
      .as[(String, Int, Int, Int, Int)].collect().toSet
    query.stop()
    assert(onRocksDb(query))
    val batch = Patterns.toolRuns(spark.createDataset(data).toDF(), minLen = 2)
      .as[(String, Int, Int, Int, Int)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }
}
