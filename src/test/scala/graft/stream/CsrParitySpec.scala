package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSuite
import graft.gen.SynthTranscripts
import graft.ops.ConvCsrAggregator
import graft.schema.Turn

/** T6 streaming == batch: the flatMapGroupsWithState CSR state and the
  * typed batch Aggregator must agree conversation-for-conversation.
  */
class CsrParitySpec extends SparkSuite {
  import spark.implicits._

  test("ConvCsrAggregator handles a 5k-turn hot conversation with duplicates") {
    // the skewed-generator shape the quadratic reduce choked on: one key,
    // thousands of rows, replayed duplicates — finish dedups+sorts once
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 5000).map(i =>
      Turn("hot", i % 2500, if (i % 2 == 0) "user" else "assistant",
           s"t$i", null, ts0)) // every turn_idx appears twice
    val out = spark.createDataset(rows)
      .groupByKey(_.conv_id)
      .agg(ConvCsrAggregator.toColumn.name("csr"))
      .select(col("csr.n_turns"), col("csr.min_idx"), col("csr.max_idx"),
              col("csr.contiguous"))
      .head()
    assert(out.getInt(0) == 2500 && out.getInt(1) == 0 &&
           out.getInt(2) == 2499 && out.getBoolean(3))
  }

  test("attachSalted == attach row-for-row (skew pre-aggregation parity)") {
    val data = SynthTranscripts.turnRows(5, 11)
    def run(salted: Boolean, name: String) = {
      val ms = MemoryStream[Turn](
        implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
      // attachSalted declares its own watermark (on the partials' max_ts)
      val out = if (salted)
        CsrState.attachSalted(ms.toDS(), "5 minutes", "1 minute")
      else
        CsrState.attach(ms.toDS().withWatermark("ts", "1 minute"), "5 minutes")
      val q = out.toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      ms.addData(data.sortBy(_.ts.getTime))
      q.processAllAvailable()
      val maxTs = data.map(_.ts.getTime).max
      ms.addData(Seq(Turn("zzz-sentinel", 0, "user", "x", None,
        new java.sql.Timestamp(maxTs + 3600000L))))
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => r.toSeq.mkString("|")).sorted.toSeq
    }
    val plain = run(salted = false, "csr_plain")
    val salted = run(salted = true, "csr_salted")
    assert(plain == salted)
    assert(plain.nonEmpty)
  }

  test("CSR state runs identically on the RocksDB state store provider") {
    val data = SynthTranscripts.turnRows(4, 7)
    // rows of the sink, and whether the query's state store reported
    // RocksDB metrics (the provider is frozen into the query at start)
    def run(s: SparkSession, name: String) = {
      val ms = MemoryStream[Turn](
        implicitly[org.apache.spark.sql.Encoder[Turn]], s.sqlContext)
      val q = CsrState.attach(
          ms.toDS().withWatermark("ts", "1 minute"), "5 minutes")
        .toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      ms.addData(data.sortBy(_.ts.getTime))
      q.processAllAvailable()
      q.stop()
      (s.table(name).collect().map(_.toSeq.mkString("|")).sorted.toSeq,
       onRocksDb(q))
    }
    val (heap, heapOnRocks) = run(spark, "csr_heap")
    val (rocks, rocksOnRocks) =
      run(Bridge.child(spark, StateStores.RocksDbConf: _*), "csr_rocks")
    assert(!heapOnRocks && rocksOnRocks)
    assert(rocks == heap && rocks.nonEmpty)
  }

  test("CsrState final summaries == ConvCsrAggregator batch results") {
    val data = SynthTranscripts.turnRows(6, 9)
    val maxTs = data.map(_.ts.getTime).max

    // streaming: feed all data, then advance watermark far so every conv
    // times out and emits its final summary
    val ms = MemoryStream[Turn](
      implicitly[org.apache.spark.sql.Encoder[Turn]], spark.sqlContext)
    val q = CsrState.attach(
        ms.toDS().withWatermark("ts", "1 minute"), idleTimeout = "5 minutes")
      .toDF().writeStream.format("memory")
      .queryName("csr_parity").outputMode("append").start()
    ms.addData(data.sortBy(_.ts.getTime))
    q.processAllAvailable()
    ms.addData(Seq(Turn("zz", 0, "user", "s", None,
      new java.sql.Timestamp(maxTs + 86400000L))))
    q.processAllAvailable()
    ms.addData(Seq(Turn("zz", 1, "assistant", "s", None,
      new java.sql.Timestamp(maxTs + 86400001L))))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("csr_parity")
      .where(col("is_final") && col("conv_id") =!= "zz")
      .select("conv_id", "n_turns", "n_edges", "min_idx", "max_idx", "contiguous")

    val batch = spark.createDataset(data)
      .groupByKey(_.conv_id)
      .agg(ConvCsrAggregator.toColumn.name("csr"))
      .select(col("key").as("conv_id"), col("csr.n_turns"), col("csr.n_edges"),
              col("csr.min_idx"), col("csr.max_idx"), col("csr.contiguous"))

    assert(streamed.count() == data.map(_.conv_id).distinct.length)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
