package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the imperative Misra-Gries aggregate ([[graft.functions.MgSketchAgg]],
  * behind [[HeavyHitters.terms]] and [[HeavyHitters.windowedTerms]])
  * against the typed [[MisraGries]] reference: identical sketch content
  * in the exact regime across the partial/merge path, step-identical
  * eviction on a single-partition adversarial stream, and identical
  * window rows when the sketch is streaming aggregation state
  * (multi-partition eviction content is merge-order-dependent for BOTH
  * implementations, so only the order-free regimes pin equality; the MG
  * error bounds ride on HeavyHittersSpec).
  */
class MgAggSpec extends SparkSuite {
  import spark.implicits._

  private def typedHits(rows: Seq[(String, String)], capacity: Int,
                        parts: Int) = {
    val items = rows.toDF("g", "item").repartition(parts)
      .as[(String, String)]
    items.groupByKey(_._1).mapValues(_._2)
      .agg(new MisraGries(capacity).toColumn.name("hits"))
      .toDF("g", "hits")
      .select(col("g"), explode(col("hits")).as("h"))
      .select(col("g"), col("h.item").as("term"), col("h.cnt").as("cnt"))
  }

  private def imperativeHits(rows: Seq[(String, String)], capacity: Int,
                             parts: Int) =
    rows.toDF("g", "item").repartition(parts)
      .groupBy("g")
      .agg(graft.functions.MgAgg.mg_sketch(col("item"), capacity).as("hits"))
      .select(col("g"), explode(col("hits")).as("h"))
      .select(col("g"), col("h.item").as("term"), col("h.cnt").as("cnt"))

  test("exact regime: imperative == typed across a multi-partition merge path") {
    val rows = (0 until 2000).flatMap { i =>
      val g = s"g${i % 3}"
      Seq(g -> s"w${i % 7}", g -> s"w${(i * 13) % 11}")
    }
    val t = typedHits(rows, capacity = 16, parts = 7)
    val f = imperativeHits(rows, capacity = 16, parts = 7)
    assert(f.exceptAll(t).isEmpty && t.exceptAll(f).isEmpty)
    // exact regime really is exact: equal to the plain count
    val plain = rows.toDF("g", "term").groupBy("g", "term")
      .agg(count(lit(1)).as("cnt"))
    assert(f.exceptAll(plain).isEmpty && plain.exceptAll(f).isEmpty)
  }

  test("eviction steps are identical on a single-partition adversarial stream") {
    // vocabulary (27 distinct) far beyond capacity 4: every decrement /
    // no-insert step fires; single partition makes the step sequence
    // deterministic and identical for both implementations
    val rows = (0 until 600).map { i =>
      val w = if (i % 3 == 0) "heavy" else s"rare${i % 26}"
      "g" -> w
    }
    val t = typedHits(rows, capacity = 4, parts = 1).orderBy("term")
      .as[(String, String, Long)].collect().toSeq
    val f = imperativeHits(rows, capacity = 4, parts = 1).orderBy("term")
      .as[(String, String, Long)].collect().toSeq
    assert(t == f && t.nonEmpty)
    assert(f.exists(_._2 == "heavy"))
  }

  test("rank order (cnt desc, term asc) and the survivor set match typed finish") {
    val rows = Seq("a" -> "x", "a" -> "x", "a" -> "y", "a" -> "y",
                   "a" -> "z", "a" -> "w")
    val f = rows.toDF("g", "item").coalesce(1)
      .groupBy("g")
      .agg(graft.functions.MgAgg.mg_sketch(col("item"), 8).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("pos"), col("h.item").as("term"), col("h.cnt").as("cnt"))
      .orderBy("pos")
      .as[(Int, String, Long)].collect().toSeq
    assert(f == Seq((0, "x", 2L), (1, "y", 2L), (2, "w", 1L), (3, "z", 1L)))
  }

  test("streaming: windowed, watermarked mg_sketch state == typed reference row for row past capacity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(String, java.sql.Timestamp)](
      org.apache.spark.sql.Encoders.product[(String, java.sql.Timestamp)],
      spark.sqlContext)
    val src = ms.toDF().toDF("text", "ts")
    val typedMg = udaf(new MisraGries(4), org.apache.spark.sql.Encoders.STRING)
    val typed = src.withWatermark("ts", "10 minutes")
      .select(col("ts"), explode(split(col("text"), " ")).as("item"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(typedMg(col("item")).as("hits"))
      .select(col("window.start").as("window_start"),
              explode(col("hits")).as("h"))
      .select(col("window_start"), col("h.item").as("term"),
              col("h.cnt").as("cnt"))
    val prod = HeavyHitters.windowedTerms(src, watermark = "10 minutes",
                                          width = "1 hour", capacity = 4)
    val tag = System.nanoTime()
    val queries = Seq("typed" -> typed, "prod" -> prod).map { case (n, df) =>
      df.writeStream.format("memory").queryName(s"mg_${n}_$tag")
        .outputMode("append").start()
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    try {
      // 10:00 window, capacity 4: batch 1's sketch evicts on `e` and
      // leaves state {a:5, b:3}; batch 2's partial {f:4, g:2, h:1, a:1}
      // merges into it past capacity (5 counters, cut at the 5th largest
      // = 1). The 11:00 window stays exact.
      Seq(Seq(("a a a a a b b b c d e a b", at(1))),
          Seq(("f f f f g g h a", at(20)), ("x y x", at(70))),
          Seq(("z", at(300)))).foreach { batch =>
        ms.addData(batch)
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())
    def sinkRows(n: String) = spark.table(s"mg_${n}_$tag")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
      .sortBy(r => (r._1.getTime, r._2))
    val t = sinkRows("typed")
    assert(sinkRows("prod") == t)
    def windowRows(start: java.sql.Timestamp) =
      t.filter(_._1 == start).map(r => (r._2, r._3))
    assert(windowRows(t0) == Seq(("a", 5L), ("b", 2L), ("f", 3L), ("g", 1L)))
    assert(windowRows(at(60)) == Seq(("x", 2L), ("y", 1L)))
  }
}
