package graft.ops

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Misra-Gries contracts: exactness when distinct ≤ capacity (the driver
  * oracle's regime), the classic frequency guarantee when the vocabulary
  * overwhelms the sketch, and the mergeable-summaries bound.
  */
class HeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  test("exact counts when a group's distinct items fit the sketch") {
    val docs = Seq(
      (1L, "a b a c a b", "s1"),
      (2L, "b c c d", "s1"),
      (3L, "x y x", "s2")).toDF("doc_id", "text", "source")
    val got = HeavyHitters.terms(docs, capacity = 8)
      .as[(String, String, Long)].collect().toSet
    val expected = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").count()
      .as[(String, String, Long)].collect().toSet
    assert(got == expected)
  }

  test("frequent items survive a vocabulary far beyond capacity, counts within the MG bound") {
    // one group: 3 heavy items × 500 + 4000 singletons; N = 5500,
    // capacity 16 → error bound N/(k+1) = 324 < 500, so every heavy item
    // MUST be reported, undercounted by at most the bound
    val heavy = Seq("h1", "h2", "h3").flatMap(h => Seq.fill(500)(h))
    val singles = (0 until 4000).map(i => s"u$i")
    val rows = new scala.util.Random(42).shuffle(heavy ++ singles)
      .zipWithIndex.map { case (w, i) => (i.toLong, w, "g") }
    val docs = rows.toDF("doc_id", "text", "source") // one token per row
    val out = HeavyHitters.terms(docs, capacity = 16)
      .as[(String, String, Long)].collect()
    val n = rows.size
    val bound = n / 17
    for (h <- Seq("h1", "h2", "h3")) {
      val hit = out.find(_._2 == h)
      assert(hit.nonEmpty, s"heavy item $h missing (bound $bound)")
      assert(hit.get._3 <= 500 && hit.get._3 >= 500 - bound,
        s"$h count ${hit.get._3} outside [${500 - bound}, 500]")
    }
    // the sketch never exceeds its capacity
    assert(out.length <= 16)
  }

  test("streaming windowed sketch merges state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(String, java.sql.Timestamp)](
      org.apache.spark.sql.Encoders.product[(String, java.sql.Timestamp)],
      spark.sqlContext)
    val name = s"hh_stream_${System.nanoTime()}"
    val q = HeavyHitters.windowedTerms(
        ms.toDF().toDF("text", "ts"), watermark = "0 seconds",
        width = "1 hour", capacity = 8)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    try {
      // the 10:00 window's counts only come out right if batch 2's
      // partial sketch merges into batch 1's persisted window state
      ms.addData(("a b a", at(1)), ("b c", at(2))); q.processAllAvailable()
      ms.addData(("a c c", at(3))); q.processAllAvailable()
      ms.addData(("z", at(200))); q.processAllAvailable() // close the window
    } finally q.stop()
    val out = spark.table(name)
      .where(col("window_start") === lit(t0))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._2, r._3)).toSet
    assert(out == Set(("a", 3L), ("b", 2L), ("c", 3L)))
  }

  test("merge keeps the undercount-only invariant") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.MgAggBuf
    def sketch(items: String*) = {
      val buf = new MgAggBuf(2)
      items.foreach(i => buf.addOne(UTF8String.fromString(i)))
      buf
    }
    // the production merge step of MgSketchAgg: counter-weight adds, then
    // the mergeable-summaries reduction
    val a = sketch("x", "x", "x", "x", "x", "y", "y")
    val b = sketch("w", "w", "w", "z")
    b.m.forEach((k, c) => a.addCount(k, c.v))
    a.reduceIfOver()
    val m = a.m.asScala.map { case (k, c) => k.toString -> c.v }.toMap
    // merged counters x=5, w=3, y=2, z=1 hold no tie at the cut: the
    // reduction subtracts the (capacity+1)-th largest count, 2, exactly
    assert(m == Map("x" -> 3L, "w" -> 1L))
    // true counts (N=11, bound N/3=3) — every reported count must
    // undercount its true frequency by at most the bound
    val truth = Map("x" -> 5L, "w" -> 3L, "y" -> 2L, "z" -> 1L)
    m.foreach { case (k, c) =>
      assert(c <= truth(k), s"$k overcounted: $c > ${truth(k)}")
      assert(c >= truth(k) - 3)
    }
  }
}
