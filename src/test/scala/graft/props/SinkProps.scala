package graft.props

import java.nio.file.Files
import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.schema.Turn
import graft.stream.TranscriptSink

/** Exactly-once property of the transcript sink (T9): over a random k-way
  * split of a tiny feed, with a replayed batch and a partial commit, the
  * table holds every dated key once, with the text of the first batch
  * that carried it. Each case runs a handful of Spark jobs, so the inputs
  * stay tiny: 16 keys over at most 3 days.
  */
object SinkProps extends Properties("graft.sink") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100)

  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val Day0 = 1699920000000L // 2023-11-14 00:00 UTC
  private val keys = for (c <- 0 until 4; i <- 0 until 4) yield (s"c$c", i)

  /** A feed: batches in order, the batch replayed after the last one, and
    * a partial commit of `planted` fresh rows made before batch `crash`.
    * A key's `ts` (so its day) is fixed across batches; some keys have none.
    */
  private case class Feed(batches: Seq[Seq[Turn]], replay: Int, crash: Int, planted: Int)

  private val tsGen: Gen[Option[Timestamp]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> (for (d <- Gen.choose(0, 2); m <- Gen.choose(0, 1439))
          yield Some(new Timestamp(Day0 + d * 86400000L + m * 60000L))))

  private val feedGen: Gen[Feed] = for {
    ts <- Gen.listOfN(keys.length, tsGen).map(keys.zip(_).toMap)
    k <- Gen.choose(1, 4)
    picks <- Gen.listOfN(k, Gen.someOf(keys))
    replay <- Gen.choose(0, k - 1)
    crash <- Gen.choose(0, k - 1)
    planted <- Gen.choose(0, keys.length)
  } yield Feed(picks.zipWithIndex.map { case (ks, b) =>
      // text names the batch; the first row repeats inside its batch
      (ks ++ ks.take(1)).toSeq.map { case (c, i) =>
        Turn(c, i, "user", s"b$b", None, ts((c, i)).orNull) }
    }, replay, crash, planted)

  private def key(t: Turn) = (t.conv_id, t.turn_idx)

  /** Dated rows of batch `i` whose keys no earlier batch carried. */
  private def fresh(feed: Feed, i: Int): Seq[Turn] = {
    val seen = feed.batches.take(i).flatten.map(key).toSet
    feed.batches(i).filter(t => t.ts != null && !seen(key(t))).distinct
  }

  /** A partial commit: some rows of an append land before the crash. */
  private def plant(table: String, rows: Seq[Turn]): Unit =
    if (rows.nonEmpty)
      rows.toDF().withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("append").partitionBy("day").parquet(table)

  property("upsertBatch: each dated key once, with its first batch's text, " +
           "under split, replay and partial commit") =
    Prop.forAllNoShrink(feedGen) { feed =>
      val dir = Files.createTempDirectory("sink_prop")
      val table = dir.resolve("table").toString
      try {
        feed.batches.zipWithIndex.foreach { case (b, i) =>
          if (i == feed.crash) plant(table, fresh(feed, i).take(feed.planted))
          TranscriptSink.upsertBatch(spark, table, b.toDF(), i.toLong)
        }
        TranscriptSink.upsertBatch(spark, table, feed.batches(feed.replay).toDF(),
          feed.replay.toLong)
        val expect = feed.batches.flatten.filter(_.ts != null)
          .foldLeft(Map.empty[(String, Int), String]) { (m, t) =>
            if (m.contains(key(t))) m else m + (key(t) -> t.text) }
          .toSeq.map { case ((c, i), x) => (c, i, x) }.sorted
        val got =
          if (!Files.exists(dir.resolve("table"))) Seq.empty
          else spark.read.parquet(table).select("conv_id", "turn_idx", "text")
            .as[(String, Int, String)].collect().toSeq.sorted
        (got == expect) :| s"feed=$feed\ngot=$got\nexpect=$expect"
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
}
