package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.gen.Transcripts

/** Pins the driver-side streamFeed Turn derivation (r07: the bounded
  * feed slice no longer routes through the distributed rank-window
  * derivation before its collect) against [[Transcripts.fromEvents]] —
  * the two must produce the identical Turn SET, and the feed must be
  * event-time-sorted at microsecond precision.
  */
class StreamFeedSpec extends SparkSuite {
  import spark.implicits._

  private def viaDistributed(dir: String): Set[graft.schema.Turn] =
    Transcripts.fromEvents(
        spark.read.parquet(s"$dir/events.parquet").where(col("user_id") < 10))
      .where(col("ts").isNotNull)
      .withColumn("ts", col("ts").cast("timestamp"))
      .as[graft.schema.Turn]
      .collect()
      .toSet

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"driver-side incDocs feed == distributed derivation at $sf") {
      val dir = s"/root/testdata/$sf"
      val fast = graft.queries.StreamQueries.incDocsRows(spark, dir).toSeq
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val base = d.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      val prev = d.select(col("doc_id").as("p_id"), col("text").as("p_text"))
      val dd = d.where(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val slow = dd
        .join(base, dd("doc_id") + 200 === col("b_id"), "left")
        .join(prev, dd("doc_id") - 100 === col("p_id"), "left")
        .select(dd("doc_id"),
          when(dd("doc_id") % 7 === 3, col("b_text"))
            .when(dd("doc_id") >= 100 && dd("doc_id") % 9 === 7, col("p_text"))
            .otherwise(dd("text")).as("text"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
        .sortBy(_._1).toSeq
      assert(fast == slow)
      assert(fast.nonEmpty)
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"driver-side feed == distributed Turn derivation at $sf") {
      val dir = s"/root/testdata/$sf"
      val fast = graft.queries.StreamQueries.streamFeed(spark, dir)
      val slow = viaDistributed(dir)
      assert(fast.length == slow.size, "row count differs")
      assert(fast.toSet == slow, "turn sets differ")
      // event-time sorted at microsecond precision (sentinel rows are
      // derived from rows.last — it must be the event-time max)
      def us(t: java.sql.Timestamp) =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      assert(fast.iterator.sliding(2).withPartial(false)
        .forall { case Seq(a, b) => us(a.ts) <= us(b.ts) })
    }
  }
}
