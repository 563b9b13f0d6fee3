package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.text.Dedup

/** The corpus-growth near-dup path: streamed batches banded against the
  * base snapshot's MATERIALIZED signature tables (never the base text),
  * cross-batch pairs via the signature deltas, replay idempotence via
  * per-batch overwrite.
  */
class IncrementalNearDupSpec extends SparkSuite {
  import spark.implicits._

  /** 60 distinct tokens per doc; `near` variants differ in ONE mid-token
    * → shingle jaccard ≈ 0.84, found by 32/8 banding deterministically.
    */
  private def text(seed: Long, variant: Int = 0): String =
    (0 until 60).map { i =>
      if (i == 30 && variant != 0) s"v${seed}x$variant" else s"t${seed}w$i"
    }.mkString(" ")

  // feed docs 0-9 (streamed), base docs 100-119 (snapshot only).
  // Plants: 0≈100 (feed×base), 1≈5 (cross-batch feed×feed),
  // 2≈3 (adjacent-batch), 101≈102 (base×base — must NOT be emitted).
  private val feedRows: Seq[(Long, String)] =
    Seq(0L -> text(0), 1L -> text(1), 2L -> text(2),
        3L -> text(2, 1), 4L -> text(4), 5L -> text(1, 2),
        6L -> text(6), 7L -> text(7), 8L -> text(8), 9L -> text(9))
  private val baseRows: Seq[(Long, String)] =
    Seq(100L -> text(0, 3), 101L -> text(101), 102L -> text(101, 4)) ++
      (103L to 119L).map(i => i -> text(i))

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def tmp(tag: String) = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** What the BATCH pipeline over the final corpus finds, restricted to
    * pairs with a streamed endpoint — the incremental target relation.
    */
  private def expectedPairs(threshold: Double): Set[(Long, Long, Double)] =
    batchPairs(df(feedRows ++ baseRows), threshold)
      .where(col("id_a") < 100 || col("id_b") < 100)
      .as[(Long, Long, Double)].collect().toSet

  private def batchPairs(docs: org.apache.spark.sql.DataFrame,
                         threshold: Double) = {
    val sh = Dedup.shingleTable(docs)
    Dedup.minhashNearDupsFrom(sh, Dedup.minhashBands(sh), threshold)
  }

  test("streamed batches against materialized base signatures == batch pipeline") {
    val base = df(baseRows)
    val baseSh = Dedup.shingleTable(base).localCheckpoint(true)
    val baseBands = Dedup.minhashBands(baseSh).localCheckpoint(true)
    val root = tmp("inc_neardup")
    val ms = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      spark.sqlContext)
    val q = IncrementalNearDup.start(
      ms.toDF().toDF("doc_id", "text"), baseSh, baseBands,
      s"$root/delta", s"$root/pairs", s"$root/ckpt", threshold = 0.5)
    try {
      ms.addData(feedRows.slice(0, 3)); q.processAllAvailable()
      ms.addData(feedRows.slice(3, 6)); q.processAllAvailable()
      ms.addData(feedRows.slice(6, 10)); q.processAllAvailable()
    } finally q.stop()
    val got = IncrementalNearDup.readPairs(spark, s"$root/pairs")
      .as[(Long, Long, Double)].collect().toSet
    val expected = expectedPairs(0.5)
    assert(got == expected, s"got $got expected $expected")
    // the fixture is non-vacuous and exercises all three pair shapes
    assert(expected.exists { case (a, b, _) => a < 100 && b >= 100 }) // feed×base
    assert(expected.exists { case (a, b, _) => (a, b) == ((1L, 5L)) }) // cross-batch
    assert(expected.exists { case (a, b, _) => (a, b) == ((2L, 3L)) }) // adjacent-batch
    // base×base near-dups exist but are never emitted by the incremental pass
    assert(batchPairs(df(baseRows), 0.5).count() > 0)
    assert(!got.exists { case (a, b, _) => a >= 100 && b >= 100 })
  }

  test("replaying a batch overwrites its own outputs — pair relation unchanged") {
    val base = df(baseRows)
    val baseSh = Dedup.shingleTable(base).localCheckpoint(true)
    val baseBands = Dedup.minhashBands(baseSh).localCheckpoint(true)
    val root = tmp("inc_neardup_replay")
    def run(b: Seq[(Long, String)], id: Long) =
      IncrementalNearDup.processBatch(df(b), id, baseSh, baseBands,
        s"$root/delta", s"$root/pairs", threshold = 0.5)
    run(feedRows.slice(0, 3), 0)
    run(feedRows.slice(3, 6), 1)
    run(feedRows.slice(6, 10), 2)
    val before = IncrementalNearDup.readPairs(spark, s"$root/pairs")
      .as[(Long, Long, Double)].collect().toSet
    // crash-replay of the middle batch: same input, same batch id
    run(feedRows.slice(3, 6), 1)
    val after = IncrementalNearDup.readPairs(spark, s"$root/pairs")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before)
    assert(before == expectedPairs(0.5))
  }
}
