package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.schema.Turn

class QuantilesSpec extends SparkSuite {
  import spark.implicits._

  private def turn(conv: String, idx: Int, gapSec: Long,
                   tool: Option[String], t0: Long): Turn =
    Turn(conv, idx, if (idx % 2 == 0) "user" else "assistant",
         s"t$idx", tool, new Timestamp(t0 + gapSec * 1000))

  test("exact percentiles interpolate at p·(n−1) on a known fixture") {
    // assistant gaps (µs): 10M, 20M, 30M, 40M  → p50 at pos 1.5 = 25M;
    // p95 at pos 2.85 = 30M + .85·10M = 38.5M
    val t0 = 1704067200000L
    val rows = Seq(10L, 20L, 30L, 40L).zipWithIndex.flatMap { case (gap, c) =>
      Seq(Turn(s"c$c", 0, "user", "u", None, new Timestamp(t0)),
          Turn(s"c$c", 1, "assistant", "a", None,
               new Timestamp(t0 + gap * 1000000L)))
    }
    val out = Quantiles.replyLatency(spark.createDataset(rows).toDF())
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n") === 4L)
    // expected values via the SAME double formula both engines use — the
    // two-product interpolation lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋) at
    // pos = p·(n−1) — so p95's ulp noise is reproduced, not idealized away
    def interp(sorted: Seq[Double], p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lower = math.floor(pos); val higher = math.ceil(pos)
      if (lower == higher) sorted(pos.toInt)
      else sorted(lower.toInt) * (higher - pos) +
           sorted(higher.toInt) * (pos - lower)
    }
    val vals = Seq(10e9, 20e9, 30e9, 40e9)
    assert(r.getAs[Double]("p50_us") === interp(vals, 0.5))
    assert(r.getAs[Double]("p95_us") === interp(vals, 0.95))
    assert(r.getAs[Double]("p99_us") === interp(vals, 0.99))
    assert(r.getAs[Long]("max_us") === 40e9.toLong)
  }

  test("gap is computed per conversation (no cross-conv bleed) and only for assistant turns") {
    val t0 = 1704067200000L
    val rows = Seq(
      turn("a", 0, 0, None, t0), turn("a", 1, 5, Some("x"), t0),
      // conv b starts much later — its first turn has no gap
      turn("b", 0, 99999, None, t0), turn("b", 1, 100004, None, t0))
    val out = Quantiles.replyLatency(spark.createDataset(rows).toDF())
    // both assistant gaps are exactly 5 s — a cross-conv lag would differ
    assert(out.agg(sum("n")).head.getLong(0) === 2L)
    assert(out.where(col("p50_us") === 5e6).count() === out.count())
  }
}
