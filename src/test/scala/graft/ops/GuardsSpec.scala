package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.gfa.{GfaAnalysis, GfaExport}

/** Guard rails: R-guards (test_limits.py / test_warnings.py analogs) and
  * the counted side outputs of the candidate caps.
  */
class GuardsSpec extends SparkSuite {
  import spark.implicits._

  test("dense-export guard aborts above the limit (test_limits.py:19-45)") {
    GfaExport.denseGuard(n = 100, itemBytes = 8, maxGb = 5.0) // fine
    val e = intercept[IllegalStateException] {
      GfaExport.denseGuard(n = 1000000, itemBytes = 8, maxGb = 5.0)
    }
    assert(e.getMessage.contains("dense export"))
  }

  test("byte totals accounting (A9, builders.py:262-273)") {
    val lines = gfaLines("S\ts1\tACGT\tXX:Z:abc", "S\ts2\tTTTTTT")
    val r = GfaAnalysis.byteTotals(lines).head()
    assert(r.getLong(0) == 10L)      // 4 + 6 sequence bytes
    assert(r.getLong(1) == 5L)       // "Z:abc"
  }

  test("LSH bucket cap: planted identical-doc cluster is dropped and counted") {
    import graft.text.Dedup
    // 1,000 byte-identical docs (one giant LSH bucket per band) + a pair
    // of genuine near-dups that must SURVIVE the cap
    val cluster = (0 until 1000).map(i => (i.toLong, "the same boilerplate text repeated verbatim across the corpus"))
    val nearPair = Seq(
      (2000L, "an unrelated document about distributed query engines and shuffles"),
      (2001L, "an unrelated document about distributed query engines and sorts"))
    val docs = (cluster ++ nearPair).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs)
    val capped = Dedup.minhashNearDupsFrom(sh, Dedup.minhashBands(sh), 0.0,
                                           maxBucket = 50).collect()
    // without the cap the cluster alone yields 1000*999/2 ≈ 5·10⁵ pairs
    assert(capped.length < 100, s"candidates not bounded: ${capped.length}")
    assert(capped.exists(r => r.getLong(0) == 2000L && r.getLong(1) == 2001L),
      "sub-cap near-dup pair must survive")
    // counted side output reports the dropped buckets (8 bands × 1 bucket)
    val dropped = Dedup.minhashOversizeBuckets(docs, maxBucket = 50).collect()
    assert(dropped.length == 8)
    assert(dropped.forall(_.getAs[Long]("n_members") == 1000L))
    // the identical cluster is exact-dedup's job, and it still catches it
    val ex = Dedup.exact(docs).where(col("n_docs") === 1000).collect()
    assert(ex.length == 1)
  }

  test("overlap df cap: planted 1k-conv shared text is dropped and counted") {
    // 1,000 conversations all sharing one boilerplate turn text (would be
    // ~5·10⁵ join pairs uncapped), plus two conversations sharing a rare
    // text that must SURVIVE the cap
    val boiler = (0 until 1000).map(i => (s"c$i", "boilerplate error: upstream timeout"))
    val rare = Seq(("cA", "rare shared text"), ("cB", "rare shared text"))
    val turns = (boiler ++ rare).toDF("conv_id", "text")
    val ct = Overlap.convText(turns, maxDf = 64)
    val edges = Overlap.edges(ct).collect()
    assert(edges.length == 1, s"candidates not bounded: ${edges.length}")
    assert(edges.head.getString(0) == "cA" && edges.head.getString(1) == "cB")
    // counted side output reports the dropped text with its df
    val dropped = Overlap.droppedTexts(turns, maxDf = 64).collect()
    assert(dropped.length == 1 && dropped.head.getAs[Long]("df") == 1000L)
    // weighted edges honor the same cap
    val w = Overlap.weightedEdges(ct).collect()
    assert(w.length == 1 && w.head.getAs[Double]("weight") == 1.0)
  }
}
