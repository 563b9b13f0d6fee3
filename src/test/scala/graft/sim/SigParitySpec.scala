package graft.sim

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.text.{Dedup, TextAnalysis}

/** Each hash-free `…From` half must give the same rows over signature
  * (or inverted-list) tables round-tripped through parquet as over the
  * same tables in memory — the parquet round trip is exactly the shape
  * the driver queries and the [[graft.ops.OracleSig]] oracles read.
  * Test names call the in-memory side by its one-shot pipeline name
  * (`minhashRanked`, `lshTopK`, …): signature builder + `…From` half,
  * with nothing written in between.
  */
class SigParitySpec extends SparkSuite {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("sig_parity").toString

  private def roundTrip(df: DataFrame, name: String): DataFrame = {
    df.write.parquet(s"$tmp/$name")
    spark.read.parquet(s"$tmp/$name")
  }

  private def rows(df: DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("minhashRankedFrom over parquet-round-tripped tables == minhashRanked") {
    val sh = Dedup.shingleTable(docs)
    val bands = Dedup.minhashBands(sh)
    val got = Dedup.minhashRankedFrom(roundTrip(sh, "sh"),
                                      roundTrip(bands, "bands"))
    assert(rows(got) == rows(Dedup.minhashRankedFrom(sh, bands)))
  }

  test("simhashNearDupsFrom(simhash) == simhashNearDups") {
    val sigs = Dedup.simhash(docs)
    assert(rows(Dedup.simhashNearDupsFrom(roundTrip(sigs, "simhash"), maxHamming = 16)) ==
           rows(Dedup.simhashNearDupsFrom(sigs, maxHamming = 16)))
  }

  test("lshTopKFromSigs(lshSignatures) == lshTopK on the self-kNN workload") {
    val sigs = Knn.lshSignatures(emb)
    def top(s: DataFrame) =
      rows(Knn.lshTopKFromSigs(emb, s, 3, simDecimals = 6)
             .select("query_id", "nbr_id", "rank"))
    assert(top(roundTrip(sigs, "lsh_sigs")) == top(sigs))
  }

  test("embeddingNearDupsFromSigs == embeddingNearDups") {
    val sigs = Knn.lshSignatures(emb)
    assert(rows(Dedup.embeddingNearDupsFromSigs(emb, roundTrip(sigs, "emb_sigs"),
                                                threshold = -1.0)) ==
           rows(Dedup.embeddingNearDupsFromSigs(emb, sigs, threshold = -1.0)))
  }

  test("winnowFromGrams(gramHashes) == winnowedFingerprints") {
    val grams = TextAnalysis.gramHashes(docs)
    assert(rows(TextAnalysis.winnowFromGrams(docs, roundTrip(grams, "grams"))) ==
           rows(TextAnalysis.winnowFromGrams(docs, grams)))
  }

  test("ivfTopKWithLists(precomputed lists) == ivfTopKWith") {
    val cents = Ivf.trainCentroids(emb, nClusters = 8, iters = 1,
                                   sampleFactor = 10)
    val lists = Ivf.invertedLists(emb, cents)
    def top(c: DataFrame, l: DataFrame) =
      rows(Ivf.ivfTopKWithLists(emb, emb, c, l, 3, nprobe = 2, simDecimals = 6)
             .select("query_id", "nbr_id", "rank"))
    assert(top(roundTrip(cents, "cents"), roundTrip(lists, "lists")) ==
           top(cents, lists))
  }
}
