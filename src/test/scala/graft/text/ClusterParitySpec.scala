package graft.text

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSuite

/** The near-dup keeper pass on the driver ([[Dedup.membersOnDriver]]),
  * its Spark path above the bound ([[Dedup.clusterMembersLoop]],
  * [[CorpusFilter.loopDrops]]) and the join-back reference ([[JoinBack]])
  * agree on random corpora: pair chains, ties in `n_bytes`, pairs that
  * touch lang/quality/exact-stage casualties or ids absent from the docs,
  * and negative ids, whose `%012d` label order is not the numeric one.
  */
class ClusterParitySpec extends SparkSuite {
  import spark.implicits._

  // equal byte lengths within each pair of sentences (a fixed-width
  // suffix keeps docs distinct); the last two fail the lang and quality
  // gates, and every 7th doc is a case/whitespace copy of the one before
  private val texts = Seq(
    "the cat is on the mat today", "the cat is on the hat today",
    "the dog is in the house right now it seems",
    "the dog is in the mouse right now it seems",
    "a fox and the hen of the farm ran off",
    "xyzzy qwfp zxcv plm nbv", "the of")

  private def corpus(rnd: scala.util.Random): (DataFrame, DataFrame) = {
    val ids = rnd.shuffle((-15 to 45).map(_.toLong)).take(40).sorted
    val own = ids.indices.map(k => texts(rnd.nextInt(texts.size)) + f" w$k%03d")
    val docs = ids.indices.map { k =>
      (ids(k), if (k % 7 == 3) own(k - 1).toUpperCase.replace(" ", "  ") else own(k))
    }.toDF("doc_id", "text")
    // chains over random runs of ids, a few pairs in reverse order, and
    // a few ends that are not docs at all
    val chains = Seq.fill(8) {
      val start = rnd.nextInt(ids.size - 4)
      ids.slice(start, start + 2 + rnd.nextInt(3)).sliding(2).map(p => (p(0), p(1))).toSeq
    }.flatten
    val odd = Seq.fill(4)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
      .filter(p => p._1 != p._2).map(_.swap)
    val missing = Seq((ids.head, 1000L), (1000L, 1001L), (-1000L, ids.last))
    (docs, (chains ++ odd ++ missing).distinct.toDF("id_a", "id_b"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("clusterMembers: driver pass == Spark path == join-back reference") {
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 3) {
      val (docs, pairs) = corpus(rnd)
      val sized = Dedup.sizedPairs(pairs,
        docs.selectExpr("doc_id", "octet_length(text) AS n_bytes"), "doc_id", "left")
      val driver = Dedup.clusterMembers(pairs, docs)
      val want = rows(JoinBack.clusterMembers(pairs, docs))
      assert(want.nonEmpty && want.exists(_.getLong(0) < 0))
      assert(rows(driver) == want, s"trial $trial: driver")
      assert(rows(Dedup.clusterMembersLoop(sized, "doc_id")) == want, s"trial $trial: loop")
      assert(driver.schema == JoinBack.clusterMembers(pairs, docs).schema)
    }
  }

  test("funnel == join-back reference; driver drops == Spark-path drops") {
    val rnd = new scala.util.Random(4)
    var nearDrops = 0L
    for (trial <- 1 to 3) {
      val (docs, pairs) = corpus(rnd)
      val got = CorpusFilter.funnel(docs, pairs)
      val want = JoinBack.funnel(docs, pairs)
      assert(got.schema == want.schema)
      val g = rows(got)
      assert(g == rows(want), s"trial $trial")
      nearDrops += g(3).getLong(2) - g(4).getLong(2)
      val sizes = docs.selectExpr("doc_id", "octet_length(text) AS n_bytes")
        .join(docs.selectExpr("doc_id").where("doc_id % 2 = 0"), "doc_id")
      val sized = Dedup.sizedPairs(pairs, sizes, "doc_id", "inner")
      val drops = Dedup.membersOnDriver(sized).get.filterNot(_.keeper)
      assert(CorpusFilter.loopDrops(sized, "doc_id") ==
             ((drops.length.toLong, drops.map(_.nBytes.toLong).sum)), s"trial $trial: drops")
    }
    assert(nearDrops > 0, "no near-dup stage drop in any trial")
  }
}
