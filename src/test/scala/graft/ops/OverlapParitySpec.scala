package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSuite

/** [[Overlap.edges]]/[[Overlap.weightedEdges]] give the rows of the text
  * self-join they replace ([[SelfJoinOverlap]]): over [[Overlap.convText]]
  * with a df cap that bites, and over a raw table with duplicate rows,
  * null texts and null conversations.
  */
class OverlapParitySpec extends SparkSuite {
  import spark.implicits._

  private def turns(rnd: scala.util.Random): DataFrame =
    Seq.fill(60) {
      val conv = if (rnd.nextInt(12) == 0) null else s"c${rnd.nextInt(10)}"
      val text = if (rnd.nextInt(10) == 0) null else s"t${rnd.nextInt(8)}"
      (conv, text)
    }.toDF("conv_id", "text")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def same(ct: DataFrame, what: String): Unit = {
    val e = rows(Overlap.edges(ct))
    assert(e.nonEmpty)
    assert(e == rows(SelfJoinOverlap.edges(ct)), s"$what: edges")
    assert(rows(Overlap.weightedEdges(ct)) == rows(SelfJoinOverlap.weightedEdges(ct)),
           s"$what: weighted")
  }

  test("overlap edges == the text self-join: df-capped table, duplicate rows, nulls") {
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 3) {
      val t = turns(rnd)
      val capped = Overlap.convText(t, maxDf = 4)
      assert(Overlap.droppedTexts(t, maxDf = 4).count() > 0, s"trial $trial: cap idle")
      same(capped, s"trial $trial capped")
      same(t, s"trial $trial raw")
    }
  }
}
