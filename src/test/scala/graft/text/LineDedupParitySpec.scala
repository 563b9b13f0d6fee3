package graft.text

import org.apache.spark.sql.Row

import graft.SparkSuite

/** [[Dedup.lineDedup]]'s windowed first occurrence gives the rows of the
  * digest group-by joined back onto the lines ([[JoinBack.lineDedup]]):
  * lines repeated within and across docs, empty lines, and a custom
  * delimiter.
  */
class LineDedupParitySpec extends SparkSuite {
  import spark.implicits._

  private val pool = Seq("hdr", "body a", "body b", "", "footer z", "x||y")

  test("lineDedup == group-by joined back, newline and custom delimiters") {
    val rnd = new scala.util.Random(13)
    for (delim <- Seq("\n", "||"); trial <- 1 to 2) {
      val docs = ((-3 until 25).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(6))(pool(rnd.nextInt(pool.size))).mkString(delim))
      } :+ ((99L, null: String))).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
        df.collect().toSeq.sortBy(_.getLong(0))
      val got = Dedup.lineDedup(docs, delim = delim)
      val want = JoinBack.lineDedup(docs, delim = delim)
      assert(got.schema == want.schema)
      val g = rows(got)
      assert(g.exists(r => r.getInt(2) < r.getInt(1)), s"$delim $trial: no repeat")
      assert(g == rows(want), s"delim=$delim trial $trial")
    }
  }
}
