package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Conversation-overlap graph: conversations become adjacent when they
  * share an exact turn text (the transcript analog of the reference's
  * sequence inverted index, analysis.py:96-107, generalized to a
  * conv×conv graph).
  *
  * Scale guard: edge building is quadratic PER TEXT — a text shared
  * by m conversations emits m(m−1)/2 pairs, so one boilerplate string
  * (a common error message) shared by 10⁶ conversations would alone
  * produce ~5·10¹¹ pairs. [[convText]] therefore df-caps the text
  * table: texts shared by more than `maxDf` conversations are dropped
  * from edge building (the same bucket-cap guard as the LSH family,
  * [[graft.text.Dedup]]) and reported by the counted [[droppedTexts]]
  * side output — the reference's blowup-warning philosophy
  * (builders.py:379-380). The window count rides the hash-partition-by-
  * text shuffle that edge building then reuses: each text's capped
  * conversation list expands to its pairs in place ([[edges]]), so the
  * only other shuffle is the pair dedup or weight count.
  */
object Overlap {

  /** Default document-frequency cap: 64 conversations per text bounds any
    * single text's contribution to ≤ 2016 pairs; a text more common than
    * that is boilerplate, not a similarity signal.
    */
  val DefaultMaxDf: Int = 64

  /** Distinct (conv_id, text) pairs whose text is shared by at most
    * `maxDf` conversations — the df-capped base of the overlap join.
    */
  def convText(turns: DataFrame, maxDf: Int = DefaultMaxDf): DataFrame =
    turns.select("conv_id", "text").distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("text")))
      .where(col("df") <= maxDf).drop("df")

  /** Counted side output: texts dropped by the df cap, with their
    * conversation counts.
    */
  def droppedTexts(turns: DataFrame, maxDf: Int = DefaultMaxDf): DataFrame =
    turns.select("conv_id", "text").distinct()
      .groupBy("text").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)

  /** Overlap edges (src < dst, distinct) over a df-capped conv-text
    * table.
    */
  def edges(ct: DataFrame): DataFrame = pairsByText(ct).distinct()

  /** Overlap edges weighted by the number of shared texts. */
  def weightedEdges(ct: DataFrame): DataFrame =
    pairsByText(ct).groupBy("src", "dst")
      .agg(count(lit(1)).cast("double").as("weight"))

  /** One (src, dst) row per pair of `ct` rows sharing a text with
    * src < dst — the rows of the text self-join `a.text = b.text AND
    * a.conv_id < b.conv_id`, duplicates included. Each text's sorted
    * conversation list expands to its pairs inside one group-by on text,
    * which needs no shuffle over [[convText]]'s output (already
    * hash-partitioned by text for the df window); null texts are dropped
    * first and null conversations never pair, as in the equi-join.
    */
  private def pairsByText(ct: DataFrame): DataFrame =
    ct.where(col("text").isNotNull)
      .groupBy("text").agg(array_sort(collect_list("conv_id")).as("cs"))
      .select(col("cs"), posexplode(col("cs")).as(Seq("i", "src")))
      .select(col("src"), explode(slice(col("cs"), col("i") + 2, size(col("cs")))).as("dst"))
      .where(col("src") < col("dst"))
}
