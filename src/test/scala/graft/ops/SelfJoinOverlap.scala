package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference formulation of [[Overlap.edges]]/[[Overlap.weightedEdges]]:
  * the text self-join `a.text = b.text AND a.conv_id < b.conv_id`. The
  * engine expands each text's conversation list inside one group-by;
  * OverlapParitySpec compares the two.
  */
object SelfJoinOverlap {

  private def joined(ct: DataFrame): DataFrame =
    ct.as("a").join(ct.as("b"),
      col("a.text") === col("b.text") && col("a.conv_id") < col("b.conv_id"))

  def edges(ct: DataFrame): DataFrame =
    joined(ct).select(col("a.conv_id").as("src"), col("b.conv_id").as("dst"))
      .distinct()

  def weightedEdges(ct: DataFrame): DataFrame =
    joined(ct).groupBy(col("a.conv_id").as("src"), col("b.conv_id").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
}
