package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations of [[CorpusFilter.funnel]],
  * [[Dedup.clusterMembers]] and [[Dedup.lineDedup]] that join a keyed
  * result back onto the relation it came from: the funnel joins its
  * near-dup drop list back onto the flagged docs, cluster members join
  * `octet_length(docs)` onto the component labels, and line dedup joins a
  * digest group-by back onto the lines. The cluster members run the
  * Spark components loop. The engine computes each answer inside the
  * shuffle it already pays; the parity specs compare the two.
  */
object JoinBack {

  def clusterMembers(pairs: DataFrame, docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    def pad(c: Column) = format_string("%012d", c)
    val edges = pairs.select(pad(col("id_a")).as("src"),
                             pad(col("id_b")).as("dst"))
    val members = graft.graph.Graph.connectedComponentsLoop(edges, None)
      .select(col("label").cast("long").as("cluster_id"),
              col("node").cast("long").as(idCol))
    val keeperOrder = Window.partitionBy("cluster_id")
      .orderBy(col("n_bytes").desc, col(idCol).asc)
    members.join(
        docs.select(col(idCol), octet_length(col(textCol)).as("n_bytes")),
        idCol)
      .withColumn("is_keeper", row_number().over(keeperOrder) === 1)
  }

  def funnel(docs: DataFrame, nearDupPairs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val t = col(textCol)
    val fpW = Window.partitionBy("fp")
    val flagged = docs
      .select(col(idCol), octet_length(t).as("n_bytes"),
              (TextAnalysis.langPrediction(t) === "en").as("ok_lang"),
              CorpusFilter.isQuality(t).as("ok_quality"),
              TextAnalysis.fingerprint(t).as("fp"))
      .withColumn("ok_exact",
        col(idCol) === min(when(col("ok_lang") && col("ok_quality"),
                                col(idCol))).over(fpW))
      .localCheckpoint(true)
    val sur3 = flagged
      .where(col("ok_lang") && col("ok_quality") && col("ok_exact"))
      .select(col(idCol))
    val restricted = nearDupPairs
      .join(sur3.withColumnRenamed(idCol, "id_a"), "id_a")
      .join(sur3.withColumnRenamed(idCol, "id_b"), "id_b")
      .select("id_a", "id_b")
    val drops = clusterMembers(restricted, docs, idCol, textCol)
      .where(!col("is_keeper"))
      .select(col(idCol), lit(true).as("nd_drop"))
    val f = flagged.join(broadcast(drops), Seq(idCol), "left")
    val s1 = col("ok_lang")
    val s2 = s1 && col("ok_quality")
    val s3 = s2 && col("ok_exact")
    val s4 = s3 && col("nd_drop").isNull
    def n(c: Column) = count(when(c, 1))
    def b(c: Column) = sum(when(c, col("n_bytes")))
    f.agg(count(lit(1)).as("n0"), sum("n_bytes").as("b0"),
          n(s1).as("n1"), b(s1).as("b1"),
          n(s2).as("n2"), b(s2).as("b2"),
          n(s3).as("n3"), b(s3).as("b3"),
          n(s4).as("n4"), b(s4).as("b4"))
      .select(expr("""stack(5,
          0, 'total',       n0, CAST(b0 AS BIGINT),
          1, 'lang',        n1, CAST(b1 AS BIGINT),
          2, 'quality',     n2, CAST(b2 AS BIGINT),
          3, 'exact_dedup', n3, CAST(b3 AS BIGINT),
          4, 'near_dedup',  n4, CAST(b4 AS BIGINT))
        AS (stage_idx, stage, n_docs, n_bytes)"""))
  }

  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", delim: String = "\n")
      : DataFrame = {
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("line_idx", "line")))
      .withColumn("lk", md5(col("line")))
    val first = lines.groupBy("lk")
      .agg(min(struct(col(idCol), col("line_idx"))).as("first_occ"))
    lines.join(first, "lk")
      .withColumn("keep",
        struct(col(idCol), col("line_idx")) === col("first_occ"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("int").as("kept_lines"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(
                struct(col("line_idx"), col("keep"), col("line")))),
              x => x.getField("keep")),
            x => x.getField("line")),
          delim).as(textCol))
  }
}
