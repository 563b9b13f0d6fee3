package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reference implementation of [[Ivf.trainCentroids]]: the same sample,
  * init and Lloyd rounds as Spark jobs — [[Ivf.assign]], a per-(cluster,
  * dim) `avg` cast to float, and an empty cluster carried forward by a
  * left join. The engine runs the rounds on the driver; IvfTrainSpec
  * compares the two.
  */
object SparkLloyd {

  def trainCentroids(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     nClusters: Int = 16, iters: Int = 3,
                     sampleFactor: Int = 100): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nClusters * sampleFactor)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val initRows = vecs.orderBy(xxhash64(col("id")), col("id"))
      .limit(nClusters).select(col("v")).collect()
    var centroids = initRows.toSeq.zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Float](0)) }
      .toDF("cluster_id", "centroid")
      .localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val assigned = Ivf.assign(vecs, centroids)
      val updated = assigned
        .join(vecs, Seq("id"))
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster_id", "dim")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cluster_id")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m").cast("float")).as("next"))
      val merged = centroids
        .select(col("cluster_id"), col("centroid").as("prev"))
        .join(updated, Seq("cluster_id"), "left")
        .select(col("cluster_id"),
                coalesce(col("next"), col("prev")).as("centroid"))
      centroids = merged.localCheckpoint(true)
      i += 1
    }
    vecs.unpersist(blocking = false)
    centroids
  }
}
