package graft.stream

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sim.Knn

/** Incremental IVF index maintenance for a GROWING vector corpus — the
  * ANN analog of [[IncrementalNearDup]]: centroids are trained ONCE on
  * the base snapshot ([[graft.sim.Ivf.trainCentroids]], materialized as
  * an index artifact) and each micro-batch of new vectors is
  * hard-assigned to its nearest centroid and published as an
  * inverted-list DELTA under `listsRoot/batch=<id>` (overwrite per
  * batch directory — a foreachBatch replay after a crash rewrites the
  * same content, exactly-once on the list relation, the
  * [[IncrementalNearDup]] philosophy). The corpus is never re-assigned;
  * per-batch work is O(batch × nClusters) against BROADCAST centroids —
  * no shuffle of the corpus, no state store (the assignment is
  * stateless given the frozen centroids, so the "state" IS the
  * published index artifact).
  *
  * The assignment argmax ranks on `round(cos, 6)` with a
  * lowest-cluster-id tie-break rather than the raw double:
  * a reproducible index artifact (identical across engines, replays,
  * and accumulation orders) is worth six decimals of assignment
  * resolution — an index you cannot rebuild identically is an
  * operational liability, and the driver oracle recomputes this argmax
  * bit-for-bit in DuckDB.
  *
  * Search over the maintained index: base lists ∪ [[deltas]] fed to
  * [[graft.sim.Ivf.ivfTopKWithLists]] — train once, append forever,
  * search many. Centroid drift under sustained growth is handled by
  * retraining a new snapshot and re-materializing (the standard IVF
  * operational cycle), not by mutating lists in place.
  */
object IncrementalIvf {

  /** Start the maintenance pipeline over a streaming (vec_id, embedding)
    * relation against frozen base-snapshot `centroids`.
    */
  def start(newVecs: DataFrame, centroids: DataFrame, listsRoot: String,
            ckptPath: String): StreamingQuery =
    newVecs.writeStream
      .option("checkpointLocation", ckptPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        processBatch(batch.toDF(), id, centroids, listsRoot)
      }
      .start()

  /** One micro-batch: deterministic assignment + exactly-once delta
    * publication. Public so batch callers (and the spec) can drive it.
    */
  def processBatch(batch: DataFrame, batchId: Long, centroids: DataFrame,
                   listsRoot: String): Unit = {
    val assigned = assignRounded(batch.dropDuplicates("vec_id"), centroids)
      .localCheckpoint(true)
    assigned.write.mode(SaveMode.Overwrite)
      .parquet(s"$listsRoot/batch=$batchId")
  }

  /** Deterministic hard assignment of (vec_id, embedding) rows:
    * (id, cluster_id, sim6) — nearest centroid by round-6 cosine, ties
    * to the LOWEST cluster id. Centroids broadcast (a dimension table);
    * the per-vector argmax is a map-side-combinable max_by.
    */
  def assignRounded(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("id"), col("embedding").as("v"))
      .crossJoin(broadcast(centroids))
      .select(col("id"), col("cluster_id"),
              round(Knn.cosine(col("v"), col("centroid")), 6).as("sim6"))
      .groupBy("id")
      .agg(expr("max_by(cluster_id, struct(sim6, -cluster_id))")
             .as("cluster_id"),
           max("sim6").as("sim6"))

  /** The accumulated inverted-list deltas across every processed batch:
    * (id, cluster_id, sim6). Union with the base snapshot's lists for
    * [[graft.sim.Ivf.ivfTopKWithLists]] search.
    */
  def deltas(spark: SparkSession, listsRoot: String): DataFrame =
    spark.read.parquet(listsRoot).drop("batch")
}
