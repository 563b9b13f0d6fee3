package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VecFunctions.vec_dot

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path of the similarity-search family next to [[Knn.lshTopKFromSigs]]:
  * a spherical-k-means coarse quantizer partitions the corpus into
  * `nClusters` inverted lists; queries probe the `nprobe` nearest
  * centroids and rerank exactly within those lists only.
  *
  * Scale shape: training runs on a DETERMINISTIC HASH-ORDERED SAMPLE
  * (`sampleFactor` × nClusters vectors — standard IVF practice; the
  * sample is what Lloyd's per-dimension means shuffle, never the corpus),
  * and the trained index is a reusable artifact: production callers
  * train once per corpus via [[trainCentroids]] + [[invertedLists]] and
  * run any number of query batches through [[ivfTopKWithLists]]. The
  * search itself is one broadcast of the nClusters-row centroid table
  * plus equi-joins on (cluster_id) and (query_id) — no hint forces the
  * query side into a broadcast, so corpus-as-queries workloads (self-kNN
  * graphs) cannot blow the driver; AQE still broadcasts genuinely small
  * query batches at runtime. Everything is deterministic: hash-ordered
  * init, fixed Lloyd iteration count, no RNG.
  */
object Ivf {

  private def cos(a: Column, b: Column): Column =
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))

  /** Train `nClusters` spherical-k-means centroids (cosine assignment,
    * per-dimension mean update, `iters` Lloyd rounds) on a deterministic
    * sample: the `sampleFactor × nClusters` corpus vectors with the
    * smallest xxhash64(id) — one TakeOrdered pass over the corpus, after
    * which every Lloyd round shuffles sample×dims rows instead of
    * corpus×dims (at 768-dim/100-TB scale the full-corpus variant is a
    * bigger job than the search it accelerates). Clusters that lose all
    * members in a round keep their previous centroid (a silently
    * shrinking centroid table would degrade nprobe recall with no
    * signal). Returns (cluster_id, centroid: array<float>).
    */
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
    // init = the nClusters hash-smallest sample rows; ids are assigned on
    // the driver — an nClusters-row dimension table, so collecting it is
    // O(clusters), and it avoids the single-partition global window a
    // row_number() ranking would plan (warning noise + a needless funnel)
    val initRows = vecs.orderBy(xxhash64(col("id")), col("id"))
      .limit(nClusters).select(col("v")).collect()
    var centroids = initRows.toSeq.zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Float](0)) }
      .toDF("cluster_id", "centroid")
      .localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val assigned = assign(vecs, centroids)
      val updated = assigned
        .join(vecs, Seq("id"))
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster_id", "dim")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cluster_id")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m").cast("float")).as("next"))
      // empty-cluster carry-forward: left join against the previous round
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

  /** Hard assignment: nearest centroid by cosine (broadcast centroids,
    * max_by over the small cluster dimension). Returns (id, cluster_id).
    */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("cluster_id"),
              cos(col("v"), col("centroid")).as("sim"))
      .groupBy("id")
      .agg(expr("max_by(cluster_id, struct(sim, -cluster_id))").as("cluster_id"))

  /** The inverted lists — the second half of the reusable index:
    * (nbr_id, cluster_id) assignment of the FULL corpus against trained
    * centroids. Production deployments materialize this once per corpus
    * snapshot (it is a parquet-writeable table bucketable by cluster_id)
    * and pass it to [[ivfTopKWithLists]].
    */
  def invertedLists(corpus: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    assign(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), centroids)
      .withColumnRenamed("id", "nbr_id")

  /** Per-query probe set: the (query_id, cluster_id) pairs the search
    * will rerank exactly — base `nprobe` nearest centroids plus, when
    * `nprobeMax` > `nprobe`, every centroid within `escalateMargin`
    * cosine of the query's best centroid (capped at `nprobeMax`). Input
    * `qv` carries (query_id, v). Exposed so callers/evidence tools can
    * measure the probed-candidate volume — the scale-honest cost metric.
    *
    * Exact-fallback tier (`fallbackMargin` ≥ 0): a query whose margin
    * band OVERFLOWS the `nprobeMax` cap — its (nprobeMax+1)-th nearest
    * centroid is still within `fallbackMargin` of its best — is so
    * boundary-ambiguous that capped probing has no recall story left;
    * such queries probe EVERY cluster (exact search for that query
    * only). On a clustered corpus the band never overflows and the
    * fallback costs nothing; on an adversarially uniform corpus it
    * bounds the recall loss at the price of brute for the overflow
    * fraction — which [[fallbackQueries]] exposes as a counted side
    * output (the no-silent-caps rule).
    */
  def probeAssignments(qv: DataFrame, centroids: DataFrame, nprobe: Int,
                       nprobeMax: Int = -1,
                       escalateMargin: Double = 0.05,
                       fallbackMargin: Double = -1.0): DataFrame = {
    val npMax = math.max(nprobe, nprobeMax)
    val exploded = probeTops(qv, centroids, npMax, fallbackMargin)
    val normal = exploded
      .where(col("pos") < nprobe ||
             (col("pos") < npMax &&
              col("e.col1") - col("best_neg") <= escalateMargin))
      .select(col("query_id"), col("e.cluster_id").as("cluster_id"))
    if (fallbackMargin < 0) normal
    else {
      val fb = fallbackFrom(exploded, npMax, fallbackMargin)
      normal.join(fb, Seq("query_id"), "left_anti")
        .unionByName(fb.crossJoin(broadcast(centroids.select(col("cluster_id")))))
    }
  }

  /** Shared top-centroid explode: one extra element beyond the cap is
    * collected iff the fallback tier is on (the overflow probe).
    * `pos` is 0-based; `best_neg`/`e.col1` carry −csim, so
    * (e.col1 − best_neg) is the similarity margin to the query's best.
    */
  private def probeTops(qv: DataFrame, centroids: DataFrame, npMax: Int,
                        fallbackMargin: Double): DataFrame = {
    val take = if (fallbackMargin >= 0) npMax + 1 else npMax
    qv.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("cluster_id"),
              cos(col("v"), col("centroid")).as("csim"))
      .groupBy("query_id")
      .agg(expr(
        s"slice(array_sort(collect_list(struct(-csim, cluster_id))), 1, $take)")
        .as("top"))
      .select(col("query_id"), col("top")(0).getField("col1").as("best_neg"),
              posexplode(col("top")).as(Seq("pos", "e")))
  }

  private def fallbackFrom(exploded: DataFrame, npMax: Int,
                           fallbackMargin: Double): DataFrame =
    exploded
      .where(col("pos") === npMax &&
             col("e.col1") - col("best_neg") <= fallbackMargin)
      .select(col("query_id"))

  /** Counted side output of the exact-fallback tier: the queries whose
    * escalated probe band overflowed `nprobeMax` within `fallbackMargin`
    * and therefore fell back to exact search ([[probeAssignments]]).
    */
  def fallbackQueries(qv: DataFrame, centroids: DataFrame, nprobe: Int,
                      nprobeMax: Int = -1,
                      escalateMargin: Double = 0.05,
                      fallbackMargin: Double = 0.05): DataFrame = {
    val npMax = math.max(nprobe, nprobeMax)
    fallbackFrom(probeTops(qv, centroids, npMax, fallbackMargin),
                 npMax, fallbackMargin)
  }

  /** IVF approximate top-k in the train-once/search-many deployment
    * shape: both index halves — the centroid table from
    * [[trainCentroids]] AND the corpus assignment from [[invertedLists]]
    * (materialized once per corpus snapshot, bucketable by cluster_id) —
    * are passed in, so a query batch pays only probe selection + exact
    * cosine rerank within the `nprobe` nearest inverted lists
    * ([[rerankTopK]]), never a corpus re-assignment.
    *
    * Recall adaptivity (`nprobeMax` > `nprobe`): beyond the base probes,
    * a query ALSO probes every centroid whose similarity is within
    * `escalateMargin` of its best centroid, capped at `nprobeMax`. A
    * query deep inside one cluster sees a wide margin to the runner-up
    * centroids and stays at `nprobe` probes; a boundary query — the case
    * where fixed-nprobe IVF loses neighbors, and on a near-uniform
    * corpus (IVF's structural worst case) MOST queries — escalates. The
    * decision is per-query, rides the existing centroid cross-join, and
    * costs nothing when the corpus is genuinely clustered.
    */
  def ivfTopKWithLists(corpus: DataFrame, queries: DataFrame,
                       centroids: DataFrame, lists: DataFrame, k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       nprobe: Int = 4, simDecimals: Int = -1,
                       nprobeMax: Int = -1,
                       escalateMargin: Double = 0.05,
                       fallbackMargin: Double = -1.0): DataFrame =
    rerankTopK(corpus, queries,
               candidatePairs(queries, centroids, lists, idCol, vecCol,
                              nprobe, nprobeMax, escalateMargin,
                              fallbackMargin),
               k, idCol, vecCol, simDecimals)

  /** The probed candidate set (query_id, nbr_id): each query's escalated
    * probe clusters joined against the inverted lists, self-pairs
    * excluded. Pairs are unique by construction (each nbr sits in exactly
    * one list; probes are distinct per query). This is the post-training
    * materialization point ([[graft.ops.OracleSig]]): downstream
    * ([[rerankTopK]]) is exact cosine + top-k, SQL-oracle-checkable over
    * the written pairs plus the embeddings table — and the table's size
    * IS the candidate-volume cost metric IvfTune reports.
    */
  def candidatePairs(queries: DataFrame, centroids: DataFrame,
                     lists: DataFrame,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nprobe: Int = 4, nprobeMax: Int = -1,
                     escalateMargin: Double = 0.05,
                     fallbackMargin: Double = -1.0): DataFrame = {
    val probes = probeAssignments(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("v")),
      centroids, nprobe, nprobeMax, escalateMargin, fallbackMargin)
    // no broadcast hints on probes: with corpus-as-queries both sides are
    // corpus-sized (a forced broadcast would hit the 8 GB limit / driver
    // OOM long before corpus scale); AQE broadcasts small query batches
    // at runtime on its own
    lists.join(probes, Seq("cluster_id"))
      .where(col("query_id") =!= col("nbr_id"))
      .select("query_id", "nbr_id")
  }

  /** Exact cosine + map-side-combinable top-k ([[graft.functions.TopKByScoreAgg]])
    * over candidate (query_id, nbr_id) pairs — the IVF search tail.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, cands: DataFrame,
                 k: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 simDecimals: Int = -1): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(vec_dot(col("q_vec"), col("q_vec"))))
    val cv = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
      .withColumn("nbr_norm", sqrt(vec_dot(col("nbr_vec"), col("nbr_vec"))))
    val sim = (vec_dot(col("q_vec"), col("nbr_vec")) /
      (col("q_norm") * col("nbr_norm"))).as("sim")
    val rankKey =
      if (simDecimals >= 0) round(col("sim"), simDecimals) else col("sim")
    val scored = cv.join(cands, Seq("nbr_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("nbr_id"), sim)
      .select(col("query_id"), col("nbr_id"), rankKey.as("key"), col("sim"))
    graft.sim.Knn.topKExplode(scored, k)
  }
}
