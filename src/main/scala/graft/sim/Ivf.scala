package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.functions.VecFunctions.vec_dot

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path of the similarity-search family next to [[Knn.lshTopKFromSigs]]:
  * a spherical-k-means coarse quantizer partitions the corpus into
  * `nClusters` inverted lists; queries probe the `nprobe` nearest
  * centroids and rerank exactly within those lists only.
  *
  * Scale shape: training runs on a DETERMINISTIC HASH-ORDERED SAMPLE
  * (`sampleFactor` × nClusters vectors — standard IVF practice; the
  * sample is collected once and Lloyd's rounds run on the driver, never
  * over the corpus, so the sample must fit the driver),
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

  private def cos(a: Column, b: Column): Column = Knn.cosine(a, b)

  /** Train `nClusters` spherical-k-means centroids (cosine assignment,
    * per-dimension mean update, `iters` Lloyd rounds) on a deterministic
    * sample: the `sampleFactor × nClusters` corpus vectors with the
    * smallest xxhash64(id) — one TakeOrdered pass over the corpus, whose
    * bounded result is collected once; the Lloyd rounds then run on one
    * driver thread. Training is therefore driver-bound: memory in
    * `nClusters × sampleFactor × dims` (and the collect by
    * `spark.driver.maxResultSize`), time in that times `nClusters × iters`;
    * only the sample's TakeOrdered scales with the corpus. The rounds
    * match [[assign]] (its cosine; NaN above every number;
    * ties to the lowest cluster_id; a zero-norm divisor, where
    * [[Knn.cosineOf]] gives null, ranks below every number) and a
    * double `avg` per dimension cast to float. Clusters that lose all
    * members in a round keep their previous centroid (a silently
    * shrinking centroid table would degrade nprobe recall with no
    * signal). Returns (cluster_id, centroid: array<float>).
    */
  def trainCentroids(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     nClusters: Int = 16, iters: Int = 3,
                     sampleFactor: Int = 100): DataFrame = {
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nClusters * sampleFactor)
      .select(col("v")).collect().map(_.getSeq[Float](0).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double = { // FloatVecDot's order
      var s = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norms = sample.map(v => math.sqrt(dot(v, v)))
    // init = the nClusters hash-smallest sample rows, cluster ids from 1
    var cents = sample.take(nClusters)
    for (_ <- 0 until iters) {
      val cNorms = cents.map(c => math.sqrt(dot(c, c)))
      def sim(j: Int, k: Int): Double = {
        val den = norms(j) * cNorms(k)
        if (den == 0.0) Double.NegativeInfinity else dot(sample(j), cents(k)) / den
      }
      val members = sample.indices.groupBy { j =>
        val sims = cents.indices.map(sim(j, _))
        sims.indices.reduceLeft((best, k) =>
          if (SQLOrderingUtil.compareDoubles(sims(k), sims(best)) > 0) k else best)
      }
      cents = cents.indices.map { k =>
        members.get(k).fold(cents(k)) { js =>
          val vs = js.map(sample)
          Array.tabulate(vs.map(_.length).max) { d =>
            val xs = vs.collect { case v if d < v.length => v(d).toDouble }
            (xs.sum / xs.length).toFloat
          }
        }
      }.toArray
    }
    corpus.sparkSession.createDataFrame(
      cents.toSeq.zipWithIndex.map { case (c, i) => Row(i + 1, c.toSeq) }.asJava,
      StructType(Seq(StructField("cluster_id", IntegerType, nullable = false),
                     StructField("centroid", ArrayType(FloatType)))))
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
    val sim = Knn.cosineOf(vec_dot(col("q_vec"), col("nbr_vec")),
                           col("q_norm"), col("nbr_norm")).as("sim")
    val rankKey =
      if (simDecimals >= 0) round(col("sim"), simDecimals) else col("sim")
    val scored = cv.join(cands, Seq("nbr_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("nbr_id"), sim)
      .select(col("query_id"), col("nbr_id"), rankKey.as("key"), col("sim"))
    graft.sim.Knn.topKExplode(scored, k)
  }
}
