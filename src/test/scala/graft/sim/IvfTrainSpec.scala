package graft.sim

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** [[Ivf.trainCentroids]] runs its Lloyd rounds on the driver; these
  * cases hold it to the Spark formulation kept in [[SparkLloyd]].
  */
class IvfTrainSpec extends SparkSuite {
  import spark.implicits._

  private def centroids(df: DataFrame): Seq[(Int, Seq[Float])] =
    df.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq

  /** Bit-level equality, so NaN components compare equal. */
  private def bits(cs: Seq[(Int, Seq[Float])]) =
    cs.map { case (k, c) => (k, c.map(java.lang.Float.floatToIntBits)) }

  test("trainCentroids == the Spark Lloyd reference on the sf0.01 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val got = Ivf.trainCentroids(emb)
    val want = SparkLloyd.trainCentroids(emb)
    assert(got.schema == want.schema)
    assert(centroids(got).length == 16)
    assert(bits(centroids(got)) == bits(centroids(want)))
  }

  test("trainCentroids == the reference with tied centroids, emptied clusters and a NaN") {
    // 3 distinct vectors under 4 ids each and one with a NaN component;
    // the sample is the whole corpus, so at least 5 of the 6 initial
    // centroids come from 3 vectors: tied centroids (the lowest cluster_id
    // wins, the others keep their previous centroid), and the NaN, once it
    // reaches a centroid, ranks above every similarity
    val distinct = Seq(Seq(5f, 0.1f, 0f, 0.3f), Seq(0f, 4f, 0.2f, 0f), Seq(0.5f, 0f, 0f, 3f))
    val vecs = ((0 until 12).map(i => (i.toLong, distinct(i % 3))) :+
                (100L, Seq(1f, Float.NaN, 0f, 1f))).toDF("vec_id", "embedding")
    for (iters <- Seq(1, 3)) {
      val got = Ivf.trainCentroids(vecs, nClusters = 6, iters = iters, sampleFactor = 5)
      val want = SparkLloyd.trainCentroids(vecs, nClusters = 6, iters = iters,
                                           sampleFactor = 5)
      assert(bits(centroids(got)) == bits(centroids(want)), s"iters=$iters")
    }
  }

  test("a (0, 0) vector: assign gives no error and agrees with trainCentroids") {
    // the zero vector's cosine has a zero divisor: null for assign (below
    // every number), -inf for the driver rounds; both put it in the lowest
    // cluster_id, in every Lloyd round and in the final assignment
    val vecs = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
                   (3L, Seq(0f, 1f)), (4L, Seq(0.1f, 0.9f)), (5L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    for (iters <- Seq(1, 3)) {
      val got = Ivf.trainCentroids(vecs, nClusters = 2, iters = iters, sampleFactor = 3)
      val want = SparkLloyd.trainCentroids(vecs, nClusters = 2, iters = iters,
                                           sampleFactor = 3)
      assert(bits(centroids(got)) == bits(centroids(want)), s"iters=$iters")
      val assigned = Ivf.assign(vecs.select($"vec_id".as("id"), $"embedding".as("v")), got)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(assigned(0L) == 1 && assigned(5L) == 1, s"iters=$iters: $assigned")
      assert(assigned.size == 6)
    }
    assert(vecs.select(Knn.cosine($"embedding", $"embedding")).collect()
      .map(r => Option(r.get(0))).count(_.isEmpty) == 2)
  }
}
