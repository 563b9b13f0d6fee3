package graft

import org.apache.spark.JobCount

import graft.graph.Graph
import graft.sim.Ivf

/** Upper bounds on the Spark jobs of the iterative kernels at sizes their
  * driver paths take. A Spark loop pays about four jobs per round (1217
  * for BFS along a 300-node chain), so a bound fails as soon as per-round
  * jobs come back.
  */
class JobBudgetSpec extends SparkSuite {
  import spark.implicits._

  private def chain(n: Int) =
    (1 until n).map(i => (f"v$i%05d", f"v${i + 1}%05d")).toDF("src", "dst")

  test("connectedComponents on a 2000-node chain: at most 10 jobs") {
    val edges = chain(2000)
    val (labels, jobs) = JobCount(spark.sparkContext)(Graph.connectedComponents(edges).collect())
    assert(labels.length == 2000 && labels.map(_.getString(1)).toSet == Set("v00001"))
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("multiSourceBfs on a 300-node chain: at most 7 jobs") {
    val edges = chain(300)
    val seeds = Seq(("t", "v00001")).toDF("tag", "node")
    val (dist, jobs) = JobCount(spark.sparkContext)(Graph.multiSourceBfs(edges, seeds).collect())
    assert(dist.length == 300 && dist.map(_.getLong(2)).max == 299L)
    assert(jobs <= 7, s"$jobs jobs")
  }

  test("trainCentroids on the sf0.01 embeddings: one job") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val (cents, jobs) = JobCount(spark.sparkContext)(Ivf.trainCentroids(emb).collect())
    assert(cents.length == 16)
    assert(jobs <= 1, s"$jobs jobs")
  }
}
