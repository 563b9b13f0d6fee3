package graft

import org.apache.spark.JobCount

import graft.graph.Graph
import graft.sim.Ivf
import graft.text.CorpusFilter

/** Upper bounds on the Spark jobs of the iterative kernels and the corpus
  * funnel at sizes their driver paths take. A Spark loop pays about four
  * jobs per round (1217 for BFS along a 300-node chain), so a bound fails
  * as soon as per-round jobs come back; the components and funnel bounds
  * also fail on a second collect of the node set or a join back of the
  * near-dup drops (8 and 17 jobs before those went).
  */
class JobBudgetSpec extends SparkSuite {
  import spark.implicits._

  private def chain(n: Int) =
    (1 until n).map(i => (f"v$i%05d", f"v${i + 1}%05d")).toDF("src", "dst")

  test("connectedComponents on a 2000-node chain: at most 5 jobs") {
    val edges = chain(2000)
    val (labels, jobs) = JobCount(spark.sparkContext)(Graph.connectedComponents(edges).collect())
    assert(labels.length == 2000 && labels.map(_.getString(1)).toSet == Set("v00001"))
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("funnel on a planted 400-doc corpus: at most 7 jobs") {
    // 400 docs: every 10th fails the lang gate, every 10th + 1 duplicates
    // its predecessor, and 60 near-dup pairs form chains of three
    val docs = (0 until 400).map { i =>
      val text = if (i % 10 == 0) s"xyzzy qwfp zxcv plm nbv w$i"
        else s"the item ${i - (if (i % 10 == 1) 1 else 0)} is on the shelf and the rest"
      (i.toLong, text + " ." * (i % 3))
    }.toDF("doc_id", "text")
    val pairs = (0 until 30).flatMap(c => Seq((c * 13L + 2, c * 13L + 3), (c * 13L + 3, c * 13L + 4)))
      .toDF("id_a", "id_b")
    val (stages, jobs) = JobCount(spark.sparkContext)(CorpusFilter.funnel(docs, pairs).collect())
    val n = stages.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(n("total") == 400 && n("lang") == 360 && n("near_dedup") < n("exact_dedup"))
    assert(jobs <= 7, s"$jobs jobs")
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
