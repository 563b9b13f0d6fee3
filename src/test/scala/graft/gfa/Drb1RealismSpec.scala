package graft.gfa

import graft.SparkSuite

/** End-to-end realism: the reference's real-world fixture
  * (tests/data/DRB1-3123_unsorted.gfa, 9,470 lines — human DRB1 region)
  * against golden values computed by RUNNING the reference itself:
  * compute_stats → {nodes:3214, edges:6236, paths:12, components:1,
  * max_degree:10, density:6.038784178540392e-4};
  * genome_distance_matrix → 12×12 zeros (all paths share segments).
  */
class Drb1RealismSpec extends SparkSuite {

  private val path = "/root/reference/tests/data/DRB1-3123_unsorted.gfa"

  private lazy val lines = GfaGraph.readLines(spark, path)

  test("DRB1 compute_stats matches the reference run exactly") {
    implicit val s = spark
    val r = GfaAnalysis.computeStats(
      GfaGraph.readLines(spark, path)).head()
    assert(r.getLong(0) == 3214L, "nodes")
    assert(r.getLong(1) == 6236L, "edges (nx dup-overwrite semantics)")
    assert(r.getLong(2) == 12L, "paths")
    assert(r.getLong(3) == 1L, "components")
    assert(r.getLong(4) == 10L, "max_degree")
    assert(math.abs(r.getDouble(5) - 6.038784178540392e-4) < 1e-15, "density")
  }

  test("DRB1 distance matrix: 12 paths, all pairwise distances 0") {
    val m = GfaAnalysis.genomeDistanceMatrix(lines, "min").collect()
    assert(m.length == 144)
    assert(m.forall(_.getLong(2) == 0L))
  }

  test("DRB1 MEAN distance matrix: nonzero reference-run goldens") {
    // min is all-zero (paths share segments), so mean is the cell-level
    // realism check: goldens from running the reference's
    // genome_distance_matrix(method="mean") on this fixture (defaults:
    // directed graph, unweighted)
    val m = GfaAnalysis.genomeDistanceMatrix(lines, "mean").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(m.size == 144)
    val golden = Seq(
      ("gi|568815592:32578768-32589835", "gi|568815529:3998044-4011446")
        -> 6.3350208457415125,
      ("gi|568815592:32578768-32589835", "gi|568815569:3979127-3993865")
        -> 8.33720592506535,
      ("gi|568815561:3988942-4004531", "gi|29124352:124254-137656")
        -> 0.5476882430647292,
      ("gi|528476637:32549024-32560088", "gi|157702218:147985-163915")
        -> 9.013097776424003)
    golden.foreach { case ((a, b), d) =>
      assert(math.abs(m((a, b)) - d) < 1e-9, s"$a ↔ $b")
      assert(math.abs(m((b, a)) - d) < 1e-9, s"mirror $b ↔ $a")
    }
    assert(m(("gi|568815592:32578768-32589835",
              "gi|568815592:32578768-32589835")) == 0.0)
  }

  test("DRB1 node index is dense over 3214 first-seen nodes") {
    val idx = GfaGraph.nodeIndex(lines)
    assert(idx.count() == 3214L)
    val mx = idx.agg(org.apache.spark.sql.functions.max("idx")).head().getLong(0)
    assert(mx == 3213L)
  }
}
