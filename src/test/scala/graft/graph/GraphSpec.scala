package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSuite

class GraphSpec extends SparkSuite {
  import spark.implicits._

  private def edgeDf(pairs: (String, String)*) =
    pairs.toDF("src", "dst")

  test("connected components: two chains + isolated node") {
    val edges = edgeDf(("a", "b"), ("b", "c"), ("x", "y"))
    val nodes = Seq("a", "b", "c", "x", "y", "lonely").toDF("node")
    val labels = Graph.connectedComponents(edges, Some(nodes))
    val nComp = labels.agg(countDistinct("label")).head().getLong(0)
    assert(nComp == 3)
    // a,b,c share a label
    val byNode = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byNode("a") == byNode("b") && byNode("b") == byNode("c"))
    assert(byNode("x") == byNode("y"))
    assert(byNode("lonely") != byNode("a"))
  }

  test("connected components: LARGE-graph path (dense long ids) above the node threshold") {
    // > CcSmallGraphNodes nodes routes through the lexicographic-rank id
    // indexing + long-label loop (untested by the small fixtures; the
    // r07 loop scoping touched it): 210k nodes, the first 2000 joined in
    // 1000 disjoint pairs, the rest isolated singletons.
    val nNodes = 210000
    val nodes = spark.range(nNodes)
      .select(format_string("n%06d", col("id")).as("node"))
    val edges = spark.range(1000)
      .select(format_string("n%06d", col("id") * 2).as("src"),
              format_string("n%06d", col("id") * 2 + 1).as("dst"))
    val labels = Graph.connectedComponents(edges, Some(nodes))
    assert(labels.count() == nNodes)
    assert(labels.agg(countDistinct("label")).head().getLong(0) == nNodes - 1000)
    // each pair's representative is the min node string (the even member)
    val bad = labels
      .where(col("node").isin("n000000", "n000001", "n001998", "n001999"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bad("n000000") == "n000000" && bad("n000001") == "n000000")
    assert(bad("n001998") == "n001998" && bad("n001999") == "n001998")
  }

  test("undirected frontier filter == full-state filter on random graphs") {
    // the undirected BFS loop anti-joins only the previous two frontier deltas
    // (hop distance changes by ≤1 across an undirected edge); the
    // directed path anti-joins the full accumulated state. Running the
    // directed kernel over the explicit symmetric closure must therefore
    // give identical (tag, node, dist) sets — random graphs with odd
    // cycles, hubs, and unreachable islands stress the ±1 bound.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 25 + rnd.nextInt(15)
      val pairs = Seq.fill(2 * n)((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      val edges = pairs.toDF("src", "dst")
      val seeds = Seq(("a", "n0"), ("b", "n1"), ("b", "n2")).toDF("tag", "node")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val viaFrontier = rows(Graph.multiSourceBfsLoop(edges, seeds, None, directed = false))
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val viaFullState = rows(Graph.multiSourceBfsLoop(sym, seeds, None, directed = true))
      assert(viaFrontier == viaFullState, s"trial $trial: graphs disagree")
    }
  }

  /** A random sparse graph (hubs, odd cycles, isolated nodes) whose node
    * names mix prefixes that sort differently in UTF-16 and in UTF-8:
    * "😀" (U+1F600) is below "｡" (U+FF61) for `String.compareTo` and
    * above it in Spark's byte order.
    */
  private def randomGraph(rnd: scala.util.Random, n: Int) = {
    val prefixes = Seq("n", "｡", "😀", "é")
    val names = (0 until n).map(i => prefixes(rnd.nextInt(prefixes.size)) + i)
    val pairs = Seq.fill(n)((names(rnd.nextInt(n)), names(rnd.nextInt(n))))
      .filter(e => e._1 != e._2).distinct
    (names, pairs.toDF("src", "dst"))
  }

  test("connected components: driver union-find == Spark loop, labels in UTF-8 order") {
    val rnd = new scala.util.Random(11)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    for (trial <- 1 to 3) {
      val (names, edges) = randomGraph(rnd, 30 + rnd.nextInt(20))
      val nodes = names.toDF("node")
      assert(rows(Graph.connectedComponents(edges, Some(nodes))) ==
             rows(Graph.connectedComponentsLoop(edges, Some(nodes))), s"trial $trial")
    }
    assert(rows(Graph.connectedComponents(edgeDf(("😀", "｡")))) ==
           Set(("😀", "｡"), ("｡", "｡")))
  }

  test("BFS: driver pass == Spark loop, directed and undirected, with and without a stop set") {
    val rnd = new scala.util.Random(5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    for (trial <- 1 to 2; directed <- Seq(false, true)) {
      val (names, edges) = randomGraph(rnd, 25 + rnd.nextInt(10))
      val seeds = Seq(("a", names(0)), ("b", names(1)), ("b", names(2))).toDF("tag", "node")
      for (stop <- Seq(None, Some(Seq(names(3), names(4)).toDF("node"))))
        assert(rows(Graph.multiSourceBfsUntil(edges, seeds, stop, directed)) ==
               rows(Graph.multiSourceBfsLoop(edges, seeds, stop, directed)),
               s"trial $trial directed=$directed stop=${stop.isDefined}")
    }
  }

  test("BFS on the driver: maxIter throws unless the stop set ends the walk first") {
    val chain = edgeDf(("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"))
    val seeds = Seq(("t", "n1")).toDF("tag", "node")
    val e = intercept[IllegalStateException](Graph.multiSourceBfs(chain, seeds, maxIter = 2))
    assert(e.getMessage.contains("after 2 rounds (1 nodes)"))
    val d = Graph.multiSourceBfsUntil(chain, seeds, Some(Seq("n3").toDF("node")), maxIter = 2)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(d == Map("n1" -> 0L, "n2" -> 1L, "n3" -> 2L))
  }

  test("multi-source BFS hop distances on a chain") {
    val edges = edgeDf(("n1", "n2"), ("n2", "n3"), ("n3", "n4"))
    val seeds = Seq(("t", "n1")).toDF("tag", "node")
    val d = Graph.multiSourceBfs(edges, seeds)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(d == Map("n1" -> 0L, "n2" -> 1L, "n3" -> 2L, "n4" -> 3L))
  }

  test("BFS with multiple tags computes all groups in one pass (A12)") {
    val edges = edgeDf(("n1", "n2"), ("n2", "n3"))
    val seeds = Seq(("p1", "n1"), ("p2", "n3")).toDF("tag", "node")
    val d = Graph.multiSourceBfs(edges, seeds)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(d(("p1", "n3")) == 2L)
    assert(d(("p2", "n1")) == 2L)
    assert(d(("p1", "n1")) == 0L)
  }

  test("directed BFS respects direction") {
    val edges = edgeDf(("n1", "n2"), ("n2", "n3"))
    val seeds = Seq(("t", "n3")).toDF("tag", "node")
    val d = Graph.multiSourceBfs(edges, seeds, directed = true).count()
    assert(d == 1) // only the seed itself is reachable
  }

  test("degrees: undirected distinct-neighbor counts") {
    val edges = edgeDf(("a", "b"), ("b", "c"), ("a", "b")) // dup edge
    val deg = Graph.degrees(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deg == Map("a" -> 1L, "b" -> 2L, "c" -> 1L))
  }
}
