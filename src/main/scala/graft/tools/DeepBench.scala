package graft.tools

import org.apache.spark.sql.functions._

/** Deep/wide iterative-kernel benchmark: multi-source BFS over a bundle
  * of W parallel chains of length L (a layered graph, node `l<i>_<j>`,
  * edge l<i>_<j> → l<i+1>_<j>), seeded at layer 0 — frontier stays W
  * rows for L rounds while accumulated state grows to L×W.
  *
  * This is the shape that separates incremental from full-state
  * checkpointing: the same traversal runs twice —
  *   - `undirected`: the two-delta frontier filter (anti-join reads the
  *     previous two frontiers only; O(frontier) per round), and
  *   - `directed`: the accumulated-state filter (anti-join reads the
  *     full delta union; O(state) per round — the lower bound of what
  *     any full-state rematerialization scheme pays, which ALSO wrote
  *     O(state) checkpoint I/O per round before round 3).
  * Identical reachability answer (forward chains), so the ratio is pure
  * state-handling cost.
  */
object DeepBench {
  def main(args: Array[String]): Unit = println(run())

  /** Run the A/B and return the one-line JSON result (spark session is
    * created and stopped inside — callable from [[Evidence]]).
    */
  def run(): String = {
    val L = sys.env.getOrElse("GRAFT_LAYERS", "60").toInt
    val W = sys.env.getOrElse("GRAFT_WIDTH", "20000").toInt
    val spark = ToolSession()
    val edges = spark.range(0L, (L - 1).toLong * W).select(
      concat(lit("l"), (col("id") / W).cast("long"), lit("_"),
             pmod(col("id"), lit(W))).as("src"),
      concat(lit("l"), (col("id") / W).cast("long") + 1, lit("_"),
             pmod(col("id"), lit(W))).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val seeds = spark.range(0L, W.toLong).select(
      lit("s").as("tag"), concat(lit("l0_"), col("id")).as("node"))
    def run(directed: Boolean): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val d = graft.graph.Graph.multiSourceBfs(edges, seeds, directed = directed,
                                               maxIter = L + 4)
      val r = d.agg(count(lit(1)), sum("dist")).collect()(0)
      ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
    }
    // warmup on a small slice of the same plan shapes
    graft.graph.Graph.multiSourceBfs(edges.limit(1000), seeds.limit(10),
                                     directed = false, maxIter = 8).count()
    val (tFrontier, n1, s1) = run(directed = false)
    val (tFull, n2, s2) = run(directed = true)
    require(n1 == n2 && s1 == s2,
      s"frontier/full disagree: ($n1,$s1) vs ($n2,$s2)")
    val line = f"""{"metric":"deep_bfs","cpus":${ToolSession.cpus},""" +
      f""""layers":$L,"width":$W,""" +
      f""""state_rows":$n1,"frontier_filter_sec":$tFrontier%.2f,""" +
      f""""full_state_filter_sec":$tFull%.2f,""" +
      f""""speedup":${tFull / tFrontier}%.2f}"""
    spark.stop()
    line
  }
}
