package graft.tools

import org.apache.spark.sql.SparkSession

import graft.gfa.{GfaAnalysis, GfaGraph}

/** Single-node throughput head-to-head against the reference on the SAME
  * synthetic GFA file (default /tmp/bench_big.gfa — 1M segments, 1.5M
  * links, 12 × 1000-segment paths; generator + reference timings recorded
  * in `git show 1978c16:BENCH.md`). Runs the same two entry points the
  * reference CLI exposes:
  * compute_stats and genome_distance_matrix(min), default (directed)
  * options = the reference's DiGraph defaults.
  */
object HeadToHead {
  /** Deterministic generator for the head-to-head input (no RNG): N
    * segments, a chain plus multiplicative-hash shortcut links
    * (small-world diameter), P paths of `plen` spread-out segments.
    * Reference side runs the same file via
    * `sys.path.insert(0,'/root/reference'); from gfa2network.analysis
    * import compute_stats, genome_distance_matrix`.
    */
  def writeBigGfa(path: String, n: Int = 1000000, p: Int = 12,
                  plen: Int = 1000): Unit = {
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path), 1 << 20)
    try {
      var i = 0
      while (i < n) { w.write(s"S\ts$i\tACGT\n"); i += 1 }
      i = 0
      while (i < n - 1) { w.write(s"L\ts$i\t+\ts${i + 1}\t+\t0M\n"); i += 1 }
      i = 0
      while (i < n) {
        val j = ((i.toLong * 2654435761L) % n).toInt
        if (j != i) w.write(s"L\ts$i\t+\ts$j\t+\t0M\n")
        i += 2
      }
      var pp = 0
      while (pp < p) {
        val segs = (0 until plen)
          .map(k => s"s${(pp * 101 + 997L * k) % n}+").mkString(",")
        w.write(s"P\tpath$pp\t$segs\t*\n")
        pp += 1
      }
    } finally w.close()
  }

  def main(args: Array[String]): Unit = println(run())

  /** Run the graft side and return the one-line JSON result (spark
    * session created and stopped inside — callable from [[Evidence]]).
    * `n` > 0 generates (if absent) and uses an n-segment input at
    * `<GRAFT_GFA>` instead of the default 1M-segment file.
    */
  def run(n: Int = -1): String = {
    val path = sys.env.getOrElse("GRAFT_GFA",
      if (n > 0) s"/tmp/bench_big_$n.gfa" else "/tmp/bench_big.gfa")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      if (n > 0) writeBigGfa(path, n) else writeBigGfa(path)
    implicit val spark: SparkSession = ToolSession()
    // warmup: the same plan shapes on a small generated input
    val warm = java.nio.file.Files.createTempFile("h2h_warmup", ".gfa")
    try {
      writeBigGfa(warm.toString, n = 3000, p = 3, plen = 100)
      GfaAnalysis.computeStats(GfaGraph.readLines(spark, warm.toString)).collect()
    } finally java.nio.file.Files.delete(warm)

    val lines = GfaGraph.readLines(spark, path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lines.count()
    val t0 = System.nanoTime()
    val st = GfaAnalysis.computeStats(lines).collect()(0)
    val tStats = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val m = GfaAnalysis.genomeDistanceMatrix(lines, "min").collect()
    val tDm = (System.nanoTime() - t1) / 1e9
    val line = f"""{"metric":"head_to_head","file":"$path",""" +
      f""""cpus":${ToolSession.cpus},""" +
      f""""stats_sec":$tStats%.1f,"dm_sec":$tDm%.1f,""" +
      f""""nodes":${st.getLong(0)},"edges":${st.getLong(1)},""" +
      f""""paths":${st.getLong(2)},"components":${st.getLong(3)},""" +
      f""""max_degree":${st.getLong(4)},"dm_rows":${m.length}}"""
    spark.stop()
    line
  }
}
