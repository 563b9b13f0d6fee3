package graft.gfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Graph

/** Query layer over parsed GFA graphs — the Spark re-expression of the
  * reference's analysis module (analysis.py): stats, sequence distance,
  * path (genome) distance, all-pairs path distance matrix.
  */
object GfaAnalysis {

  /** Q1 compute_stats (analysis.py:33-65): nodes, edges, paths, connected
    * components, max degree, density — all from one pass over the parsed
    * record DataFrames (vs the reference's re-parse, S7). The reference
    * defaults to a DiGraph here (analysis.py:36 `directed: bool = True`),
    * hence the directed default; components are computed on the
    * undirected view either way (to_undirected, analysis.py:54).
    */
  def computeStats(lines: DataFrame,
                   opts: GfaOptions = GfaOptions(directed = true))
                  (implicit spark: SparkSession): DataFrame = {
    // stats runs four independent jobs (counts, components, degrees) over
    // the same parsed node/edge relations — persist them so the text →
    // fields → records parse happens once, not per job (Graph.stats is
    // eager, so the unpersist below is safe)
    val nodes = GfaGraph.nodes(lines, opts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = GfaGraph.edges(lines, opts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Graph.stats(nodes, edges, GfaGraph.pathCount(lines),
                    directed = opts.graphDirected)
    finally {
      nodes.unpersist(blocking = false)
      edges.unpersist(blocking = false)
    }
  }

  /** A9 memory-footprint accounting + R-guard thresholds (builders.py:
    * 149-150, 262-273): total stored sequence/tag bytes, surfaced as a
    * one-row metrics DataFrame instead of interleaved warnings. Callers
    * compare against the reference's thresholds (tags > maxTagMb, seqs >
    * 50% of heap) and emit metrics.
    */
  def byteTotals(lines: DataFrame): DataFrame =
    GfaParse.segments(lines).agg(
      sum(length(col("sequence"))).cast("long").as("seq_bytes_total"),
      sum(aggregate(map_values(col("tags")), lit(0),
        (acc, v) => acc + length(v))).cast("long").as("tags_bytes_total"))

  /** Q2 sequence_distance (analysis.py:68-113): min hop/weighted distance
    * between the node sets carrying exactly `seqA` / `seqB` as sequence
    * payload. The reference always runs Dijkstra with weight="weight"
    * (absent attr = 1, analysis.py:109); with no weight tag that equals
    * hop BFS, so the cheaper early-terminating kernel serves that case.
    * Bidirected graphs attach the sequence to both `id:+` and `id:-`
    * (builders.py:167-178) — the lookup expands accordingly.
    * Empty result (no row / null dist) = NoPath or unknown sequence.
    */
  def sequenceDistance(lines: DataFrame, seqA: String, seqB: String,
                       opts: GfaOptions = GfaOptions()): DataFrame = {
    val segs = GfaParse.segments(lines)
    val nodesFor = (s: String) => GfaGraph.orientedNodes(
      segs.where(col("sequence") === s).select(col("id").as("node")), opts)
    Graph.setDistance(GfaGraph.edges(lines, opts), nodesFor(seqA),
                      nodesFor(seqB), method = "min",
                      directed = opts.graphDirected,
                      weighted = opts.weightTag.isDefined)
  }

  /** Q3 genome_distance (analysis.py:116-161): min/mean distance between
    * two paths' node MULTISETS — the reference passes the raw member list
    * (cli.py:335-345) and mean weights duplicate visits pairwise
    * (analysis.py:148-158), so no dedup here. Weighted Dijkstra when
    * `opts.weightTag` is set (reference always passes weight="weight",
    * analysis.py:137,153).
    */
  def genomeDistance(lines: DataFrame, pathA: String, pathB: String,
                     method: String = "min",
                     opts: GfaOptions = GfaOptions()): DataFrame = {
    val members = GfaParse.pathMembers(lines)
    val setFor = (p: String) => GfaGraph.orientedNodes(
      members.where(col("name") === p).select(col("seg").as("node")), opts)
    Graph.setDistance(GfaGraph.edges(lines, opts), setFor(pathA), setFor(pathB),
                      method, directed = opts.graphDirected,
                      weighted = opts.weightTag.isDefined)
  }

  /** Q4 genome_distance_matrix (analysis.py:180-272): long-form
    * (tag_a, tag_b, dist) over all path pairs; the per-path-labeled BFS is
    * computed once and persisted — the distributed form of the
    * reference's per-path Dijkstra cache (≥4× vs naive pairwise).
    * Weighted Dijkstra when `opts.weightTag` is set (the reference's
    * cache always uses weight="weight", analysis.py:235-239).
    * `emitInf = true` fills unreachable pairs with +Infinity like the
    * reference's dense matrix (analysis.py:252,263); default long form
    * omits them.
    */
  def genomeDistanceMatrix(lines: DataFrame, method: String = "min",
                           opts: GfaOptions = GfaOptions(),
                           emitInf: Boolean = false): DataFrame = {
    // multiset membership: a path visiting a node twice weights it twice
    // in the mean (load_paths keeps the raw list, analysis.py:164-177)
    val membership = GfaGraph.orientedNodes(
      GfaParse.pathMembers(lines)
        .select(col("name").as("tag"), col("seg").as("node")), opts)
    // file order of the P/O records = the reference's `names` order
    // (load_paths insertion order) — drives the directed-min mirroring
    // parity (M[j][i] := M[i][j] from the earlier path's cache,
    // analysis.py:265-266); available whenever lines came from readLines
    val tagOrder =
      if (lines.columns.contains("lineno"))
        Some(GfaParse.records(lines).where(col("rtype").isin("P", "O"))
          .select(get(col("fields"), lit(1)).as("tag"), col("lineno"))
          .groupBy("tag").agg(min("lineno").as("ord")))
      else None
    Graph.groupDistanceMatrix(GfaGraph.edges(lines, opts), membership, method,
                              directed = opts.graphDirected,
                              weighted = opts.weightTag.isDefined,
                              emitInf = emitInf,
                              tagOrder = tagOrder)
  }
}
