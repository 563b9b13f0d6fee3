package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Transcripts
import graft.graph.Graph
import graft.ops.TurnGraph
import Inputs._

/** Graph kernels over the conversation overlap graph (conversations
  * linked by shared turn text) and the turn chain graph.
  */
object GraphQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // Q4 analog: conversation-pair similarity by shared turn text (paths
    // sharing segments → distance 0 pairs), bounded to two users' convs
    // and df-capped like every overlap-graph query ([[OverlapDfCap]])
    QueryDef("q_conv_overlap",
      (s, dir) => {
        val t = restrictedConvText(s, dir)
        t.as("a").join(t.as("b"),
            col("a.text") === col("b.text") && col("a.conv_id") < col("b.conv_id"))
          .groupBy(col("a.conv_id").as("conv_a"), col("b.conv_id").as("conv_b"))
          .agg(count(lit(1)).as("n_shared"))
      },
      tsql(s""", ct0 AS (SELECT DISTINCT conv_id, text FROM turns
              |           WHERE conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%'),
              |ct AS (SELECT conv_id, text FROM ct0
              |       QUALIFY COUNT(*) OVER (PARTITION BY text) <= $OverlapDfCap)
              |SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, COUNT(*) AS n_shared
              |FROM ct a JOIN ct b ON a.text = b.text AND a.conv_id < b.conv_id
              |GROUP BY 1, 2""".stripMargin)),
    QueryDef("q_degree_hist",
      (s, dir) => {
        import s.implicits._
        val t = T(s, dir)
        val e = TurnGraph.edges(t).select(
          TurnGraph.nodeId(col("conv_id"), col("src_idx")).as("src"),
          TurnGraph.nodeId(col("conv_id"), col("dst_idx")).as("dst"))
        // histogram is tiny (a handful of distinct degrees) → collect once;
        // zero-degree nodes (single-turn convs) by subtraction from the
        // events rowcount (derivation is bijective, metadata-only scan)
        val hist = Graph.degrees(e)
          .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val total = s.read.parquet(s"$dir/events.parquet").count()
        val zero = total - hist.map(_._2).sum
        val rows = if (zero > 0) hist :+ (0L, zero) else hist
        rows.toSeq.toDF("degree", "n_nodes")
      },
      tsql(""", conv_sizes AS (SELECT conv_id, COUNT(*) AS n FROM turns GROUP BY conv_id),
             |deg AS (
             |  SELECT CAST(0 AS BIGINT) AS degree, COUNT(*) AS n_nodes
             |  FROM conv_sizes WHERE n = 1
             |  UNION ALL
             |  SELECT CAST(1 AS BIGINT), 2 * COUNT(*) FROM conv_sizes WHERE n >= 2
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), CAST(COALESCE(SUM(n - 2), 0) AS BIGINT)
             |  FROM conv_sizes WHERE n >= 3)
             |SELECT degree, n_nodes FROM deg WHERE n_nodes > 0""".stripMargin)),
    // A8 under the driver oracle: the GENERIC iterative min-label
    // propagation kernel on a non-chain graph (conversations linked by
    // shared turn text — 33 components incl. one of size 11 at sf0.01),
    // oracled by a DuckDB recursive transitive closure. This is the hard
    // signal that the kernel (not a closed form) is correct.
    QueryDef("q_components",
      (s, dir) => {
        val (pairs, nodes) = overlapGraph(s, dir)
        Graph.connectedComponents(pairs, Some(nodes))
          .select(col("node").as("conv_id"), col("label").as("component"))
      },
      Transcripts.sqlRecursive(overlapCte +
        """,
          |reach AS (
          |  SELECT conv_id AS node, conv_id AS r FROM (SELECT DISTINCT conv_id FROM ct)
          |  UNION
          |  SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
          |)
          |SELECT node AS conv_id, MIN(r) AS component FROM reach GROUP BY node""".stripMargin)),
    // Q2/A11 under the driver oracle: the generic multi-source BFS kernel
    // on the same overlap graph (depth ≥ 3 at sf0.01), oracled by a
    // DuckDB recursive BFS.
    QueryDef("q_bfs_dist",
      (s, dir) => {
        val (pairs, nodes) = overlapGraph(s, dir)
        Graph.multiSourceBfs(
            pairs,
            nodes.where(col("node").startsWith("c0d"))
              .select(lit("a").as("tag"), col("node")),
            directed = false)
          .select(col("node"), col("dist"))
      },
      Transcripts.sqlRecursive(overlapCte +
        """,
          |walk AS (
          |  SELECT conv_id AS node, CAST(0 AS BIGINT) AS dist
          |  FROM (SELECT DISTINCT conv_id FROM ct) WHERE conv_id LIKE 'c0d%'
          |  UNION
          |  SELECT e.dst AS node, walk.dist + 1 AS dist
          |  FROM walk JOIN e ON walk.node = e.src WHERE walk.dist < 512
          |)
          |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""".stripMargin)),
    // Q4 kernel under the driver oracle: all-pairs distance matrix over
    // the overlap graph — groupDistanceMatrix(min) with per-conversation
    // groups vs a DuckDB recursive all-sources BFS
    QueryDef("q_dist_matrix",
      (s, dir) => {
        val (pairs, nodes) = overlapGraph(s, dir)
        Graph.groupDistanceMatrix(pairs,
          nodes.select(col("node").as("tag"), col("node")),
          method = "min", directed = false)
      },
      Transcripts.sqlRecursive(overlapCte +
        """,
          |walk AS (
          |  SELECT conv_id AS src, conv_id AS node, CAST(0 AS BIGINT) AS dist
          |  FROM (SELECT DISTINCT conv_id FROM ct)
          |  UNION
          |  SELECT walk.src, e.dst, walk.dist + 1
          |  FROM walk JOIN e ON walk.node = e.src WHERE walk.dist < 512
          |)
          |SELECT src AS tag_a, node AS tag_b, MIN(dist) AS dist
          |FROM walk GROUP BY 1, 2""".stripMargin)),
    // Q4 mean under the driver oracle: two user-prefix groups, the
    // reference's two-directional node-to-other-group mean formula
    // (analysis.py:254-262) reproduced in SQL
    QueryDef("q_dist_matrix_mean",
      (s, dir) => {
        val (pairs, nodes) = overlapGraph(s, dir)
        val membership = nodes.select(
          when(col("node").startsWith("c0d"), lit("g0")).otherwise(lit("g1"))
            .as("tag"),
          col("node"))
        Graph.groupDistanceMatrix(pairs, membership, method = "mean",
                                  directed = false)
      },
      Transcripts.sqlRecursive(overlapCte +
        """,
          |g AS (SELECT conv_id AS node,
          |             CASE WHEN conv_id LIKE 'c0d%' THEN 'g0' ELSE 'g1' END AS tag
          |      FROM (SELECT DISTINCT conv_id FROM ct)),
          |walk AS (
          |  SELECT tag AS src_tag, node, CAST(0 AS BIGINT) AS dist FROM g
          |  UNION
          |  SELECT walk.src_tag, e.dst, walk.dist + 1
          |  FROM walk JOIN e ON walk.node = e.src WHERE walk.dist < 512
          |),
          |dg AS (SELECT src_tag, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2),
          |x AS (SELECT LEAST(gs.tag, dg.src_tag) AS tag_a,
          |             GREATEST(gs.tag, dg.src_tag) AS tag_b,
          |             CAST(dg.dist AS DOUBLE) AS dist
          |      FROM dg JOIN g gs ON dg.node = gs.node
          |      WHERE gs.tag <> dg.src_tag),
          |m AS (SELECT tag_a, tag_b, AVG(dist) AS dist FROM x GROUP BY 1, 2),
          |sym AS (SELECT tag_a, tag_b, dist FROM m
          |        UNION ALL SELECT tag_b AS tag_a, tag_a AS tag_b, dist FROM m),
          |diag AS (SELECT DISTINCT tag AS tag_a, tag AS tag_b, 0.0 AS dist FROM g)
          |SELECT tag_a, tag_b, dist FROM sym
          |UNION ALL SELECT tag_a, tag_b, dist FROM diag""".stripMargin)),
    // Weighted Dijkstra kernel under the driver oracle: label-correcting
    // relaxation over the overlap graph with integer-valued weights
    // (n_shared), vs a DuckDB recursive weighted walk — exact because
    // integer-valued double sums are order-independent
    QueryDef("q_weighted_dist",
      (s, dir) => {
        val (_, nodes) = overlapGraph(s, dir)
        Graph.weightedMultiSourceDist(
            overlapGraphWeighted(s, dir),
            nodes.where(col("node").startsWith("c0d"))
              .select(lit("a").as("tag"), col("node")),
            directed = false)
          .select(col("node"), col("dist"))
      },
      Transcripts.sqlRecursive(overlapCte +
        """,
          |ov2 AS (SELECT a.conv_id AS src, b.conv_id AS dst,
          |               CAST(COUNT(*) AS DOUBLE) AS w
          |        FROM ct a JOIN ct b ON a.text = b.text AND a.conv_id < b.conv_id
          |        GROUP BY 1, 2),
          |e2 AS (SELECT src, dst, w FROM ov2
          |       UNION ALL SELECT dst AS src, src AS dst, w FROM ov2),
          |walk AS (
          |  SELECT conv_id AS node, CAST(0 AS DOUBLE) AS dist
          |  FROM (SELECT DISTINCT conv_id FROM ct) WHERE conv_id LIKE 'c0d%'
          |  UNION
          |  SELECT e2.dst AS node, walk.dist + e2.w AS dist
          |  FROM walk JOIN e2 ON walk.node = e2.src WHERE walk.dist < 1000
          |)
          |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""".stripMargin))
  )

  /** Document-frequency cap applied to the overlap-graph text self-join
    * (and mirrored in every derived oracle): texts shared by more than
    * this many conversations are dropped from edge building — the one
    * uncapped m² the engine had left ([[graft.ops.Overlap]]). 64 ≫ the
    * actual max df at test scale (3), so results are unchanged; at 100×
    * one boilerplate error string can't quadratically blow up the join.
    */
  private val OverlapDfCap = graft.ops.Overlap.DefaultMaxDf

  /** Shared non-chain test graph: conversations (restricted to two users'
    * prefixes to bound the self-join) connected when they share a turn
    * text — the q_conv_overlap edge set, symmetrization left to the
    * kernels. Returns (edges src/dst, node set).
    */
  private def overlapGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val t = restrictedConvText(s, dir)
    (graft.ops.Overlap.edges(t), t.select(col("conv_id").as("node")).distinct())
  }

  /** Overlap graph with edge weight = number of shared texts. */
  private def overlapGraphWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Overlap.weightedEdges(restrictedConvText(s, dir))

  /** Shared, persisted base of the overlap-graph queries, df-capped
    * ([[OverlapDfCap]]). Six queries derive from this projection;
    * persist() makes Spark's CacheManager substitute the one materialized
    * relation into every identical sub-plan across those queries in a
    * session (the tiny dimension-sized table is also a CollapseProject
    * barrier for the self-joins above). Memoized per (session, dir) so
    * repeated calls don't re-persist an identical plan (a handle leak and
    * an "already cached" warning in long-lived sessions).
    */
  private val convTextCache = new graft.ops.SessionMemo[String]

  private def restrictedConvText(s: SparkSession, dir: String): DataFrame =
    convTextCache.getOrElseUpdate(s, dir) {
      // the c0d/c1d conv prefixes are exactly users 0 and 1 (conv_id =
      // 'c' + user_id + 'd' + date), so the restriction is applied to
      // the events scan where it pushes into the parquet reader — the
      // turn-rank shuffle then runs over the two users' rows only
      val base = Transcripts.fromEvents(
        s.read.parquet(s"$dir/events.parquet")
          .where(col("user_id").isin(0L, 1L)))
      val ct = graft.ops.Overlap.convText(base, OverlapDfCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // no-silent-caps: surface the df-cap's drops once per (session, dir)
      // — every query derived from this base silently excludes these
      // texts from edge building, so their count must be visible. The
      // memo bounds this to one tiny aggregation per session.
      val nDropped = graft.ops.Overlap.droppedTexts(base, OverlapDfCap).count()
      if (nDropped > 0)
        System.err.println(
          s"WARN graft.queries.GraphQueries: overlap df-cap ($OverlapDfCap) dropped " +
          s"$nDropped shared text(s) from edge building for $dir — " +
          "see graft.ops.Overlap.droppedTexts for the list")
      ct
    }

  /** Overlap-graph CTE chain shared by the recursive-kernel oracles —
    * includes the df cap in lockstep with [[restrictedConvText]].
    */
  private val overlapCte =
    s""", ct0 AS (SELECT DISTINCT conv_id, text FROM turns
      |          WHERE conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%'),
      |ct AS (SELECT conv_id, text FROM ct0
      |       QUALIFY COUNT(*) OVER (PARTITION BY text) <= $OverlapDfCap),
      |ov AS (SELECT DISTINCT a.conv_id AS src, b.conv_id AS dst
      |       FROM ct a JOIN ct b ON a.text = b.text AND a.conv_id < b.conv_id),
      |e AS (SELECT src, dst FROM ov UNION SELECT dst AS src, src AS dst FROM ov)""".stripMargin
}
