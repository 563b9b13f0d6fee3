package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DupMode, Pairing, Rates, Sessions, TurnGraph}
import Inputs._

/** Transcript operators over the canonical Turn table: conversation
  * graph, sessions, rates, pairing, as-of and interval joins, patterns.
  */
object TranscriptQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q_stats", (s, dir) => qStats(s, dir),
      tsql(""", conv_sizes AS (SELECT conv_id, COUNT(*) AS n FROM turns GROUP BY conv_id),
             |s AS (SELECT CAST(SUM(n) AS BIGINT) AS nodes,
             |             CAST(SUM(n) - COUNT(*) AS BIGINT) AS edges,
             |             COUNT(*) AS paths, COUNT(*) AS components,
             |             MAX(CASE WHEN n >= 3 THEN 2 WHEN n = 2 THEN 1 ELSE 0 END) AS max_degree
             |      FROM conv_sizes)
             |SELECT nodes, edges, paths, components, max_degree,
             |       CASE WHEN nodes > 1 THEN 2.0 * edges / (nodes * (nodes - 1))
             |            ELSE 0.0 END AS density
             |FROM s""".stripMargin)),
    QueryDef("q_conv_edges", (s, dir) => TurnGraph.edges(T(s, dir)),
      tsql("""SELECT conv_id, turn_idx AS src_idx, LEAD(turn_idx) OVER w AS dst_idx,
             |       role AS src_role, LEAD(role) OVER w AS dst_role,
             |       date_diff('microsecond', ts, LEAD(ts) OVER w) AS gap_us
             |FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
             |QUALIFY LEAD(turn_idx) OVER w IS NOT NULL""".stripMargin)),
    QueryDef("q_node_index", (s, dir) => TurnGraph.nodeIndex(T(s, dir)),
      tsql("""SELECT conv_id, turn_idx,
             |       CAST(ROW_NUMBER() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS node_idx,
             |       conv_id || ':' || CAST(turn_idx AS VARCHAR) AS node_id
             |FROM turns""".stripMargin)),
    QueryDef("q_sessions", (s, dir) => Sessions.byGap(T(s, dir), 1800),
      tsql(Sessions.byGapOracle(1800))),
    QueryDef("q_sessions_sw",
      (s, dir) => Sessions.bySessionWindow(T(s, dir), "30 minutes"),
      tsql(Sessions.sessionWindowOracle(1800))),
    QueryDef("q_turn_rate", (s, dir) => Rates.tumblingPerTool(T(s, dir), "1 hour"),
      tsql("""SELECT date_trunc('hour', ts) AS window_start, tool,
             |       COUNT(*) AS n_turns, COUNT(DISTINCT conv_id) AS n_convs
             |FROM turns GROUP BY 1, 2""".stripMargin)),
    QueryDef("q_role_cube", (s, dir) => Rates.roleToolCube(T(s, dir)),
      tsql("""SELECT role, tool, COUNT(*) AS n_turns, COUNT(DISTINCT conv_id) AS n_convs,
             |       CAST(GROUPING(role) AS INTEGER) AS g_role,
             |       CAST(GROUPING(tool) AS INTEGER) AS g_tool
             |FROM turns GROUP BY CUBE (role, tool)""".stripMargin)),
    QueryDef("q_pairing", (s, dir) => Pairing.userAssistant(T(s, dir)),
      tsql("""SELECT u.conv_id, u.turn_idx AS user_idx, a.turn_idx AS asst_idx,
             |       date_diff('microsecond', u.ts, a.ts) AS latency_us
             |FROM turns u JOIN turns a
             |  ON u.conv_id = a.conv_id AND a.turn_idx = u.turn_idx + 1
             |WHERE u.role = 'user' AND a.role = 'assistant'
             |  AND date_diff('microsecond', u.ts, a.ts) BETWEEN 0 AND 31536000000000""".stripMargin)),
    QueryDef("q_coo_sym",
      (s, dir) => TurnGraph.symmetrize(TurnGraph.coo(TurnGraph.edges(T(s, dir)), DupMode.Sum)),
      tsql(""", e AS (
             |  SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS src,
             |         conv_id || ':' || CAST(LEAD(turn_idx) OVER w AS VARCHAR) AS dst,
             |         CAST(date_diff('microsecond', ts, LEAD(ts) OVER w) AS DOUBLE) AS weight
             |  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
             |  QUALIFY LEAD(turn_idx) OVER w IS NOT NULL),
             |g AS (SELECT src, dst, SUM(weight) AS weight FROM e GROUP BY 1, 2),
             |u AS (SELECT src, dst, weight FROM g
             |      UNION ALL SELECT dst, src, weight FROM g)
             |SELECT src, dst, MAX(weight) AS weight FROM u GROUP BY 1, 2""".stripMargin)),
    // T6 batch twin: per-conversation CSR shape — the imperative
    // CsrShapeAgg (same CsrState.csrOf derivation as the streaming
    // flatMapGroupsWithState state; pinned against the typed
    // ConvCsrAggregator in CsrAggSpec). Untyped groupBy so column
    // pruning cuts the plan to (conv_id, turn_idx).
    QueryDef("q_csr_agg",
      (s, dir) => T(s, dir)
        .groupBy("conv_id")
        .agg(graft.functions.CsrAgg.csr_shape(col("turn_idx")).as("csr"))
        .select(col("conv_id"),
                col("csr.n_turns").as("n_turns"),
                col("csr.n_edges").as("n_edges"),
                col("csr.min_idx").as("min_idx"),
                col("csr.max_idx").as("max_idx"),
                col("csr.contiguous").as("contiguous")),
      tsql("""SELECT conv_id, CAST(COUNT(*) AS INTEGER) AS n_turns,
             |       CAST(COUNT(*) - 1 AS INTEGER) AS n_edges,
             |       MIN(turn_idx) AS min_idx, MAX(turn_idx) AS max_idx,
             |       (MAX(turn_idx) - MIN(turn_idx) + 1 = COUNT(*)) AS contiguous
             |FROM turns GROUP BY conv_id""".stripMargin)),
    QueryDef("q_text_dups",
      (s, dir) => T(s, dir)
        .groupBy("text")
        .agg(count(lit(1)).as("n_occurrences"),
             min(TurnGraph.nodeId(col("conv_id"), col("turn_idx"))).as("first_node"))
        .where(col("n_occurrences") > 1),
      tsql("""SELECT text, COUNT(*) AS n_occurrences,
             |       MIN(conv_id || ':' || CAST(turn_idx AS VARCHAR)) AS first_node
             |FROM turns GROUP BY text HAVING COUNT(*) > 1""".stripMargin)),
    QueryDef("q_sliding_rate",
      (s, dir) => Rates.slidingPerRole(T(s, dir), "2 hours", "1 hour"),
      tsql("""SELECT ws AS window_start, role, COUNT(*) AS n_turns FROM (
             |  SELECT date_trunc('hour', ts) AS ws, role FROM turns
             |  UNION ALL
             |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, role FROM turns
             |) GROUP BY 1, 2""".stripMargin)),
    // As-of join: attribute every tool turn to the
    // latest user turn at-or-before it — the union-tag + running-last
    // single-shuffle plan ([[graft.ops.AsOfJoin]]); the oracle is DuckDB's
    // native ASOF LEFT JOIN, a genuinely independent formulation of the
    // same semantics. Right side pre-reduced to one row per (conv, ts)
    // (max turn_idx) so the matched row is deterministic in both engines.
    QueryDef("q_asof_attrib",
      (s, dir) => {
        val t = T(s, dir)
        val userPts = t.where(col("role") === "user")
          .groupBy(col("conv_id"), col("ts").as("u_ts"))
          .agg(max("turn_idx").cast("int").as("user_idx"))
        val toolTurns = t.where(col("tool").isNotNull)
          .select("conv_id", "turn_idx", "tool", "ts")
        graft.ops.AsOfJoin.asOf(toolTurns, userPts, Seq("conv_id"),
            leftTime = "ts", rightTime = "u_ts",
            payload = Seq("user_idx", "u_ts"))
          .select(col("conv_id"), col("turn_idx"), col("tool"),
                  col("user_idx"),
                  expr("timestampdiff(MICROSECOND, u_ts, ts)").as("gap_us"))
      },
      // the as-of semantics recomputed by DuckDB's NATIVE ASOF LEFT JOIN —
      // an independent engine feature, not a mirror of the union-tag plan
      tsql(""", user_pts AS (
             |  SELECT conv_id, ts AS u_ts, CAST(MAX(turn_idx) AS INT) AS user_idx
             |  FROM turns WHERE role = 'user' GROUP BY 1, 2),
             |tool_t AS (
             |  SELECT conv_id, turn_idx, tool, ts FROM turns WHERE tool IS NOT NULL)
             |SELECT t.conv_id, t.turn_idx, t.tool, u.user_idx,
             |       date_diff('microsecond', u.u_ts, t.ts) AS gap_us
             |FROM tool_t t ASOF LEFT JOIN user_pts u
             |  ON t.conv_id = u.conv_id AND t.ts >= u.u_ts""".stripMargin)),
    // Reply-latency order statistics: the north
    // rule's latency p95 as a first-class exact query — integer-µs gaps,
    // interpolated percentiles bit-identical across engines (both compute
    // lo + (hi−lo)·frac at p·(n−1)). [[graft.ops.Quantiles]]; the
    // bounded-memory approx_percentile scale path is pinned against this
    // exact operator in QuantilesSpec.
    QueryDef("q_latency_quantiles",
      (s, dir) => graft.ops.Quantiles.replyLatency(T(s, dir)),
      tsql(""", gaps AS (
             |  SELECT tool, role, date_diff('microsecond',
             |           lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx),
             |           ts) AS gap_us
             |  FROM turns
             |  QUALIFY role = 'assistant' AND gap_us IS NOT NULL)
             |SELECT tool, COUNT(*) AS n,
             |       quantile_cont(gap_us, 0.5) AS p50_us,
             |       quantile_cont(gap_us, 0.95) AS p95_us,
             |       quantile_cont(gap_us, 0.99) AS p99_us,
             |       MAX(gap_us) AS max_us
             |FROM gaps GROUP BY tool""".stripMargin)),
    // the same order statistics restricted to INTRA-session gaps (a gap
    // over the 30 min threshold starts a new session, q_sessions'
    // definition — it is absence, not latency)
    QueryDef("q_session_latency",
      (s, dir) => graft.ops.Quantiles.sessionReplyLatency(T(s, dir), gapSec = 1800),
      tsql(""", gaps AS (
             |  SELECT tool, role, date_diff('microsecond',
             |           lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx),
             |           ts) AS gap_us
             |  FROM turns
             |  QUALIFY role = 'assistant' AND gap_us IS NOT NULL
             |          AND gap_us <= 1800 * 1000000)
             |SELECT tool, COUNT(*) AS n,
             |       quantile_cont(gap_us, 0.5) AS p50_us,
             |       quantile_cont(gap_us, 0.95) AS p95_us,
             |       quantile_cont(gap_us, 0.99) AS p99_us,
             |       MAX(gap_us) AS max_us
             |FROM gaps GROUP BY tool""".stripMargin)),
    // CEP pattern, batch twin: maximal runs of ≥2 consecutive tool turns
    // per conversation — gaps-and-islands in one turn-order sort
    // ([[graft.stream.Patterns.toolRuns]]). The streaming path over the
    // same pattern is q_stream_runs.
    QueryDef("q_tool_runs",
      (s, dir) => graft.stream.Patterns.toolRuns(T(s, dir), minLen = 2),
      tsql(""", isl AS (
             |  SELECT conv_id, turn_idx, tool,
             |         turn_idx - ROW_NUMBER() OVER (PARTITION BY conv_id
             |                                       ORDER BY turn_idx) AS grp
             |  FROM turns WHERE tool IS NOT NULL)
             |SELECT conv_id, MIN(turn_idx) AS start_idx, MAX(turn_idx) AS end_idx,
             |       CAST(COUNT(*) AS INT) AS run_len,
             |       CAST(COUNT(DISTINCT tool) AS INT) AS n_tools
             |FROM isl GROUP BY conv_id, grp HAVING COUNT(*) >= 2""".stripMargin)),
    // Interval-containment join: every turn
    // located inside its session's [start_ts, end_ts] interval via the
    // BUCKETIZED equi-join ([[graft.ops.IntervalJoin]] — interval × hour
    // buckets + residual BETWEEN, no per-key cartesian). Oracle = the
    // NAIVE range join over independently recomputed islands intervals,
    // so a bucketization bug that drops/duplicates boundary rows breaks
    // the hash.
    QueryDef("q_turn_sessions",
      (s, dir) => {
        val t = T(s, dir)
        val sess = Sessions.byGap(t, 1800)
          .select("conv_id", "session_idx", "start_ts", "end_ts")
        graft.ops.IntervalJoin.containment(
            t.select("conv_id", "turn_idx", "ts"), sess,
            keys = Seq("conv_id"), pointTime = "ts",
            start = "start_ts", end = "end_ts",
            payload = Seq("session_idx"), bucket = "hour")
          .select("conv_id", "turn_idx", "session_idx")
      },
      // naive range join over independently recomputed islands intervals —
      // the un-bucketized formulation of the containment semantics
      tsql(
        Sessions.islandsCte(1800) +
        """, sess AS (
          |  SELECT conv_id, session_idx, MIN(ts) AS start_ts, MAX(ts) AS end_ts
          |  FROM numbered_sessions GROUP BY 1, 2)
          |SELECT t.conv_id, t.turn_idx, s.session_idx
          |FROM turns t JOIN sess s
          |  ON t.conv_id = s.conv_id
          | AND t.ts BETWEEN s.start_ts AND s.end_ts""".stripMargin)),
    // Pivot: role × tool count matrix with an
    // EXPLICIT pivot-value list (dynamic value discovery would be a
    // separate pass + nondeterministic column order at scale); absent
    // cells filled 0 to match the oracle's conditional aggregation.
    QueryDef("q_role_tool_pivot",
      (s, dir) => T(s, dir)
        .withColumn("tool_k", coalesce(col("tool"), lit("none")))
        .groupBy("role")
        .pivot("tool_k", Seq("error", "purchase", "none"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("error", "purchase", "none")),
      tsql("""SELECT role,
             |       COUNT(*) FILTER (tool = 'error') AS error,
             |       COUNT(*) FILTER (tool = 'purchase') AS purchase,
             |       COUNT(*) FILTER (tool IS NULL) AS none
             |FROM turns GROUP BY role""".stripMargin)),
    // Grouped top-k ranking: top-2 tools per day
    // by turn count, deterministic tie-break on tool name — the ranked
    // flavor of O7 (the map-side TopK aggregator covers the scored
    // flavor in q_knn_*).
    QueryDef("q_top_tools_daily",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("day").orderBy(col("n_turns").desc, col("tool").asc)
        T(s, dir).where(col("tool").isNotNull)
          .groupBy(date_trunc("day", col("ts")).as("day"), col("tool"))
          .agg(count(lit(1)).as("n_turns"))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 2)
          .select(col("day"), col("tool"), col("n_turns"),
                  col("rnk").cast("int").as("rnk"))
      },
      tsql(""", counts AS (
             |  SELECT date_trunc('day', ts) AS day, tool, COUNT(*) AS n_turns
             |  FROM turns WHERE tool IS NOT NULL GROUP BY 1, 2)
             |SELECT day, tool, n_turns, CAST(rnk AS INT) AS rnk FROM (
             |  SELECT day, tool, n_turns,
             |         ROW_NUMBER() OVER (PARTITION BY day
             |                            ORDER BY n_turns DESC, tool ASC) AS rnk
             |  FROM counts)
             |WHERE rnk <= 2""".stripMargin)),
    // Q2 analog: min hop distance between two text classes over the
    // conversation chain graph — closed form (|iₐ−i_b| within a conv); the
    // generic BFS kernel is validated against this class of answers in
    // GfaAnalysisSpec/GraphSpec.
    QueryDef("q_text_distance",
      (s, dir) => {
        val t = T(s, dir)
        val a = t.where(col("text").startsWith("click#"))
          .select(col("conv_id"), col("turn_idx").as("ai"))
        val b = t.where(col("text").startsWith("error#"))
          .select(col("conv_id"), col("turn_idx").as("bi"))
        a.join(b, "conv_id")
          .agg(min(abs(col("ai") - col("bi"))).as("dist"))
      },
      tsql("""SELECT MIN(ABS(a.turn_idx - b.turn_idx)) AS dist
             |FROM turns a JOIN turns b ON a.conv_id = b.conv_id
             |WHERE a.text LIKE 'click#%' AND b.text LIKE 'error#%'""".stripMargin))
  )

  /** Q1 compute_stats (analysis.py:33-65), transcript domain: nodes =
    * turns, edges = turns − convs (chain adjacency), paths = components =
    * convs — the structural identities of the base conversation graph give
    * a shuffle-light exact plan (the generic component/degree kernels are
    * exercised against this oracle in ScalaTest).
    */
  private[graft] def qStats(s: SparkSession, dir: String): DataFrame = {
    val cs = T(s, dir).groupBy("conv_id").agg(count(lit(1)).as("n"))
    cs.agg(
        sum("n").cast("long").as("nodes"),
        (sum("n") - count(lit(1))).cast("long").as("edges"),
        count(lit(1)).as("paths"),
        count(lit(1)).as("components"),
        max(when(col("n") >= 3, 2).when(col("n") === 2, 1).otherwise(0))
          .as("max_degree"))
      .select(col("nodes"), col("edges"), col("paths"), col("components"),
        col("max_degree"),
        when(col("nodes") > 1,
             lit(2.0) * col("edges") / (col("nodes") * (col("nodes") - 1)))
          .otherwise(lit(0.0)).as("density"))
  }
}
