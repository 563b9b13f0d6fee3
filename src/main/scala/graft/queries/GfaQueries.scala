package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Transcripts
import graft.gfa.{GfaParse, SplitAlignment}
import graft.ops.{SessionCache, TurnGraph}
import Inputs._

/** The GFA parse, graph and split-alignment layers, driven by the turn
  * table rendered as GFA text.
  */
object GfaQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // GFA PARSE LAYER under the driver oracle: render the turn graph as
    // GFA text (S records carrying the turn text as sequence, L records
    // carrying the gap as an RC:i tag), parse it back through GfaParse
    // (S5 dispatch, P1 tab-split, P2 S-record disambiguation, P3 tag map,
    // P9 weight extraction), and aggregate — the oracle computes the same
    // totals directly from turns, so any parse-layer regression breaks
    // the hash match.
    QueryDef("q_gfa_stats",
      (s, dir) => {
        val t = T(s, dir)
        // a tab/newline inside text would shift the rendered S-record fields
        // and silently truncate the re-parsed sequence — surface it as an
        // error instead of an unexplained oracle hash mismatch
        val safeText = when(col("text").rlike("[\\t\\n\\r]"),
            raise_error(concat(lit("q_gfa_stats: text contains tab/newline in "),
                               col("conv_id"))).cast("string"))
          .otherwise(col("text"))
        val segLines = t.select(concat_ws("\t", lit("S"),
            TurnGraph.nodeId(col("conv_id"), col("turn_idx")), safeText)
          .as("value"))
        val linkLines = TurnGraph.edges(t).select(concat_ws("\t", lit("L"),
            TurnGraph.nodeId(col("conv_id"), col("src_idx")), lit("+"),
            TurnGraph.nodeId(col("conv_id"), col("dst_idx")), lit("+"),
            lit("0M"), concat(lit("RC:i:"), col("gap_us").cast("string")))
          .as("value"))
        val gfa = segLines.unionByName(linkLines)
        val segAgg = GfaParse.segments(gfa).agg(
          count(lit(1)).as("n_segments"),
          sum(length(col("sequence"))).cast("long").as("seq_bytes"))
        val linkAgg = GfaParse.links(gfa).agg(
          count(lit(1)).as("n_links"),
          sum(GfaParse.tagDouble(col("tags"), "RC")).as("total_weight"))
        segAgg.crossJoin(linkAgg)
      },
      tsql(""", e AS (
             |  SELECT date_diff('microsecond', ts, LEAD(ts) OVER w) AS gap_us
             |  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
             |  QUALIFY LEAD(turn_idx) OVER w IS NOT NULL)
             |SELECT (SELECT COUNT(*) FROM turns) AS n_segments,
             |       (SELECT CAST(SUM(LENGTH(text)) AS BIGINT) FROM turns) AS seq_bytes,
             |       COUNT(*) AS n_links,
             |       CAST(SUM(gap_us) AS DOUBLE) AS total_weight
             |FROM e""".stripMargin)),
    // S2 under the driver oracle: the GZIP-compressed text scan — render
    // the turn table as GFA S records, WRITE an actual .gz text file,
    // read it back through the compressed-scan path, parse, aggregate.
    // The oracle computes the same totals straight from turns, so a
    // regression anywhere in write→gzip→scan→parse breaks the hash.
    QueryDef("q_gfa_gz_stats",
      (s, dir) => {
        GfaParse.segments(s.read.text(gzSegLines(s, dir))).agg(
          count(lit(1)).as("n_segments"),
          sum(length(col("sequence"))).cast("long").as("seq_bytes"))
      },
      tsql("""SELECT COUNT(*) AS n_segments,
             |       CAST(SUM(LENGTH(text)) AS BIGINT) AS seq_bytes
             |FROM turns""".stripMargin)),
    // S6 under the driver oracle: unknown-record dispatch — one W record
    // (GFA1.1 walk: NOT in the reference's {S,L,P,E,C,O} dispatch set)
    // per conversation rides along with the S records and an H header;
    // the counted side output must see exactly the W rows (H/F are
    // silently skipped by contract).
    QueryDef("q_gfa_unknown",
      (s, dir) => {
        val t = T(s, dir)
        val segLines = t.select(concat_ws("\t", lit("S"),
            TurnGraph.nodeId(col("conv_id"), col("turn_idx")), col("text"))
          .as("value"))
        val wLines = t.select(col("conv_id")).distinct()
          .select(concat_ws("\t", lit("W"), col("conv_id"), lit("1")).as("value"))
        val hLine = s.range(1)
          .select(concat_ws("\t", lit("H"), lit("VN:Z:1.1")).as("value"))
        GfaParse.unknownRecords(segLines.unionByName(wLines).unionByName(hLine))
          .groupBy(col("rtype")).agg(count(lit(1)).as("n_records"))
      },
      tsql("""SELECT 'W' AS rtype, COUNT(DISTINCT conv_id) AS n_records
             |FROM turns HAVING COUNT(DISTINCT conv_id) > 0""".stripMargin)),
    // G5/G6/J2/A10/O1 under the driver oracle: split-on-alignment — each
    // restricted conversation becomes one segment (GFA2 length-form S
    // record, L = total text bytes) with E records aligning consecutive
    // turn spans at cumulative-length coordinates, so the breakpoint set
    // is exactly the cumulative sums and the sub-segment nodes are the
    // per-turn spans — which the oracle recomputes with a window sum. A
    // ghost-segment E per conversation exercises the rejects side output
    // without minting intervals (q_split_rejects).
    QueryDef("q_split_nodes",
      (s, dir) => splitResult(s, dir).nodes
        .select(col("node"), col("seg"), col("start"), col("end"),
                col("length")),
      tsql(""", c AS (
             |  SELECT conv_id,
             |         CAST(COALESCE(SUM(LENGTH(text)) OVER (
             |           PARTITION BY conv_id ORDER BY turn_idx
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |           AS INTEGER) AS a,
             |         CAST(LENGTH(text) AS INTEGER) AS len
             |  FROM turns WHERE conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%')
             |SELECT conv_id || ':' || CAST(a AS VARCHAR) || '-' ||
             |         CAST(a + len AS VARCHAR) AS node,
             |       conv_id AS seg, a AS start, a + len AS "end", len AS length
             |FROM c""".stripMargin)),
    QueryDef("q_split_edges",
      (s, dir) => splitResult(s, dir).edges
        .select(col("src"), col("dst"), col("from_orient"),
                col("to_orient"), col("kind")),
      tsql(""", c AS (
             |  SELECT conv_id, turn_idx,
             |         CAST(COALESCE(SUM(LENGTH(text)) OVER (
             |           PARTITION BY conv_id ORDER BY turn_idx
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |           AS INTEGER) AS a,
             |         CAST(LENGTH(text) AS INTEGER) AS len
             |  FROM turns WHERE conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%'),
             |p AS (
             |  SELECT conv_id, turn_idx,
             |         conv_id || ':' || CAST(a AS VARCHAR) || '-' ||
             |           CAST(a + len AS VARCHAR) AS src,
             |         LEAD(conv_id || ':' || CAST(a AS VARCHAR) || '-' ||
             |           CAST(a + len AS VARCHAR)) OVER
             |           (PARTITION BY conv_id ORDER BY turn_idx) AS dst
             |  FROM c),
             |fn AS (
             |  SELECT conv_id,
             |         conv_id || ':0-' || CAST(LENGTH(text) AS VARCHAR) AS fullnode
             |  FROM turns
             |  WHERE turn_idx = 0 AND (conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%')),
             |l AS (
             |  SELECT fullnode AS src,
             |         LEAD(fullnode) OVER (PARTITION BY substr(conv_id, 1, 2)
             |                              ORDER BY conv_id) AS dst
             |  FROM fn)
             |SELECT src, dst, '+' AS from_orient, '+' AS to_orient, k.kind
             |FROM p, (VALUES ('edge'), ('chain')) AS k(kind)
             |WHERE dst IS NOT NULL
             |UNION ALL
             |-- the C containment per multi-turn conversation rewires to the
             |-- same (full-span, second-interval) pair as the first E record
             |SELECT src, dst, '+', '+', 'edge' FROM p
             |WHERE turn_idx = 0 AND dst IS NOT NULL
             |UNION ALL
             |SELECT src, dst, '+', '+', 'link' FROM l WHERE dst IS NOT NULL""".stripMargin)),
    QueryDef("q_split_rejects",
      (s, dir) => splitResult(s, dir).rejectedEdges
        .agg(count(lit(1)).as("n_rejected")),
      tsql("""SELECT COUNT(DISTINCT conv_id) AS n_rejected
             |FROM turns WHERE conv_id LIKE 'c0d%' OR conv_id LIKE 'c1d%'""".stripMargin)),
    // A9 under the driver oracle: byte totals (sequence + typed-tag
    // payload) through the ACTUAL GfaAnalysis.byteTotals operator, over S
    // records carrying an LN:i tag — the oracle recomputes both sums
    // (tag map stores "TYPE:VALUE", so its byte length is 2 + digits).
    QueryDef("q_gfa_bytes",
      (s, dir) => {
        val t = T(s, dir)
        val segLines = t.select(concat_ws("\t", lit("S"),
            TurnGraph.nodeId(col("conv_id"), col("turn_idx")), col("text"),
            concat(lit("LN:i:"), length(col("text")).cast("string")))
          .as("value"))
        graft.gfa.GfaAnalysis.byteTotals(segLines)
      },
      tsql("""SELECT CAST(SUM(LENGTH(text)) AS BIGINT) AS seq_bytes_total,
             |       CAST(SUM(2 + LENGTH(CAST(LENGTH(text) AS VARCHAR))) AS BIGINT)
             |         AS tags_bytes_total
             |FROM turns""".stripMargin)),
    // P13 under the driver oracle: the malformed-record side output — a
    // truncated L record (3 fields < the required 5) per conversation
    // rides along with well-formed S records; the permissive-mode rejects
    // stream must count exactly those.
    QueryDef("q_gfa_malformed",
      (s, dir) => {
        val t = T(s, dir)
        val segLines = t.select(concat_ws("\t", lit("S"),
            TurnGraph.nodeId(col("conv_id"), col("turn_idx")), col("text"))
          .as("value"))
        val badLines = t.select(col("conv_id")).distinct()
          .select(concat_ws("\t", lit("L"), col("conv_id"), lit("+")).as("value"))
        GfaParse.malformedRecords(segLines.unionByName(badLines))
          .groupBy(col("rtype")).agg(count(lit(1)).as("n_records"))
      },
      tsql("""SELECT 'L' AS rtype, COUNT(DISTINCT conv_id) AS n_records
             |FROM turns HAVING COUNT(DISTINCT conv_id) > 0""".stripMargin)),
    // G2/P7/P8 under the driver oracle: bidirected node synthesis + edge
    // mirroring — conversation-chain L records carry role-derived
    // orientations; GfaGraph.edges(bidirected) must emit the forward
    // `u:o1 → v:o2` AND the reverse-complement twin
    // `v:flip(o2) → u:flip(o1)` for every link, which the oracle rebuilds
    // from turn parity (role alternates with turn_idx).
    QueryDef("q_gfa_bidir",
      (s, dir) => {
        val t = Transcripts.fromEvents(
          s.read.parquet(s"$dir/events.parquet").where(col("user_id") < 10))
        val sLines = t.select(concat_ws("\t", lit("S"),
          TurnGraph.nodeId(col("conv_id"), col("turn_idx")), col("text"))
          .as("value"))
        val ori = (r: org.apache.spark.sql.Column) =>
          when(r === "user", lit("+")).otherwise(lit("-"))
        val e = TurnGraph.edges(t)
        val lLines = e.select(concat_ws("\t", lit("L"),
          TurnGraph.nodeId(col("conv_id"), col("src_idx")), ori(col("src_role")),
          TurnGraph.nodeId(col("conv_id"), col("dst_idx")), ori(col("dst_role")),
          lit("0M")).as("value"))
        graft.gfa.GfaGraph.edges(sLines.unionByName(lLines),
            graft.gfa.GfaOptions(bidirected = true))
          .select(col("src"), col("dst"))
      },
      tsql(""", p AS (
             |  SELECT conv_id, turn_idx AS k, LEAD(turn_idx) OVER w AS k2
             |  FROM turns WHERE regexp_matches(conv_id, '^c[0-9]d')
             |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
             |  QUALIFY LEAD(turn_idx) OVER w IS NOT NULL)
             |SELECT conv_id || ':' || CAST(k AS VARCHAR) || ':' ||
             |         CASE WHEN k % 2 = 0 THEN '+' ELSE '-' END AS src,
             |       conv_id || ':' || CAST(k2 AS VARCHAR) || ':' ||
             |         CASE WHEN k2 % 2 = 0 THEN '+' ELSE '-' END AS dst
             |FROM p
             |UNION ALL
             |SELECT conv_id || ':' || CAST(k2 AS VARCHAR) || ':' ||
             |         CASE WHEN k2 % 2 = 0 THEN '-' ELSE '+' END,
             |       conv_id || ':' || CAST(k AS VARCHAR) || ':' ||
             |         CASE WHEN k % 2 = 0 THEN '-' ELSE '+' END
             |FROM p""".stripMargin)),
    // G4/P10 under the driver oracle: P-record parse — each conversation
    // rendered as one P line (ordered oriented members, orientation from
    // the role), parsed back through paths→posexplode; every (name, pos,
    // seg, ori) row must equal the turns-derived truth, so member-list
    // splitting, orientation stripping, and ordering are all hash-checked.
    QueryDef("q_gfa_paths",
      (s, dir) => {
        val t = T(s, dir)
        val entry = concat(
          TurnGraph.nodeId(col("conv_id"), col("turn_idx")),
          when(col("role") === "user", lit("+")).otherwise(lit("-"))).as("e")
        val pLines = t
          .groupBy("conv_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("turn_idx"), entry))),
                      x => x.getField("e")), ",").as("members"))
          .select(concat_ws("\t", lit("P"), col("conv_id"), col("members"),
                            lit("*")).as("value"))
        GfaParse.pathMembers(pLines)
          .select(col("name"), col("pos"), col("seg"), col("ori"))
      },
      tsql("""SELECT conv_id AS name, turn_idx AS pos,
             |       conv_id || ':' || CAST(turn_idx AS VARCHAR) AS seg,
             |       CASE WHEN role = 'user' THEN '+' ELSE '-' END AS ori
             |FROM turns""".stripMargin))
  )

  /** One [[SplitAlignment]] construction per (session, dir), shared by
    * the three q_split_* queries. The rendered lines are materialized
    * first: the construction reads them several times (segments, E/C
    * edges, links), and each read would otherwise re-run the whole
    * rank-window rendering DAG.
    */
  private val splitResults = new SessionCache[String, SplitAlignment.Result]

  private def splitResult(s: SparkSession, dir: String): SplitAlignment.Result =
    splitResults(s, dir)(SplitAlignment(splitGfaLines(s, dir).localCheckpoint(true)))

  /** GFA text for the split-alignment oracles: users 0-1's conversations
    * as GFA2 length-form segments (`S conv L`, L = total text bytes),
    * one coordinate E record per adjacent turn pair (from-span = the
    * earlier turn's [cum, cum+len), to-span = the later turn's), and one
    * E per conversation targeting an undeclared ghost segment (a reject
    * by the reference's mapping-KeyError rule, builders.py:385-394,
    * which must NOT mint intervals).
    */
  private def splitGfaLines(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Transcripts.fromEvents(
      s.read.parquet(s"$dir/events.parquet").where(col("user_id").isin(0L, 1L)))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val cums = t
      .select(col("conv_id"), col("turn_idx"), length(col("text")).as("len"))
      .withColumn("cum0",
        coalesce(sum("len").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                 lit(0)).cast("long"))
      .withColumn("cum1", col("cum0") + col("len"))
    val totals = cums.groupBy("conv_id").agg(max("cum1").as("total"))
    val sLines = totals
      .select(concat_ws("\t", lit("S"), col("conv_id"), col("total"))
        .as("value"))
    val nxt = cums
      .withColumn("ncum0", lead("cum0", 1).over(w))
      .withColumn("ncum1", lead("cum1", 1).over(w))
    val eLines = nxt.where(col("ncum0").isNotNull)
      .select(concat_ws("\t", lit("E"), lit("*"),
        concat(col("conv_id"), lit("+")), col("cum0"), col("cum1"),
        concat(col("conv_id"), lit("+")), col("ncum0"), col("ncum1"),
        lit("*")).as("value"))
    val ghostLines = cums.where(col("turn_idx") === 0)
      .select(concat_ws("\t", lit("E"), lit("*"),
        concat(col("conv_id"), lit("+")), lit(0), col("cum1"),
        lit("zz_ghost+"), lit(0), lit(5), lit("*")).as("value"))
    // one coordinate-full C (containment) record per multi-turn
    // conversation: the second turn-span contained in the full segment —
    // rewires to (full-span node, second interval), which equals the
    // first E pair's row, so the oracle just duplicates that row (the C
    // parse path and the (0, L) → full-node mapping override both ride
    // the hash compare)
    val cLines = nxt.where(col("turn_idx") === 0 && col("ncum0").isNotNull)
      .join(totals, Seq("conv_id"))
      .select(concat_ws("\t", lit("C"), lit("*"),
        concat(col("conv_id"), lit("+")), lit(0), col("total"),
        concat(col("conv_id"), lit("+")), col("ncum0"), col("ncum1"),
        lit("*")).as("value"))
    // L records between a user's consecutive conversations (J3: links
    // rewire to FULL-SPAN nodes, here = the first interval conv:0-len₀);
    // window partitioned by the user prefix — no global window. BOTH L
    // syntaxes are exercised (P4): user 0's links in explicit-orientation
    // form, user 1's in id-suffix form (padded to the required 5 fields
    // with a tag) — the parse must land both on the identical oracle rows.
    val wl = Window.partitionBy(substring(col("conv_id"), 1, 2))
      .orderBy("conv_id")
    val lLines = cums.select("conv_id").distinct()
      .withColumn("nconv", lead("conv_id", 1).over(wl))
      .where(col("nconv").isNotNull)
      .select(
        when(substring(col("conv_id"), 2, 1) === "0",
          concat_ws("\t", lit("L"), col("conv_id"), lit("+"),
            col("nconv"), lit("+"), lit("0M")))
        .otherwise(
          concat_ws("\t", lit("L"), concat(col("conv_id"), lit("+")),
            concat(col("nconv"), lit("+")), lit("0M"), lit("XX:i:1")))
        .as("value"))
    sLines.unionByName(eLines).unionByName(ghostLines).unionByName(cLines)
      .unionByName(lLines)
  }

  /** S2's real write→gzip→scan round trip input, written ONCE per
    * (session, sf) to a FIXED per-sf path (mode=overwrite) — the previous
    * shape minted a fresh java.nio temp dir per invocation (3 bench reps
    * + every verify run) and never deleted it, accumulating unbounded
    * /tmp usage across rounds; a fixed overwritten path bounds disk to
    * one copy per sf tag while still exercising the actual gzip write +
    * compressed-scan path on the first call of each session.
    */
  private val gzPaths = new SessionCache[String, String]

  private def gzSegLines(s: SparkSession, dir: String): String =
    gzPaths(s, dir) {
      val tag = new java.io.File(dir).getName
      val tmp = s"/tmp/graft_gz/$tag/gfa"
      T(s, dir).select(concat_ws("\t", lit("S"),
          TurnGraph.nodeId(col("conv_id"), col("turn_idx")), col("text"))
        .as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(tmp)
      tmp
    }
}
