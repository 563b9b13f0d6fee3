package graft.gfa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Graph/matrix construction from parsed GFA records — the declarative
  * re-expression of the reference's single-pass builder loop
  * (reference: builders.py:130-300).
  *
  * Options mirror the reference CLI surface: `directed`, `bidirected` (+
  * `keepDirectedBidir`), `stripOrientation`, `weightTag`, `asymmetric`.
  */
final case class GfaOptions(
    directed: Boolean = true, // parse_gfa default (builders.py:32)
    bidirected: Boolean = false,
    keepDirectedBidir: Boolean = false,
    stripOrientation: Boolean = false,
    weightTag: Option[String] = None,
    asymmetric: Boolean = false) {
  /** builders.py:144: matrix mirrors entries unless effectively directed. */
  def graphDirected: Boolean = keepDirectedBidir || (!bidirected && directed)
}

object GfaGraph {

  /** Read GFA text with a stable per-line ordinal. File order is the
    * reference's implicit node-numbering order (builders.py:163), so the
    * ordinal must be deterministic: zipWithIndex over the text scan is a
    * narrow, deterministic op for a fixed file set (the one sanctioned RDD
    * use in this engine).
    */
  def readLines(spark: SparkSession, path: String): DataFrame = {
    val rdd = spark.read.textFile(path).rdd.zipWithIndex.map {
      case (v, i) => org.apache.spark.sql.Row(v, i)
    }
    spark.createDataFrame(rdd,
      StructType(Seq(StructField("value", StringType), StructField("lineno", LongType))))
  }

  /** All edge-bearing records (L ∪ E ∪ C) in one normalized shape:
    * (from_id, from_orient, to_id, to_orient, weight, lineno?).
    * Weight = numeric tag value when `weightTag` is set (builders.py:205-209).
    */
  private def rawEdges(lines: DataFrame, opts: GfaOptions): DataFrame = {
    val keep = Seq("from_id", "from_orient", "to_id", "to_orient", "tags") ++
      (if (lines.columns.contains("lineno")) Seq("lineno") else Nil)
    val parts = Seq(
      GfaParse.links(lines), GfaParse.gfa2Edges(lines), GfaParse.containments(lines))
      .map(df => df.select(keep.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*))
    val all = parts.reduce(_ unionByName _)
    val w = opts.weightTag
      .map(t => GfaParse.tagDouble(col("tags"), t))
      .getOrElse(lit(null).cast("double"))
    val stripped =
      if (opts.stripOrientation)
        all.withColumn("from_id", regexp_replace(col("from_id"), "[+-]+$", ""))
           .withColumn("to_id", regexp_replace(col("to_id"), "[+-]+$", ""))
      else all
    stripped.withColumn("weight", w)
  }

  private def bidirNode(id: Column, ori: Column): Column =
    concat(id, lit(":"), ori)
  private def flip(ori: Column): Column =
    when(ori === "+", lit("-")).otherwise(lit("+"))

  /** Resolve raw segment ids to graph node names. Bidirected graphs name
    * their nodes `id:+` / `id:-` (builders.py:167-178) and attach the same
    * payload to both orientations, so a raw id expands to both oriented
    * nodes (analysis-layer lookups would otherwise never intersect the
    * node set). Preserves all other columns; multiset rows stay multiset.
    */
  def orientedNodes(df: DataFrame, opts: GfaOptions,
                    nodeCol: String = "node"): DataFrame =
    if (!opts.bidirected) df
    else df.withColumn(nodeCol, explode(array(
      bidirNode(col(nodeCol), lit("+")), bidirNode(col(nodeCol), lit("-")))))

  /** Graph-view edge list (src, dst, weight) with the reference's node-id
    * conventions: bidirected synthesizes `id:ori` nodes and mirrors each
    * edge reverse-complemented unless keepDirectedBidir (G1-G2,
    * builders.py:231-256).
    */
  def edges(lines: DataFrame, opts: GfaOptions = GfaOptions()): DataFrame =
    edgesWithAttrs(lines, opts).select("src", "dst", "weight")

  /** [[edges]] plus the reference's graph edge attributes
    * (builders.py:236-245): `orientation_from`/`orientation_to` are
    * attached only on non-bidirected, non-stripped graphs (the reference
    * builds an empty attrs dict otherwise — on bidirected graphs the
    * orientation already lives in the `id:ori` node names), `tags` always
    * rides along. Callers that don't reference the attr columns pay
    * nothing: column pruning removes them from the scan.
    */
  def edgesWithAttrs(lines: DataFrame, opts: GfaOptions = GfaOptions()): DataFrame = {
    val raw = rawEdges(lines, opts)
    val oriKept = !opts.bidirected && !opts.stripOrientation
    val oFrom = (if (oriKept) col("from_orient") else lit(null).cast("string"))
      .as("orientation_from")
    val oTo = (if (oriKept) col("to_orient") else lit(null).cast("string"))
      .as("orientation_to")
    if (opts.bidirected && !opts.keepDirectedBidir)
      // forward + reverse-complement twin in one pass (explode, not a
      // second rawEdges scan); the twin carries the same attrs dict as
      // the reference's add_graph_edge mirror (builders.py:252-256)
      raw.select(explode(array(
          struct(bidirNode(col("from_id"), col("from_orient")).as("src"),
                 bidirNode(col("to_id"), col("to_orient")).as("dst"),
                 col("weight"), oFrom, oTo, col("tags")),
          struct(bidirNode(col("to_id"), flip(col("to_orient"))).as("src"),
                 bidirNode(col("from_id"), flip(col("from_orient"))).as("dst"),
                 col("weight"), oFrom, oTo, col("tags")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
                col("e.weight").as("weight"),
                col("e.orientation_from").as("orientation_from"),
                col("e.orientation_to").as("orientation_to"),
                col("e.tags").as("tags"))
    else if (opts.bidirected)
      raw.select(
        bidirNode(col("from_id"), col("from_orient")).as("src"),
        bidirNode(col("to_id"), col("to_orient")).as("dst"),
        col("weight"), oFrom, oTo, col("tags"))
    else
      raw.select(col("from_id").as("src"), col("to_id").as("dst"),
                 col("weight"), oFrom, oTo, col("tags"))
  }

  /** Node set: segment nodes (± bidirected duplication, G1) ∪ edge
    * endpoints (nx.add_edge implicitly creates nodes).
    */
  def nodes(lines: DataFrame, opts: GfaOptions = GfaOptions()): DataFrame = {
    val segs = GfaParse.segments(lines)
    val segNodes =
      if (opts.bidirected)
        segs.select(explode(array(
          bidirNode(col("id"), lit("+")), bidirNode(col("id"), lit("-"))))
          .as("node"))
      else segs.select(col("id").as("node"))
    val e = edges(lines, opts)
    segNodes
      .union(e.select(col("src").as("node")))
      .union(e.select(col("dst").as("node")))
      .distinct()
  }

  /** First-seen dense node index (A1; builders.py:190-198): nodes are
    * numbered by order of first appearance in the file — S records
    * register their node(s) at their line, edges register endpoints at
    * theirs. min(lineno, sub-position) per node → dense rank. This is the
    * exact distributed replacement for the insertion-ordered `node2idx`
    * dict and feeds the `.nodes.tsv` sidecar (S9).
    *
    * Requires `lines` from [[readLines]] (a `lineno` column).
    */
  def nodeIndex(lines: DataFrame, opts: GfaOptions = GfaOptions()): DataFrame = {
    require(lines.columns.contains("lineno"),
      "nodeIndex requires lines with a lineno column (use GfaGraph.readLines)")
    val segs = GfaParse.segments(lines)
    val segOcc =
      if (opts.bidirected)
        segs.select(
          posexplode(array(
            bidirNode(col("id"), lit("+")), bidirNode(col("id"), lit("-"))))
            .as(Seq("sub", "node")), col("lineno"))
          .select(col("node"), col("lineno"), col("sub"))
      else
        segs.select(col("id").as("node"), col("lineno"), lit(0).as("sub"))
    val rawE = rawEdges(lines, opts)
    val endpoints = {
      val src = if (opts.bidirected) bidirNode(col("from_id"), col("from_orient"))
                else col("from_id")
      val dst = if (opts.bidirected) bidirNode(col("to_id"), col("to_orient"))
                else col("to_id")
      val fwd = rawE.select(posexplode(array(src, dst)).as(Seq("sub", "node")),
                            col("lineno"))
        .select(col("node"), col("lineno"), col("sub"))
      if (opts.bidirected && !opts.keepDirectedBidir)
        fwd.union(
          rawE.select(posexplode(array(
            bidirNode(col("to_id"), flip(col("to_orient"))),
            bidirNode(col("from_id"), flip(col("from_orient")))))
            .as(Seq("sub0", "node")), col("lineno"))
            .select(col("node"), col("lineno"), (col("sub0") + 2).as("sub")))
      else fwd
    }
    val firstSeen = segOcc.union(endpoints)
      .groupBy("node")
      .agg(min(struct(col("lineno"), col("sub"))).as("first"))
    // scale-safe dense rank (same pattern as TurnGraph.nodeIndex): range
    // partition + sort + zipWithIndex prefix sums — never a global window
    val parted = firstSeen
      .select(col("node"), col("first.lineno").as("lineno"), col("first.sub").as("sub"))
      .repartitionByRange(col("lineno"), col("sub"), col("node"))
      .sortWithinPartitions("lineno", "sub", "node")
    val spark = lines.sparkSession
    val rdd = parted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), i)
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("node", StringType), StructField("idx", LongType))))
  }

  /** COO matrix entries (A2-A4; builders.py:216-230, 278-283): one row per
    * (row, col, weight) triplet; entries mirrored when the matrix view is
    * undirected (G3); duplicates preserved (scipy sums on CSR conversion —
    * call `.groupBy(row,col).sum` for the CSR view, A3).
    * When not asymmetric and the graph is directed, A = max(A, Aᵀ).
    */
  def cooMatrix(lines: DataFrame, opts: GfaOptions = GfaOptions()): DataFrame = {
    val idx = nodeIndex(lines, opts)
    val e = edges(lines, opts)
      .withColumn("weight", coalesce(col("weight"), lit(1.0)))
    val withIdx = e
      .join(idx.withColumnRenamed("node", "src").withColumnRenamed("idx", "row"), "src")
      .join(idx.withColumnRenamed("node", "dst").withColumnRenamed("idx", "col"), "dst")
      .select(col("row"), col("col"), col("weight"))
    val mirrored =
      if (!opts.graphDirected)
        withIdx.select(explode(array(
            struct(col("row"), col("col"), col("weight")),
            struct(col("col").as("row"), col("row").as("col"), col("weight"))))
            .as("e"))
          .select(col("e.row").as("row"), col("e.col").as("col"),
                  col("e.weight").as("weight"))
      else withIdx
    if (!opts.asymmetric && opts.graphDirected) {
      // scipy's coo.maximum(T) implicitly converts to CSR (summing
      // duplicate entries) before the element-wise max (utils.py:55,
      // builders.py:282-283) — mirror that order exactly. The element-wise
      // max also compares against IMPLICIT ZEROS: an entry present in only
      // one direction is max'd with 0, so a lone negative weight becomes
      // 0.0 (kept as an explicit-zero row here). explode + count, not a
      // self-union (which would recompute the aggregate twice).
      csrEntries(mirrored)
        .select(explode(array(
            struct(col("row"), col("col"), col("weight")),
            struct(col("col").as("row"), col("row").as("col"), col("weight"))))
          .as("e"))
        .select(col("e.row").as("row"), col("e.col").as("col"),
                col("e.weight").as("weight"))
        .groupBy("row", "col")
        .agg(max("weight").as("mx"), count(lit(1)).as("n"))
        .select(col("row"), col("col"),
          when(col("n") === 1, greatest(col("mx"), lit(0.0)))
            .otherwise(col("mx")).as("weight"))
    } else mirrored
  }

  /** CSR-semantics matrix: duplicate COO entries summed (utils.py:55). */
  def csrEntries(coo: DataFrame): DataFrame =
    coo.groupBy("row", "col").agg(sum("weight").as("weight"))

  /** Path count (A6; analysis.py:49-53): P and O records both count. */
  def pathCount(lines: DataFrame): Long =
    GfaParse.records(lines).where(col("rtype").isin("P", "O")).count()
}
