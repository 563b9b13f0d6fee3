package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Generic distributed graph kernels over edge DataFrames (src:string,
  * dst:string[, weight:double]). Used both by the GFA-semantics layer and
  * by the transcript graph; no driver-side adjacency is ever materialized.
  */
object Graph {

  /** Frontier-broadcast threshold for the iterative kernels (rows): a
    * frontier at or below this is build-side-broadcast in the per-round
    * joins, so the persisted adjacency is never re-shuffled. ~60 B/row →
    * ≤ ~60 MB broadcast. Above it the kernels fall back to shuffle joins
    * (the 100-TB wide-frontier path).
    */
  val BroadcastFrontierRows: Long = 1000000L

  /** Eager lineage barrier for the iterative driver loops that ALSO
    * resets plan statistics: localCheckpoint preserves the checkpointed
    * plan's size estimate, and a kernel that self-joins its state every
    * round squares that estimate per round — double-exponential growth
    * that overflows BigInteger in the size-only stats visitor after ~30
    * rounds (first hit by a 60-round weighted relaxation). freshLeaf
    * rebuilds a default-stats leaf over the materialized RDD.
    */
  private def ckpt(df: DataFrame): DataFrame =
    Bridge.freshLeaf(df.localCheckpoint(true))

  /** Rows-per-shuffle-partition target for the iterative kernels: their
    * per-round relations (frontier / label tables) are usually far
    * smaller than the session's batch-analytics parallelism assumes, and
    * every round re-pays per-task scheduling for each idle partition.
    */
  val LoopRowsPerPartition: Long = 65536L

  /** Shared rows→partitions derivation of [[inLoopSession]]/[[loopCompact]]
    * — one definition so the loop's shuffle parallelism can never
    * disagree with the compacted cached relation's layout.
    */
  private def loopTarget(spark: SparkSession, rows: Long): (Int, Int) = {
    val default = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.min(default.toLong,
      math.max(1L, (rows + LoopRowsPerPartition - 1) / LoopRowsPerPartition))
      .toInt
    (target, default)
  }

  /** Run an iterative kernel's driver loop with its per-round shuffle
    * parallelism derived from the MEASURED graph size instead of the
    * session default (guide §2: scale-adaptive partitioning, not a
    * constant). In the tiny regime AQE is also disabled for the loop:
    * each AQE query-stage materialization is a separate job, and a
    * 3-round loop over a dimension-sized graph was measured at ~39 jobs —
    * per-round fixed overhead, not compute. Graphs big enough to need ≥
    * the session parallelism run untouched (AQE coalescing/skew handling
    * stay in force on the 100-TB path). Otherwise `body` gets a
    * [[Bridge.child]] carrying the override and must [[Bridge.rebind]]
    * every relation the loop reads into it; the result is rebound to the
    * caller, so plans built on it keep the caller's conf.
    */
  private def inLoopSession(spark: SparkSession, rows: Long)(
      body: SparkSession => DataFrame): DataFrame = {
    val (target, default) = loopTarget(spark, rows)
    val ls = if (target >= default) spark
      else Bridge.child(spark, Seq("spark.sql.shuffle.partitions" -> target.toString) ++
        (if (target <= 8) Seq("spark.sql.adaptive.enabled" -> "false") else Nil): _*)
    Bridge.rebind(body(ls), spark)
  }

  /** Narrow a small ALREADY-MATERIALIZED cached relation to the loop's
    * partition target: the per-round joins probe it once per round, and a
    * cached 32-partition layout of a dimension-sized table costs 32 task
    * launches per probe. No-op above the target.
    */
  private def loopCompact(spark: SparkSession, df: DataFrame,
                          rows: Long): DataFrame = {
    val (target, default) = loopTarget(spark, rows)
    if (target >= default) df else df.coalesce(target)
  }

  /** Undirected view: each edge plus its reverse in one pass (explode —
    * a self-union would recompute the upstream twice), dedup'd.
    */
  def undirected(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Per-node degree (A7), matching nx semantics on simple graphs:
    * undirected = distinct-neighbor count; directed = in-degree +
    * out-degree over distinct (src, dst) edges. Classic partial+final
    * hash aggregate either way.
    */
  def degrees(edges: DataFrame, directed: Boolean = false): DataFrame =
    if (directed) {
      val d = edges.select("src", "dst").distinct()
      d.select(col("src").as("node"))
        .union(d.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
    } else
      undirected(edges).groupBy("src").agg(count(lit(1)).as("degree"))
        .withColumnRenamed("src", "node")

  /** Distinct edge count under nx add_edge-overwrite semantics: directed
    * counts distinct ordered pairs; undirected distinct unordered pairs.
    */
  def edgeCount(edges: DataFrame, directed: Boolean): Long =
    if (directed) edges.select("src", "dst").distinct().count()
    else edges.select(least(col("src"), col("dst")).as("a"),
                      greatest(col("src"), col("dst")).as("b"))
      .distinct().count()

  /** Node-count threshold for the components fast path: at or below it
    * the loop runs directly on node strings with the label table
    * broadcast each round (dimension-sized graphs skip the id-indexing
    * pass entirely); above it, labels are dense lexicographic-rank longs
    * — per-round shuffles then carry 16-byte rows and compare longs.
    */
  val CcSmallGraphNodes: Long = 200000L

  /** Connected-component count via iterative min-label propagation (A8;
    * reference: nx.number_connected_components, analysis.py:54).
    *
    * Each round: every node adopts min(own label, neighbor labels);
    * converges in O(diameter) rounds. `localCheckpoint` truncates lineage
    * per round so plans stay bounded. Nodes with no edges count as
    * singleton components (pass `allNodes` to include isolated nodes).
    */
  def connectedComponents(edges: DataFrame, allNodes: Option[DataFrame] = None,
                          maxIter: Int = 200): DataFrame = {
    val spark = edges.sparkSession
    val undStr = undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val nodesStr = allNodes
      .map(_.select(col("node")))
      .getOrElse(undStr.select(col("src").as("node")).distinct())
    val allStr = nodesStr
      .union(undStr.select(col("src").as("node"))).distinct()
    val nNodes = allStr.count()
    // undStr is materialized by the count above, so this second count is
    // a cached-block pass; the loop scope must track edges too (a dense
    // small-node graph can still carry a large edge set)
    val nEdges = undStr.count()
    val loopRows = math.max(nNodes, nEdges)
    if (nNodes <= CcSmallGraphNodes) {
      // SMALL-GRAPH PATH: string labels, per-round broadcast of the
      // node-sized label table (the edge set never re-shuffles). A
      // per-round broadcast of a ~1M-row table was measured to cost more
      // (driver collect + hashmap build each round) than it saves, hence
      // the cap.
      val r = inLoopSession(spark, loopRows) { ls =>
        ccLoop(loopCompact(spark, Bridge.rebind(undStr, ls), loopRows),
               Bridge.rebind(allStr, ls), bcastLabels = true, maxIter)
      }
      undStr.unpersist(blocking = false)
      r
    } else {
      // LARGE-GRAPH PATH: the loop runs on DENSE LONG IDS — per-round
      // shuffles carry 16-byte rows instead of string pairs. The ids are
      // the LEXICOGRAPHIC RANKS of the node strings: convergence round
      // count is sensitive to the label ordering (measured: arbitrary
      // hash-order ids crawled 60+ rounds on inputs where rank ids
      // converge in ~14, exactly like the string labels whose comparisons
      // they reproduce), and the final representative is re-derived as
      // the min node STRING per component (the reference's semantics)
      // regardless of which internal label won.
      val idMap = spark.createDataFrame(
        allStr.orderBy("node").rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getString(0), i)
        },
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val und = undStr
        .join(idMap.select(col("node").as("src"), col("id").as("src_id")), "src")
        .join(idMap.select(col("node").as("dst"), col("id").as("dst_id")), "dst")
        .select(col("src_id").as("src"), col("dst_id").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      und.count()
      undStr.unpersist(blocking = false)
      try inLoopSession(spark, loopRows) { ls =>
        val ids = Bridge.rebind(idMap, ls)
        val labels = ccLoop(loopCompact(spark, Bridge.rebind(und, ls), loopRows),
                            ids.select(col("id").as("node")),
                            bcastLabels = false, maxIter)
        // map internal ids back to node strings and re-derive each
        // component's representative as its minimum node string
        val out = labels
          .join(ids.select(col("id"), col("node").as("node_str")),
                labels("node") === col("id"))
          .select(col("node_str").as("node"), col("label").as("ilabel"))
        val rep = out.groupBy("ilabel").agg(min("node").as("label"))
        out.join(rep, "ilabel").select(col("node"), col("label"))
          .transform(ckpt)
      } finally {
        und.unpersist(blocking = false)
        idMap.unpersist(blocking = false)
      }
    }
  }

  /** The min-label-propagation + pointer-jumping loop, label-type
    * agnostic (strings on the small path, rank longs on the large one).
    */
  private def ccLoop(und: DataFrame, nodes: DataFrame, bcastLabels: Boolean,
                     maxIter: Int): DataFrame = {
    val labelType = nodes.schema("node").dataType.sql
    def maybeBcast(df: DataFrame): DataFrame =
      if (bcastLabels) broadcast(df) else df
    // localCheckpoint RETURNS the truncated Dataset (side-effect-free on
    // the receiver) — always rebind, or lineage grows per round and the
    // discarded checkpoint blocks leak.
    var labels = nodes.select(col("node"), col("node").as("label"))
      .transform(ckpt)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // step 1: candidate label per node = min over neighbors' labels.
      // The node's previous label rides the SAME aggregate as a
      // max-ignoring-nulls column (each node appears in `labels` exactly
      // once), so convergence detection below needs no extra join —
      // the old per-round join-count job was pure fixed overhead.
      val viaNeighbors = und
        .join(maybeBcast(labels.withColumnRenamed("node", "dst_n")),
              col("dst") === col("dst_n"))
        .select(col("src").as("node"), col("label"),
                lit(null).cast(labelType).as("old"))
      val relaxed0 = labels
        .select(col("node"), col("label"), col("label").as("old"))
        .union(viaNeighbors)
        .groupBy("node").agg(min("label").as("label"), max("old").as("old"))
      // The pointer-jump below is a self-join. On the SHUFFLE path both
      // sides would recompute the edge join + aggregate without a barrier
      // (measured ~2× the round cost on a 1M-node graph) — materialize
      // once. On the BROADCAST path the build side shares the probe
      // side's shuffle via ReuseExchange (only the final tiny aggregate
      // re-runs), so the extra per-round checkpoint job is pure fixed
      // overhead — skip it.
      val relaxed = if (bcastLabels) relaxed0 else relaxed0.transform(ckpt)
      // step 2: pointer jumping — adopt the label of one's label node
      // (path compression): turns O(diameter) convergence into
      // O(log diameter), which long chain graphs require
      val jumped = relaxed.as("a")
        .join(maybeBcast(
                relaxed.select(col("node").as("l_node"), col("label").as("l_label"))),
              col("a.label") === col("l_node"), "left")
        .select(col("a.node").as("node"),
                least(col("a.label"), coalesce(col("l_label"), col("a.label")))
                  .as("label"),
                col("a.old").as("old"))
      val next = jumped.transform(ckpt)
      // shuffle-free count over the just-materialized blocks
      changed = next.where(col("label") =!= col("old")).count()
      labels = next.select("node", "label")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing); raise maxIter")
    labels
  }

  /** Multi-source BFS / uniform-weight Dijkstra (Q2/Q3 core;
    * reference: nx.multi_source_dijkstra_path_length, analysis.py:109).
    *
    * `seeds`: (node, tag) — frontier label per source group (e.g. the
    * path/conversation name); returns (tag, node, dist) = shortest hop
    * distance from any seed with that tag. One pass computes ALL tags at
    * once — the Spark translation of the reference's per-path Dijkstra
    * cache (A12, analysis.py:235-239): compute once, reuse for O(P²) pairs.
    */
  def multiSourceBfs(edges: DataFrame, seeds: DataFrame,
                     directed: Boolean = false, maxIter: Int = 512)
      : DataFrame =
    multiSourceBfsUntil(edges, seeds, stopSet = None, directed, maxIter)

  /** BFS with optional early termination: when `stopSet` is given, the
    * loop ends on the first round whose frontier touches it — BFS explores
    * in nondecreasing depth, so the first touch IS the minimum distance
    * (the reference's Dijkstra similarly resolves targets as popped).
    * On a large-diameter graph this turns min-distance queries from
    * O(eccentricity) rounds into O(answer) rounds.
    */
  def multiSourceBfsUntil(edges: DataFrame, seeds: DataFrame,
                          stopSet: Option[DataFrame],
                          directed: Boolean = false, maxIter: Int = 512)
      : DataFrame = {
    // pre-partitioned on the join key: each round's frontier⋈adj then
    // shuffles ONLY the frontier (the cached relation's hash partitioning
    // satisfies the join's distribution requirement) — re-shuffling the
    // full edge set per round was the dominant per-round cost
    val adjFull = (if (directed) edges.select("src", "dst") else undirected(edges))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nAdj = adjFull.count()
    val spark = edges.sparkSession
    inLoopSession(spark, nAdj) { ls =>
    val adj = loopCompact(spark, Bridge.rebind(adjFull, ls), nAdj)
    var dist = Bridge.rebind(seeds, ls)
      .select(col("tag"), col("node"), lit(0L).as("dist"))
      .distinct().transform(ckpt)
    val stop = stopSet.map(Bridge.rebind(_, ls))
    def hitStop(frontierDf: DataFrame): Boolean = stop.exists(s =>
      !frontierDf.join(s.select(col("node")), Seq("node"), "left_semi")
        .limit(1).isEmpty)
    var frontier = dist
    // the previous round's delta — on an undirected graph an expansion
    // of frontier F_d can only touch nodes at distance d−1, d, or d+1
    // (per tag; hop distance changes by at most 1 across an undirected
    // edge), so "already seen" is exactly F_{d−1} ∪ F_d: the anti-join
    // reads TWO frontier-sized deltas instead of the full accumulated
    // state — per-round work is O(frontier neighborhood), independent of
    // how much state has accumulated, and the plan shape is constant
    // across rounds (codegen/plan caches hit). A directed edge breaks
    // the ±1 bound (a long path can re-reach a short-path node), so the
    // directed variant anti-joins the full state union.
    var prev = dist.limit(0)
    var prevSize = 0L
    var iter = 0
    var frontierSize = frontier.count()
    var done = hitStop(frontier)
    while (!done && frontierSize > 0 && iter < maxIter) {
      val curSize = frontierSize
      // the frontier size is known EXACTLY (counted last round) — while
      // it fits a broadcast, build-side-broadcast both per-round joins so
      // the persisted adjacency is never shuffled (each round is then one
      // narrow pass over the cached edge partitions + one
      // neighborhood-sized shuffle for the dedup aggregate). Frontiers
      // beyond the threshold fall back to shuffle joins.
      val f = if (curSize <= BroadcastFrontierRows) broadcast(frontier)
              else frontier
      val expanded = f
        .join(adj, f("node") === adj("src"))
        .select(col("tag"), col("dst").as("node"), (col("dist") + 1).as("dist"))
      val seenBase = if (directed) dist else prev.union(frontier)
      // the seen set is prev ∪ frontier — BOTH counted sizes gate its
      // broadcast (a collapsing frontier after a huge round must not
      // force last round's 50M-row delta into a broadcast)
      val seen =
        if (!directed && prevSize + curSize <= BroadcastFrontierRows)
          broadcast(seenBase)
        else seenBase
      // keep only strictly new (tag, node) pairs
      val newFrontier = expanded
        .join(seen.select(col("tag").as("t2"), col("node").as("n2")),
              col("tag") === col("t2") && col("node") === col("n2"), "left_anti")
        .groupBy("tag", "node").agg(min("dist").as("dist"))
        .transform(ckpt)
      frontierSize = newFrontier.count()
      if (frontierSize > 0)
        // INCREMENTAL state: only the frontier delta was checkpointed
        // above; `dist` stays a lazy union of the per-round delta leaves
        // (deltas are disjoint by the anti-join, so no dedup is needed).
        // Re-materializing the full state here was O(rounds × state)
        // checkpoint I/O — the dominant fixed cost of deep traversals.
        dist = dist.union(newFrontier)
      // bound the union's leaf fan-in on large-diameter graphs: every 16
      // rounds for the directed variant (its anti-join replans over the
      // union each round), every 64 for undirected (the union is only
      // consumed once, at the end)
      if (iter % (if (directed) 16 else 64) == (if (directed) 15 else 63))
        dist = dist.transform(ckpt)
      prev = frontier
      prevSize = curSize
      frontier = newFrontier
      done = hitStop(frontier)
      iter += 1
    }
    adjFull.unpersist(blocking = false)
    // silent truncation would be indistinguishable from NoPath (absent
    // row) — the reference's Dijkstra is exact, so surface it instead
    if (!done && frontierSize > 0)
      throw new IllegalStateException(
        s"multiSourceBfs frontier still non-empty after $maxIter rounds " +
        s"($frontierSize nodes); raise maxIter")
    dist
    }
  }

  /** Shortest distance between two node MULTISETS (Q3,
    * analysis.py:116-161). `min`: one multi-source BFS from A, min over B
    * (the reference's multi_source_dijkstra; multiplicity is
    * distance-neutral). `mean`: average over all REACHABLE (u, v) PAIRS —
    * the reference loops pairwise over the raw lists
    * (analysis.py:148-158), so a node appearing twice in a set weights
    * its pairs twice; here one BFS labeled per DISTINCT source node
    * computes every d(u, ·) once and the multiplicities re-weight the
    * average (the O(|A|·|B|) quadratic-cost warning applies to labels,
    * not rounds). `weighted` routes to the Dijkstra analog, matching the
    * reference's always-on weight="weight". No row / null = NoPath.
    */
  def setDistance(edges: DataFrame, setA: DataFrame, setB: DataFrame,
                  method: String = "min", directed: Boolean = false,
                  weighted: Boolean = false)
      : DataFrame = method match {
    case "min" =>
      val d =
        if (weighted)
          weightedMultiSourceDist(
            edges, setA.select(lit("a").as("tag"), col("node")), directed,
            stopSet = Some(setB))
        else
          multiSourceBfsUntil(edges, setA.select(lit("a").as("tag"), col("node")),
                              stopSet = Some(setB), directed)
      d.join(setB.select(col("node")).distinct(), Seq("node"), "left_semi")
        .agg(min("dist").as("dist"))
    case "mean" =>
      val cntA = setA.groupBy("node").agg(count(lit(1)).as("cnt_a"))
        .withColumnRenamed("node", "tag")
      val cntB = setB.groupBy("node").agg(count(lit(1)).as("cnt_b"))
      val seeds = setA.select(col("node").as("tag"), col("node")).distinct()
      val d = if (weighted) weightedMultiSourceDist(edges, seeds, directed)
              else multiSourceBfs(edges, seeds, directed)
      d.join(cntB, Seq("node"))
        .join(cntA, Seq("tag"))
        .agg((sum(col("dist").cast("double") * col("cnt_a") * col("cnt_b")) /
              sum(col("cnt_a") * col("cnt_b"))).as("dist"))
    case other => throw new IllegalArgumentException(s"method: $other")
  }

  /** Weighted multi-source shortest path (the Dijkstra analog the
    * reference gets from weight="weight"; absent weight = 1.0). Iterative
    * label-correcting relaxation on DataFrames: each round extends every
    * improved frontier by one edge; converges once no (tag, node) improves.
    *
    * `stopSet` enables Dijkstra-style early termination for min-distance
    * queries: with non-negative weights, once the best distance reached
    * into the stop set is ≤ the minimum distance on the improving
    * frontier, no future relaxation can beat it (any extension costs at
    * least the frontier minimum) — so the loop ends with the stop-set
    * distances already exact. Large-diameter graphs then run O(answer
    * depth) rounds instead of O(eccentricity).
    */
  def weightedMultiSourceDist(edges: DataFrame, seeds: DataFrame,
                              directed: Boolean = false,
                              maxIter: Int = 512,
                              stopSet: Option[DataFrame] = None): DataFrame = {
    val w = coalesce(col("weight").cast("double"), lit(1.0)).as("w")
    val adjBase = edges.select(col("src"), col("dst"), w)
    val adjFull = (if (directed) adjBase
               else adjBase.union(
                 edges.select(col("dst").as("src"), col("src").as("dst"), w)))
      .repartition(col("src")) // see multiSourceBfsUntil: frontier-only shuffles
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nAdj = adjFull.count()
    val spark = edges.sparkSession
    inLoopSession(spark, nAdj) { ls =>
    val adj = loopCompact(spark, Bridge.rebind(adjFull, ls), nAdj)
    // INCREMENTAL state: `dist` is a lazy union of checkpointed
    // improvement deltas — later deltas strictly beat earlier entries for
    // the same (tag, node), so the current best is min-over-union and the
    // exact table is only aggregated once, at the end (and at the
    // periodic compactions that bound plan depth). The old formulation
    // full-outer-joined and re-checkpointed the ENTIRE dist table every
    // round: O(rounds × state) shuffle+checkpoint I/O.
    var dist = Bridge.rebind(seeds, ls)
      .select(col("tag"), col("node"), lit(0.0).as("dist"))
      .distinct().transform(ckpt)
    def bestDist(): DataFrame =
      dist.groupBy("tag", "node").agg(min("dist").as("dist"))
    var frontier = dist
    var iter = 0
    var frontierSize = frontier.count()
    // per-tag termination rule: a tag is settled once its best stop-set
    // distance is ≤ its frontier minimum (non-negative weights: every
    // extension costs at least the frontier minimum); done when no tag
    // still has frontier work that could beat its stop-set best. With
    // stopSet, ONLY stop-set rows are guaranteed final in the result.
    val stop = stopSet.map(Bridge.rebind(_, ls))
    def settled(): Boolean = stop.exists { ss =>
      val stopMin = dist
        .join(ss.select(col("node")), Seq("node"), "left_semi")
        .groupBy("tag").agg(min("dist").as("sm"))
      frontier.groupBy("tag").agg(min("dist").as("fm"))
        .join(stopMin, Seq("tag"), "left")
        .where(col("sm").isNull || col("fm") < col("sm"))
        .limit(1).isEmpty
    }
    var done = frontierSize > 0 && settled()
    while (!done && frontierSize > 0 && iter < maxIter) {
      // small improving frontiers broadcast (size known from last
      // round's count) — the cached adjacency never re-shuffles; see
      // multiSourceBfsUntil
      val f = if (frontierSize <= BroadcastFrontierRows) broadcast(frontier)
              else frontier
      val candidates = f.join(adj, f("node") === adj("src"))
        .select(col("tag"), col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("tag", "node").agg(min("dist").as("dist"))
      // a candidate improves iff NO existing entry is already ≤ it —
      // one anti-join against the raw delta union, no aggregation of the
      // full state on the per-round path
      val improved = candidates.as("c")
        .join(dist.as("d"),
              col("c.tag") === col("d.tag") && col("c.node") === col("d.node") &&
              col("d.dist") <= col("c.dist"),
              "left_anti")
        .select(col("tag"), col("node"), col("dist"))
        .transform(ckpt)
      frontierSize = improved.count()
      if (frontierSize > 0) dist = dist.union(improved)
      if (iter % 8 == 7) dist = bestDist().transform(ckpt)
      frontier = improved
      iter += 1
      done = frontierSize > 0 && settled()
    }
    adjFull.unpersist(blocking = false)
    if (!done && frontierSize > 0)
      throw new IllegalStateException(
        s"weightedMultiSourceDist still improving after $maxIter rounds " +
        s"($frontierSize labels); raise maxIter")
    bestDist()
    }
  }

  /** All-pairs group distance matrix (Q4, analysis.py:180-272): one
    * BFS labeled by group computes dist(group, node) for every group at
    * once; pairing that against group membership yields the full long-form
    * matrix (group_a, group_b, dist) — the distributed form of the
    * reference's per-path Dijkstra cache, ≥4× faster than naive pairwise.
    *
    * `membership` is a MULTISET (tag, node) — paths may visit a node
    * twice, and the reference's mean weights each visit
    * (analysis.py:254-262). min over ordered pairs; mean averages
    * node-to-other-path distances in BOTH directions
    * (Σ_{u∈A} d_B(u) + Σ_{v∈B} d_A(v)) / reachable-count, pinned to a
    * reference-run golden in GfaAnalysisSpec. Unreachable pairs are absent
    * (reference emits inf).
    */
  def groupDistanceMatrix(edges: DataFrame, membership: DataFrame,
                          method: String = "min",
                          directed: Boolean = false,
                          weighted: Boolean = false,
                          emitInf: Boolean = false,
                          tagOrder: Option[DataFrame] = None): DataFrame = {
    val distAll =
      if (weighted)
        weightedMultiSourceDist(edges, membership.select("tag", "node"),
                                directed)
      else
        multiSourceBfs(edges, membership.select("tag", "node"), directed)
    val core = method match {
      // reference parity on DIRECTED graphs: the reference walks only the
      // upper triangle in path order and mirrors each cell
      // (analysis.py:265-266 — M[j][i] := M[i][j], computed from the
      // EARLIER path's cached lengths), so on a directed graph the lower
      // triangle is NOT the genuine reverse-direction distance. With
      // `tagOrder` ((tag, ord) — lower ord = earlier in file) this
      // reproduces that mirroring exactly; undirected graphs give the
      // same answer either way.
      case "min" if tagOrder.isDefined =>
        val ordA = tagOrder.get.select(col("tag"), col("ord").as("ord_a"))
        val ordB = tagOrder.get
          .select(col("tag").as("tag_b"), col("ord").as("ord_b"))
        val upper = distAll
          .join(membership.select(col("tag").as("tag_b"), col("node")).distinct(),
                Seq("node"))
          .join(broadcast(ordA), Seq("tag"))
          .join(broadcast(ordB), Seq("tag_b"))
          .where(col("ord_a") <= col("ord_b"))
          .groupBy(col("tag").as("tag_a"), col("tag_b"))
          .agg(min("dist").as("dist"))
        upper.unionByName(
          upper.where(col("tag_a") =!= col("tag_b"))
            .select(col("tag_b").as("tag_a"), col("tag_a").as("tag_b"),
                    col("dist")))
      case "min" =>
        distAll
          .join(membership.select(col("tag").as("tag_b"), col("node")).distinct(),
                Seq("node"))
          .groupBy(col("tag").as("tag_a"), col("tag_b"))
          .agg(min("dist").as("dist"))
      case "mean" =>
        val offDiag = membership.select(col("tag").as("m_tag"), col("node"))
          .join(distAll.select(col("tag").as("d_tag"), col("node"), col("dist")),
                Seq("node"))
          .where(col("m_tag") =!= col("d_tag"))
          .select(least(col("m_tag"), col("d_tag")).as("tag_a"),
                  greatest(col("m_tag"), col("d_tag")).as("tag_b"),
                  col("dist").cast("double").as("dist"))
          .groupBy("tag_a", "tag_b").agg(avg("dist").as("dist"))
        val sym = offDiag.unionByName(offDiag.select(
          col("tag_b").as("tag_a"), col("tag_a").as("tag_b"), col("dist")))
        val diag = membership.select(col("tag")).distinct()
          .select(col("tag").as("tag_a"), col("tag").as("tag_b"),
                  lit(0.0).as("dist"))
        sym.unionByName(diag)
      case other => throw new IllegalArgumentException(s"method: $other")
    }
    if (!emitInf) core
    else {
      // reference parity: unreachable pairs are inf cells in the dense
      // matrix (analysis.py:252, 263) — fill the full tag×tag cross with
      // +Infinity where no path was found. tag cardinality = #paths, a
      // dimension table, so the cross join is small and broadcast.
      val tags = membership.select("tag").distinct()
      tags.select(col("tag").as("tag_a"))
        .crossJoin(tags.select(col("tag").as("tag_b")))
        .join(core.withColumnRenamed("dist", "d"), Seq("tag_a", "tag_b"), "left")
        .select(col("tag_a"), col("tag_b"),
                coalesce(col("d").cast("double"),
                         lit(Double.PositiveInfinity)).as("dist"))
    }
  }

  /** Graph summary stats (Q1, analysis.py:33-65). Components defaults to
    * the generic propagation; callers with structural knowledge (e.g. the
    * transcript base chain graph, components == conversations) may pass a
    * cheaper exact count.
    */
  def stats(nodes: DataFrame, edges: DataFrame, paths: Long,
            directed: Boolean, components: Option[Long] = None)
           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = nodes.count()
    val m = edgeCount(edges, directed)
    val comp = components.getOrElse(
      connectedComponents(edges, Some(nodes.select(col("node")))).
        agg(countDistinct("label")).head().getLong(0))
    val maxDeg = if (m == 0) 0L
      else degrees(edges, directed).agg(max("degree")).head().getLong(0)
    val density =
      if (n <= 1) 0.0
      else if (directed) m.toDouble / (n.toDouble * (n - 1))
      else 2.0 * m / (n.toDouble * (n - 1))
    Seq((n, m, paths, comp, maxDeg, density))
      .toDF("nodes", "edges", "paths", "components", "max_degree", "density")
  }
}
