package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}

/** Plan-quality evidence in one pass over every query in
  * [[graft.SparkEntry.queries]]: writes `PLANS.md` to the working
  * directory with the red-flag table for every query and the formatted
  * physical plans (pushdown, broadcast, codegen spans) of the queries
  * named as arguments, by default the flagship set. A before/after
  * comparison is a `git diff PLANS.md`.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Plans [query ...]"
  */
object Plans {
  val flagship = Seq(
    "q_stats", "q_conv_edges", "q_sessions", "q_turn_rate", "q_pairing",
    "q_mkt_orders", "q_node_index", "q_knn_lsh", "q_doc_dedup", "q_coo_sym",
    "q_minhash_neardups", "q_emb_neardups")

  /** Red flags of one executed plan: a single-partition exchange funnels
    * all data through one task (the scale-killer class); cartesian
    * products and broadcast nested-loop joins are flagged for eyeball
    * review (the brute-kNN one is by design).
    */
  final case class RedFlags(singlePartition: Int, cartesian: Int, nestedLoop: Int)

  def redFlags(plan: SparkPlan): RedFlags = {
    val text = plan.toString
    def n(op: String) = op.r.findAllIn(text).length
    RedFlags(n("Exchange SinglePartition"), n("CartesianProduct"),
             n("BroadcastNestedLoopJoin"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val wanted = if (args.isEmpty) flagship else args.toSeq
    val unknown = wanted.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = ToolSession()

    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans " +
      s"(${Paths.get(sfDir).getFileName}, local[${ToolSession.cpus}], AQE on)\n\n")
    sb.append("Generated by `graft.tools.Plans`. Things to check per plan:\n")
    sb.append("filters/column pruning reach the parquet scan (PushedFilters/\n")
    sb.append("ReadSchema), small sides broadcast, WholeStageCodegen spans wide,\n")
    sb.append("one Exchange per logical shuffle.\n\n")
    sb.append("## Red-flag audit (all queries)\n\n")
    sb.append("| query | SinglePartition exchanges | cartesian | bcast-NLJ |\n")
    sb.append("|---|---|---|---|\n")
    val formatted = scala.collection.mutable.Map.empty[String, String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val f = redFlags(qe.executedPlan)
        sb.append(s"| $name | ${f.singlePartition} | ${f.cartesian} | ${f.nestedLoop} |\n")
        if (wanted.contains(name)) formatted(name) = qe.explainString(FormattedMode)
      } catch { case e: Throwable =>
        sb.append(s"| $name | plan error: ${e.getClass.getSimpleName} | | |\n")
      }
    }
    sb.append(
      """
        |Notes: q_knn_brute's BroadcastNestedLoopJoin IS the brute-force
        |baseline (query side broadcast, non-equi self-pair condition) that
        |q_knn_lsh's banded equi-join replaces at scale; q_knn_ivf's
        |centroid crosses (broadcast nClusters-row table) now run during
        |its once-per-session candidate materialization, so its audited
        |per-batch plan is the clean rerank join. The iterative
        |kernels (q_components/q_bfs_dist/q_dist_matrix*) are audited on
        |their per-round join plans; their driver loops localCheckpoint
        |each round. `entry`-level single-row aggregates (q_stats,
        |q_text_distance, q_gfa_stats) legitimately finish on a
        |single-partition final aggregate over already-reduced partials —
        |those are one-row results, not data funnels (same class:
        |q_gfa_bytes, q_gfa_gz_stats, q_split_rejects; and the
        |POST-AGGREGATE global-max windows of q_mix_epochs / q_mix_apply /
        |q_corpus_filter, whose single-partition exchange moves one row
        |per SOURCE / funnel stage, not per doc, and q_pack_offsets' /
        |q_token_budget's cross-bucket prefix-sum windows over one row
        |per BUCKET / score BAND — the corpus-sized windows there are
        |bucket- resp. band-partitioned, asserted in PackingSpec and
        |CurationSpec). The q_stream_*
        |queries EXECUTE their micro-batch streams during plan
        |construction; the audited plan is the memory-sink table read
        |(dimension-sized), so their streaming plans are exercised but
        |audited via the streaming tests instead.
        |""".stripMargin)
    sb.append("\n")

    wanted.filter(formatted.contains).foreach { name =>
      sb.append(s"## $name\n\n```\n${formatted(name)}\n```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
