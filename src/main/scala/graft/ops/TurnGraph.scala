package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Batch graph derivation over the Turn table.
  *
  * GFA analogs (SURVEY.md §2): edges = Links derived from turn adjacency
  * (W3), node index = first-seen dense ids (A1, builders.py:190-198),
  * adjacency = COO accumulation + dup semantics + symmetrization (A2-A4,
  * builders.py:216-283), bidirected role-split (G1-G2,
  * builders.py:167-178, 231-234).
  *
  * Scale notes: every op here clusters on conv_id with a single window
  * shuffle; conversations are small (≤ thousands of turns) so the
  * per-partition sort inside the window is cheap and there is no
  * driver-side collection anywhere.
  */
object TurnGraph {

  private def wConv = Window.partitionBy("conv_id").orderBy("turn_idx")

  /** Consecutive-turn adjacency edges — the transcript Link builder.
    * One edge (i → i+1) per non-final turn; gap_sec is the inter-turn
    * latency (weight analog, builders.py:205-209).
    */
  def edges(turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"))
      .withColumn("dst_idx", lead("turn_idx", 1).over(wConv))
      .withColumn("dst_role", lead("role", 1).over(wConv))
      .withColumn("dst_ts", lead("ts", 1).over(wConv))
      .where(col("dst_idx").isNotNull)
      .select(
        col("conv_id"),
        col("turn_idx").as("src_idx"),
        col("dst_idx"),
        col("role").as("src_role"),
        col("dst_role"),
        expr("timestampdiff(MICROSECOND, ts, dst_ts)").as("gap_us"))

  /** Global node id: "<conv_id>:<turn_idx>" (bidirected-id synthesis
    * analog, builders.py:169).
    */
  def nodeId(conv: Column, idx: Column): Column =
    concat(conv, lit(":"), idx.cast("string"))

  /** First-seen dense node index (A1). The reference assigns ids in file
    * order; for transcripts file order IS (conv_id, turn_idx) order, so a
    * deterministic rank over that key reproduces the reference mapping
    * while staying shuffle-stable. Emitted as the .nodes.tsv sidecar (S9).
    *
    * Scale-safe dense rank: range-partition + sort on the key, then
    * per-partition counts + prefix-sum offsets (RDD zipWithIndex — the
    * distributed prefix-sum primitive). No single-partition Exchange
    * anywhere: a global `row_number() over (order by …)` window would pull
    * every row through ONE task. The result is deterministic even though
    * range boundaries are sampled — the global sorted order is fixed, and
    * zipWithIndex's count and map jobs share one shuffle materialization.
    * NOTE: zipWithIndex computes its offsets in its constructor, so
    * building this DataFrame runs the count job EAGERLY — inherent to a
    * distributed dense rank (two passes); relevant to plan-only tooling.
    */
  def nodeIndex(turns: DataFrame): DataFrame = {
    val spark = turns.sparkSession
    val parted = turns
      .select(col("conv_id"), col("turn_idx"))
      .repartitionByRange(col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx")
    val rdd = parted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), r.getInt(1), i)
    }
    spark.createDataFrame(rdd, StructType(Seq(
        StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType),
        StructField("node_idx", LongType))))
      .withColumn("node_id", nodeId(col("conv_id"), col("turn_idx")))
  }

  /** COO adjacency entries with explicit duplicate semantics (A3):
    * matrix view sums duplicate edges (scipy COO→CSR, utils.py:55),
    * graph view keeps the last attribute set (nx add_edge,
    * builders.py:246-250).
    */
  def coo(edgeDf: DataFrame, dup: DupMode = DupMode.Sum): DataFrame = {
    val base = edgeDf.select(
      nodeId(col("conv_id"), col("src_idx")).as("src"),
      nodeId(col("conv_id"), col("dst_idx")).as("dst"),
      coalesce(col("gap_us").cast("double"), lit(1.0)).as("weight"))
    dup match {
      case DupMode.Sum  => base.groupBy("src", "dst").agg(sum("weight").as("weight"))
      case DupMode.Last => base.groupBy("src", "dst").agg(last("weight").as("weight"))
    }
  }

  /** Symmetrize A = max(A, Aᵀ) (A4, builders.py:282-283): each entry emits
    * itself and its transpose in ONE pass (explode, not a self-union —
    * a union would recompute the whole upstream twice), then element-wise
    * max in a single map-side-combinable shuffle.
    */
  def symmetrize(cooDf: DataFrame): DataFrame =
    cooDf
      .select(explode(array(
        struct(col("src"), col("dst"), col("weight")),
        struct(col("dst").as("src"), col("src").as("dst"), col("weight"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
              col("e.weight").as("weight"))
      .groupBy("src", "dst").agg(max("weight").as("weight"))
}

sealed trait DupMode
object DupMode {
  case object Sum extends DupMode
  case object Last extends DupMode
}
