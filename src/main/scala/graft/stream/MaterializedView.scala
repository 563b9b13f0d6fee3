package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained materialized view: a per-conversation
  * aggregate (turn count, tool-turn count, last event time) kept current
  * in a parquet table by an UPDATE-mode streaming aggregation +
  * foreachBatch upsert — the serving-layer pattern (what Iceberg
  * `MERGE INTO` maintains for a dashboard table). This is the third sink
  * semantic next to TranscriptSink's insert-once (T9: existing keys WIN)
  * and the append sinks: here existing keys are REPLACED by the fresher
  * aggregate (last-write-wins on the view row).
  *
  * Update mode emits only the keys whose aggregate CHANGED in each
  * micro-batch — the upsert's input is the delta, not the full state, so
  * sink work per trigger is O(changed keys). State is one row per live
  * key, the same cardinality as the view itself. Under foreachBatch
  * replay after a crash, re-upserting the same delta rewrites the same
  * rows with the same values: idempotent (MatViewSpec restarts mid-feed
  * under a kill and checks the final view).
  *
  * Scale shape — BUCKET-PRUNED merge: the view table is laid out as
  * `bucket=<hash(conv_id) mod nBuckets>` parquet partitions, and each
  * trigger (a) reads back ONLY the partitions the delta's keys hash into
  * (partition pruning on the bucket filter) and (b) rewrites ONLY those
  * partitions via dynamic partition overwrite — untouched buckets' files
  * are never read or rewritten (MatViewSpec asserts their files are
  * byte-identical across an upsert). Per-trigger sink work is
  * O(view/nBuckets × touched buckets), not O(view) — the same file-level
  * pruning an Iceberg MERGE on a bucket-partitioned table performs. The
  * write goes through the file-commit protocol (staging dirs + rename at
  * commit), so a crash mid-write leaves the previous partition contents
  * in place rather than a half-deleted table.
  */
object MaterializedView {

  /** Bucket count for the view layout. At 10^9 conversations pick
    * O(10^4) so a bucket is a few tens of MB; here 16 keeps the driver
    * fixture multi-bucket while still exercising pruning.
    */
  val nBuckets = 16

  private def bucketOf(keyCol: String) =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int").as("bucket")

  /** The view definition over a (possibly streaming) turns relation. */
  def viewDef(turns: DataFrame): DataFrame =
    turns.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
           count(col("tool")).as("n_tool_turns"),
           max(col("ts")).as("last_ts"))

  /** Read the view back without its physical layout column. */
  def readView(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath).drop("bucket")

  /** Start maintaining the view at `tablePath`, checkpointed. */
  def start(turns: DataFrame, tablePath: String, ckptPath: String)
      : StreamingQuery =
    viewDef(turns).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckptPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        upsertBatch(batch.sparkSession, tablePath, batch.toDF())
      }
      .start()

  /** Replace-on-match upsert of one changed-keys delta into the
    * delta-touched buckets only.
    */
  def upsertBatch(spark: SparkSession, tablePath: String,
                  delta: DataFrame): Unit = {
    // localCheckpoint BEFORE touching the table path: materializes the
    // delta so the rewrite job no longer reads what it overwrites, and
    // truncates the micro-batch plan out of the write
    val fresh = delta.dropDuplicates("conv_id")
      .withColumn("bucket", bucketOf("conv_id"))
      .localCheckpoint(true)
    // existence via the path's Hadoop FileSystem, not java.nio — a
    // non-local scheme would otherwise always take the create branch and
    // overwrite the whole view with just the delta
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fresh.isEmpty) {
      // an empty FIRST delta still creates the table (one typed, empty
      // bucket), so a view over no input reads back as zero rows
      if (!fs.exists(p)) fresh.drop("bucket").write.parquet(s"$tablePath/bucket=0")
      return
    }
    val writer = fresh.write.partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
    if (!fs.exists(p)) { writer.mode(SaveMode.Overwrite).parquet(tablePath); return }
    // touched-bucket list is ≤ nBuckets rows — a bounded driver collect
    val touched = fresh.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val existing = spark.read.parquet(tablePath)
      .filter(col("bucket").isin(touched: _*)) // partition-pruned scan
    val merged = existing
      .join(fresh.select("conv_id"), Seq("conv_id"), "left_anti")
      .unionByName(fresh)
      .localCheckpoint(true)
    // dynamic partition overwrite: ONLY partitions present in `merged`
    // (= the touched buckets) are replaced; all other bucket dirs keep
    // their existing files untouched
    merged.write.partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(tablePath)
  }
}
