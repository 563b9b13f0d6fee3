package graft.stream

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once keyed sink (T9): idempotent MERGE on (conv_id, turn_idx)
  * into an Iceberg-shaped table — day-partitioned parquet in this sandbox,
  * the same layout a real Iceberg catalog binding would use
  * (`days(ts), bucket(conv_id)`; no iceberg jar ships here, see SURVEY §7).
  *
  * GFA analog: the insert-once `node2idx` dict (builders.py:190-198) —
  * a replayed record must not create a second node. Under foreachBatch
  * replay (restart from checkpoint), re-upserting the same micro-batch
  * rewrites the same partitions with the same content: idempotent.
  *
  * Scale shape: each micro-batch touches only the day partitions present
  * in the batch (dynamic partition overwrite), reads back only those
  * partitions for the anti-join, and the merge key join is on the same
  * (conv_id, turn_idx) the table is laid out by.
  */
object TranscriptSink {

  val mergeKeys = Seq("conv_id", "turn_idx")

  /** Upsert one micro-batch: new keys are inserted, existing keys win
    * (insert-once, matching node2idx).
    */
  def upsertBatch(spark: SparkSession, tablePath: String,
                  batch: DataFrame, batchId: Long,
                  lineagePath: Option[String] = None): Unit = {
    // range-cluster by (day, conv_id) BEFORE writing: without this, the
    // dropDuplicates hash shuffle spreads every day across every task and
    // partitionBy(day) then writes tasks × days small files per batch —
    // a file-count explosion that degrades every later read. Clustered,
    // each day lands in a few contiguous tasks: O(tasks) files per batch.
    val withDay = batch
      .dropDuplicates(mergeKeys)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartitionByRange(col("day"), col("conv_id"))
    val days = withDay.select("day").distinct().collect().map(_.getString(0))
    if (days.isEmpty) return

    // MERGE-shaped write (what Iceberg MERGE INTO does at the file level):
    // day partitions with no existing data take the cheap append path; only
    // partitions that already hold rows are read back, anti-joined, and
    // rewritten. For an in-order stream, steady state is pure append with a
    // one-partition merge at each day boundary.
    val existingDays = listDays(spark, tablePath).toSet
    val (mergeDays, appendDays) = days.partition(existingDays.contains)

    if (appendDays.nonEmpty)
      withDay.where(col("day").isin(appendDays: _*))
        .sortWithinPartitions("conv_id", "turn_idx") // stable order invariant
        .write.mode(SaveMode.Append).partitionBy("day").parquet(tablePath)

    if (mergeDays.nonEmpty) {
      val incoming = withDay.where(col("day").isin(mergeDays: _*))
      val existing = spark.read.parquet(tablePath)
        .where(col("day").isin(mergeDays: _*))
      val fresh = incoming.join(
        existing.select(mergeKeys.map(col): _*), mergeKeys, "left_anti")
      // localCheckpoint materializes the merge BEFORE the overwrite: it
      // truncates the plan so the write job no longer references the table
      // path it is about to rewrite (read-overwrite-same-path hazard).
      val merged = existing.select(incoming.columns.map(col): _*)
        .unionByName(fresh).localCheckpoint(true)
      // dynamic overwrite per write, not via the session conf: only the
      // merged day partitions are replaced, and concurrent writers on the
      // same session keep their own overwrite mode
      merged
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(tablePath)
    }

    lineagePath.foreach(Lineage.record(_, batchId, withDay))
  }

  /** day=... partition values currently present in the table directory. */
  private def listDays(spark: SparkSession, tablePath: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("day="))
      .map(_.stripPrefix("day="))
  }

  /** Attach the sink to a streaming Turn source. */
  def start(turns: DataFrame, tablePath: String, checkpoint: String,
            lineagePath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    turns.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch.sparkSession, tablePath, batch, batchId, lineagePath)
        ()
      }
      .start()
}

/** Per-partition lineage audit (T8): one row per (batch, day-partition)
  * with row counts and event-time bounds, written idempotently
  * (partitioned by batch_id; replaying a batch overwrites its own rows).
  */
object Lineage {
  def record(lineagePath: String, batchId: Long, batchWithDay: DataFrame): Unit =
    batchWithDay
      .groupBy(col("day"))
      .agg(count(lit(1)).as("row_count"),
           min("ts").as("min_ts"), max("ts").as("max_ts"),
           countDistinct("conv_id").as("n_convs"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("written_at", current_timestamp())
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(lineagePath)

  def read(spark: SparkSession, lineagePath: String): DataFrame =
    spark.read.parquet(lineagePath)
}
