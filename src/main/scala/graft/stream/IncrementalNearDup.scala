package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.Dedup

/** Incremental MinHash near-duplicate detection for a GROWING corpus —
  * the corpus-growth shape a 100-TB pipeline actually runs: the base
  * corpus's signature tables (shingle sets + LSH bands, materialized
  * once per snapshot by [[graft.text.Dedup.shingleTable]] /
  * [[graft.text.Dedup.minhashBands]]) are REUSED every micro-batch; new
  * documents are shingled and banded at batch size, band-joined against
  * base + previously-streamed signatures, Jaccard-verified, and the
  * verified pairs appended. The corpus is never re-shingled — per-batch
  * work is O(batch + batch-touched bucket members).
  *
  * Layout: each batch writes its signature deltas to
  * `deltaRoot/{sh,bands}/batch=<id>` and its verified pairs to
  * `pairsPath/batch=<id>` — OVERWRITE per batch directory, so a
  * foreachBatch replay after a crash rewrites the same content
  * (exactly-once on the pair relation, the TranscriptSink philosophy on
  * the batch axis). Batch N bands against deltas of batches < N plus the
  * base snapshot: replayed output is independent of any partially-written
  * future state.
  *
  * Bucket-cap semantics: [[graft.text.Dedup.DefaultMaxBucket]] applies to
  * the bucket size of the CORPUS-SO-FAR (base + deltas ≤ N) — the only
  * definition an incremental pass can evaluate. A bucket that crosses the
  * cap mid-stream stops generating NEW pairs from that point on; pairs
  * emitted while it was under the cap stand (the batch pipeline, seeing
  * only the final corpus, would have dropped them). The per-batch count
  * is computed only for buckets the batch touches — never a corpus-sized
  * aggregation.
  *
  * At 100 TB: the base band table is bucketed on (band, band_hash) so
  * the per-batch candidate join prunes to the touched buckets' files;
  * the parquet-dir deltas stand in for Iceberg table appends.
  */
object IncrementalNearDup {

  /** Start the incremental pipeline over a streaming (doc_id, text)
    * relation. `baseSh` / `baseBands` are the base snapshot's READ-BACK
    * signature tables — (id, sh) and (id, band, band_hash).
    */
  def start(newDocs: DataFrame, baseSh: DataFrame, baseBands: DataFrame,
            deltaRoot: String, pairsPath: String, ckptPath: String,
            shingleK: Int = 5, numHashes: Int = 32, bands: Int = 8,
            threshold: Double = 0.5,
            maxBucket: Int = Dedup.DefaultMaxBucket): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", ckptPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        processBatch(batch.toDF(), id, baseSh, baseBands, deltaRoot,
                     pairsPath, shingleK, numHashes, bands, threshold,
                     maxBucket)
      }
      .start()

  /** One micro-batch: shingle + band the new docs, persist their deltas,
    * candidate-join against base + earlier deltas + the batch itself,
    * verify, and write the batch's verified pairs. Public so batch
    * callers (and the spec) can drive it directly.
    */
  def processBatch(batch: DataFrame, batchId: Long,
                   baseSh: DataFrame, baseBands: DataFrame,
                   deltaRoot: String, pairsPath: String,
                   shingleK: Int = 5, numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5,
                   maxBucket: Int = Dedup.DefaultMaxBucket): Unit = {
    val spark = batch.sparkSession
    // batch-sized signature work only; eager checkpoints are both the
    // CollapseProject barrier and the replay-safe truncation point
    val bsh = Dedup.shingleTable(batch.dropDuplicates("doc_id"),
                                 "doc_id", "text", shingleK)
      .localCheckpoint(true)
    val bBands = Dedup.minhashBands(bsh, numHashes, bands)
      .localCheckpoint(true)
    // exactly-once delta publication: a replayed batch overwrites its own
    // batch=<id> directory with identical content
    bsh.write.mode(SaveMode.Overwrite)
      .parquet(s"$deltaRoot/sh/batch=$batchId")
    bBands.write.mode(SaveMode.Overwrite)
      .parquet(s"$deltaRoot/bands/batch=$batchId")

    val prevSh = readDeltas(spark, s"$deltaRoot/sh", batchId)
    val prevBands = readDeltas(spark, s"$deltaRoot/bands", batchId)
    val oldBands = prevBands
      .map(baseBands.unionByName(_)).getOrElse(baseBands)
    // candidate generation restricted to buckets the BATCH touches: the
    // corpus band table is only ever probed by this (batch-sized,
    // broadcast) bucket list — no corpus-wide scan-and-window
    val touched = bBands.select("band", "band_hash").distinct()
    val relevant = oldBands.withColumn("is_new", lit(false))
      .unionByName(bBands.withColumn("is_new", lit(true)))
      .join(broadcast(touched), Seq("band", "band_hash"))
    // corpus-so-far bucket cap (see class doc) over the touched buckets —
    // materialized once (batch-sized): the candidate self-join below
    // probes it twice, and the cap-crossing guard reads the same counts
    val sized0 = relevant
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band", "band_hash")))
      .localCheckpoint(true)
    // cap-crossing guard: the engine drops an over-cap bucket from THIS
    // batch on, but pairs it emitted while the bucket was still under
    // the cap survive — a full-corpus QUALIFY oracle drops them all. At
    // test scale no bucket ever crosses; surface the crossing loudly so
    // a future sf bump fails diagnosably instead of as a bare oracle
    // hash mismatch.
    val nOver = sized0.where(col("bsz") > maxBucket)
      .select("band", "band_hash").distinct().count()
    if (nOver > 0)
      System.err.println(
        s"WARN IncrementalNearDup: $nOver touched bucket(s) exceed " +
        s"maxBucket=$maxBucket at batch $batchId — incremental pair " +
        "output diverges from a full-corpus bucket-cap recomputation")
    val sized = sized0.where(col("bsz") <= maxBucket)
    val cands = sized.where(col("is_new")).as("a")
      .join(sized.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
              greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val allSh = (baseSh +: prevSh.toSeq :+ bsh).reduce(_.unionByName(_))
    val pairs = Dedup.verifyFrom(allSh, cands)
      .where(col("jaccard") >= threshold)
      .localCheckpoint(true)
    pairs.write.mode(SaveMode.Overwrite)
      .parquet(s"$pairsPath/batch=$batchId")
  }

  /** The accumulated verified-pair relation across every processed
    * batch: (id_a, id_b, jaccard).
    */
  def readPairs(spark: SparkSession, pairsPath: String): DataFrame =
    spark.read.parquet(pairsPath).drop("batch")

  /** Union of `root`'s batch=<k> delta dirs with k < `before` (replay
    * safety: a crashed run's own or later dirs are invisible), or None
    * when no earlier delta exists.
    */
  private def readDeltas(spark: SparkSession, root: String,
                         before: Long): Option[DataFrame] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val dirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { d =>
        val n = d.getName
        n.startsWith("batch=") && n.drop("batch=".length).toLong < before
      }
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_.toString): _*))
  }
}
