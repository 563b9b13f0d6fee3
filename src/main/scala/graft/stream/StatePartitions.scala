package graft.stream

/** Streaming state-partition sizing (the q_stream_sessions hand-scoping,
  * generalized into a mechanism).
  *
  * Streaming state partitions are FIXED at query start from
  * `spark.sql.shuffle.partitions`, and every partition costs a state-store
  * commit (file + fsync with the default HDFS-backed provider) PER
  * MICRO-BATCH — so the right number tracks the keyed-state volume per
  * trigger, not the batch-analytics core count. 32 partitions × 3 triggers
  * over a kilobyte-scale driver feed was ~10 s of pure commit overhead;
  * conversely one partition under a multi-million-row trigger serializes
  * the state task. [[forVolume]] picks partitions so each holds about
  * `targetRowsPerPartition` rows of a trigger. Callers start the query
  * in a `Bridge.child` session carrying the choice, so batch queries in
  * the caller's session keep their own parallelism.
  */
object StatePartitions {

  /** ~64k state rows per partition amortizes the per-trigger commit to
    * noise while keeping partitions comfortably in-memory (state rows are
    * O(100 B)–O(1 KB); 64k rows ≈ tens of MB worst case).
    */
  val DefaultTargetRowsPerPartition: Long = 65536L

  /** Partitions for an expected per-trigger row volume, clamped to
    * [minParts, maxParts]. Callers that cannot estimate the trigger
    * volume should pass the stream's total expected rows / expected
    * trigger count (e.g. file-source: totalRows × maxFilesPerTrigger /
    * nFiles).
    */
  def forVolume(rowsPerTrigger: Long,
                targetRowsPerPartition: Long = DefaultTargetRowsPerPartition,
                minParts: Int = 1, maxParts: Int = 32): Int = {
    require(targetRowsPerPartition > 0 && minParts > 0 && maxParts >= minParts)
    val ideal = math.ceil(rowsPerTrigger.toDouble / targetRowsPerPartition)
    math.max(minParts, math.min(maxParts.toDouble, ideal)).toInt
  }
}
