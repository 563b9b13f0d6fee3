package graft.stream

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the stateful operators (T6/T3/T5).
  *
  * The default HDFSBackedStateStoreProvider keeps every key's state in
  * executor heap between commits — fine for bounded session/join state,
  * but per-conversation CSR state over millions of live conversations
  * belongs in RocksDB (off-heap, spill-to-disk, incremental changelog
  * checkpointing). This is a session-level config that must be set
  * BEFORE the streaming query starts; existing checkpoints are
  * provider-specific (do not flip providers under a live checkpoint).
  */
object StateStores {

  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Switch the session to RocksDB state stores with changelog
    * checkpointing (incremental uploads instead of full snapshots).
    */
  def useRocksDb(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, RocksDb)
    spark.conf.set(ChangelogKey, "true")
  }

  /** Run `body` (which must START its streaming queries inside — the
    * provider is frozen into a query at start) with RocksDB state stores,
    * restoring the previous provider conf afterwards. `transformWithState`
    * requires this provider.
    */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val prev = Seq(ProviderKey, ChangelogKey).map(k => k -> spark.conf.getOption(k))
    useRocksDb(spark)
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
