package graft.stream

/** State-store provider selection for the stateful operators (T6/T3/T5).
  *
  * The default HDFSBackedStateStoreProvider keeps every key's state in
  * executor heap between commits — fine for bounded session/join state,
  * but per-conversation CSR state over millions of live conversations
  * belongs in RocksDB (off-heap, spill-to-disk, incremental changelog
  * checkpointing). The provider is frozen into a query at start, so
  * [[RocksDbConf]] must be set on the session that starts it — a
  * `Bridge.child` of the caller's, or a tool's own session at
  * construction; existing checkpoints are provider-specific (do not flip
  * providers under a live checkpoint). `transformWithState` requires it.
  */
object StateStores {

  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** RocksDB state stores with changelog checkpointing (incremental
    * uploads instead of full snapshots).
    */
  val RocksDbConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDb,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
}
