package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The query layer's one per-session cache: a value built once per
  * (session, key) and kept until the session stops. Entries of stopped
  * sessions are swept on every access. Concurrent callers of one key run
  * `build` once and all receive its value; a build that throws leaves no
  * entry, so the next call rebuilds. `build` must not call the same
  * cache instance.
  *
  * Engine operators do not cache: they compute from what they read now.
  * Only query-layer derived inputs (a rendered input, a written
  * signature table, a persisted shared base) are reused through this.
  */
final class SessionCache[K, V] {
  private val m = new ConcurrentHashMap[(SparkSession, K), V]

  def apply(s: SparkSession, k: K)(build: => V): V = {
    m.keySet.removeIf(_._1.sparkContext.isStopped)
    m.computeIfAbsent((s, k), _ => build)
  }
}
