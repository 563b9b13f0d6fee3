package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its name, the function that builds its
  * DataFrame from an sf directory, and the DuckDB SQL that must reproduce
  * its result. Keeping the pair in one value means a query cannot exist
  * without its oracle.
  * Each family file under `graft.queries` lists its queries first, as a
  * `lazy val defs: Seq[QueryDef]` (lazy, so the helper vals declared below
  * it are initialized before the oracle strings that interpolate them);
  * [[graft.SparkEntry]] derives its two maps from the concatenation.
  */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracleSql: String)

object QueryDef {

  /** `f` of every def keyed by name. Names must be unique: a plain
    * Seq-to-Map conversion would silently keep only the last duplicate.
    */
  def index[V](defs: Seq[QueryDef])(f: QueryDef => V): Map[String, V] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> f(d)).toMap
  }
}
