package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local session every tool main runs on: `local[cpus]` with
  * as many shuffle partitions, AQE on, UTC, UI off, ERROR logging, and a
  * JVM-wide codegen cache large enough that a tool's repeated queries
  * reuse their generated classes (Spark's default keeps 100).
  * `cpus` is `SPARK_GRAFT_CPUS`, else the host's available processors,
  * so an N-vs-4N pair is two runs with `SPARK_GRAFT_CPUS=N` and `4N`.
  */
object ToolSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
