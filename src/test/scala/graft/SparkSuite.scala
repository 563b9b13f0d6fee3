package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy).
  * The JVM-wide codegen cache holds every class the suites generate
  * (Spark's default keeps 100 and recompiles the rest).
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** Whether `q`'s last progress reports state-store metrics of the
    * RocksDB provider: with the default heap provider a query started in
    * the wrong session passes a parity check just as well.
    */
  def onRocksDb(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    import scala.jdk.CollectionConverters._
    q.lastProgress.stateOperators.exists(_.customMetrics.keySet.asScala
      .exists(_.startsWith("rocksdb")))
  }

  /** One GFA line-DataFrame per string (with lineno, as readLines yields). */
  def gfaLines(lines: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    lines.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      .toDF("value", "lineno")
  }
}
