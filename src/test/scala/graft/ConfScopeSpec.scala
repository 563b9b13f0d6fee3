package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.graftbridge.Bridge

import graft.graph.Graph
import graft.sim.Knn

/** Conf-scoped work runs in a [[Bridge.child]] session: the override is
  * visible there, and no query builder changes the caller's session conf.
  */
class ConfScopeSpec extends SparkSuite {
  import spark.implicits._

  private val Parts = "spark.sql.shuffle.partitions"

  test("Bridge.child sees its conf; the caller's conf holds, also when work throws") {
    val prev = spark.conf.get(Parts)
    val c = Bridge.child(spark, Parts -> "3", "spark.sql.adaptive.enabled" -> "false")
    assert(c.conf.get(Parts) == "3")
    assert(c.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(spark.conf.get(Parts) == prev)
    // a relation rebound into the child plans under the child's conf
    val agg = Bridge.rebind(Seq(1, 2, 3).toDF("v").groupBy("v").count(), c)
    assert(agg.rdd.getNumPartitions == 3)
    intercept[RuntimeException] {
      val t = Bridge.child(spark, Parts -> "5")
      assert(t.conf.get(Parts) == "5")
      throw new RuntimeException("x")
    }
    assert(spark.conf.get(Parts) == prev)
  }

  test("graph loop, kNN top-k and a RocksDB stream build keep the caller's conf") {
    val before = spark.conf.getAll
    // a tiny graph through the Spark loop: it runs with 1 partition and AQE off
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    assert(Graph.connectedComponentsLoop(edges, None).select("label").distinct().count() == 2)
    val emb = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 1f, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val top = Knn.bruteTopK(emb, emb, 3)
    assert(top.count() == 60)
    // the threshold is read when the aggregate is planned: in the child
    val planned = new AdaptiveSparkPlanHelper {}.collect(top.queryExecution.executedPlan) {
      case a: ObjectHashAggregateExec => a.conf.objectAggSortBasedFallbackThreshold
    }
    assert(planned.nonEmpty && planned.forall(_ == 4096))
    val dir = Files.createTempDirectory("conf_scope").toString
    (0 until 12).map(i => (i % 3L, new Timestamp(1700000000000L + i * 60000L), i.toLong,
                           "view", s"p$i"))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
      .write.parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("q_stream_sessions_rocksdb")(spark, dir).count() == 3)
    assert(spark.conf.getAll == before)
  }

  test("conf.set/conf.unset in src/main/scala only in Bridge.child and graft/tools") {
    val call = """conf\.(set|unset)\(""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined).map { i =>
        val inDef = lines.take(i + 1).reverseIterator.find(_.contains("def "))
        (f.toString, i + 1, inDef.exists(_.contains("def child(")))
      }
    }
    val allowed: ((String, Int, Boolean)) => Boolean = {
      case (f, _, inChild) =>
        f.contains("/graft/tools/") || (f.endsWith("graftbridge/Bridge.scala") && inChild)
    }
    assert(hits.count(h => h._1.endsWith("Bridge.scala")) == 1)
    assert(hits.filterNot(allowed).map(h => s"${h._1}:${h._2}").isEmpty)
  }
}
