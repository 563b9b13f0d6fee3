package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite

/** The query layer's per-session cache: one build per (session, key),
  * shared by concurrent callers; a failed build is not kept.
  */
class SessionCacheSpec extends SparkSuite {

  test("8 concurrent callers of one key run the build once") {
    val cache = new SessionCache[Int, Integer]
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      cache(spark, 42) { Thread.sleep(50); Integer.valueOf(builds.incrementAndGet()) }
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(10)))
    assert(threads.forall(!_.isAlive))
    assert(builds.get() == 1)
    assert(cache(spark, 42)(fail("rebuilt a cached entry")) == 1)
  }

  test("a throwing build is not cached and a retry rebuilds") {
    val cache = new SessionCache[String, String]
    intercept[RuntimeException] {
      cache(spark, "k")(throw new RuntimeException("boom"))
    }
    var rebuilt = false
    assert(cache(spark, "k") { rebuilt = true; "ok" } == "ok")
    assert(rebuilt)
    assert(cache(spark, "k")(fail("rebuilt a cached entry")) == "ok")
  }
}
