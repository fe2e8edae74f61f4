package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The query surface's one session cache ([[SparkEntry.SessionCache]]):
  * racing first callers derive once, derivation names partition the key
  * space, and a pinned relation is materialized once for all consumers.
  */
class SessionCacheSpec extends AnyFunSuite with SparkTestBase {
  import SparkEntry.SessionCache

  test("8 threads racing on one key derive exactly once") {
    val derives = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            SessionCache.value(spark, "spec.race", 1) {
              derives.incrementAndGet()
              Thread.sleep(200) // hold the derivation open while the others arrive
              "derived"
            }
          }
        })
      }
      start.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)).toSet == Set("derived"))
      assert(derives.get == 1)
    } finally pool.shutdownNow()
  }

  test("two names with equal keys do not collide") {
    val a = SessionCache.value(spark, "spec.a", ("dir", 7))("a")
    val b = SessionCache.value(spark, "spec.b", ("dir", 7))("b")
    assert((a, b) == ("a", "b"))
    assert(SessionCache.value[String](spark, "spec.a", ("dir", 7))(fail("re-derived")) == "a")
    assert(SessionCache.value[String](spark, "spec.b", ("dir", 7))(fail("re-derived")) == "b")
  }

  test("a pinned relation is materialized once and served to every caller") {
    val derives = new AtomicInteger
    def pinned = SessionCache.pinned(spark, "spec.pinned", 1) {
      derives.incrementAndGet()
      spark.range(10).toDF("id")
    }
    val first = pinned
    assert(pinned eq first)
    assert(derives.get == 1)
    assert(first.count() == 10)
    // localCheckpoint truncates the lineage: the plan reads the pinned RDD
    assert(first.queryExecution.analyzed.toString.contains("LogicalRDD"))
  }
}
