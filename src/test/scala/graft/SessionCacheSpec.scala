package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The query surface's one session cache ([[SparkEntry.SessionCache]]):
  * racing first callers derive once, derivation names partition the key
  * space, a pinned relation is materialized once for all consumers, and a
  * fixture table's schema is inferred once per table generation.
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

  test("a fixture table infers its schema once, and again after a rewrite with a new column") {
    val base = java.nio.file.Files.createTempDirectory("graft-fixture").toString
    try {
      val dir = s"$base/t"
      val table = s"$dir/documents.parquet"
      spark.range(5).selectExpr("id AS doc_id", "'x' AS text").write.parquet(table)
      assert(SparkEntry.docsTable(spark, dir).columns.toSeq == Seq("doc_id", "text"))
      // the second read of an unchanged table reuses the schema: no job
      assert(SparkTestBase.jobsDuring(spark)(SparkEntry.docsTable(spark, dir)) == 0)
      spark.range(5).selectExpr("id AS doc_id", "'x' AS text", "id * 2 AS extra")
        .write.mode("overwrite").parquet(table)
      val again = SparkEntry.docsTable(spark, dir)
      assert(again.columns.toSeq == Seq("doc_id", "text", "extra"))
      assert(again.agg(org.apache.spark.sql.functions.sum("extra")).head().getLong(0) == 20L)
    } finally graft.pipeline.Generation.deleteRecursively(java.nio.file.Paths.get(base))
  }
}
