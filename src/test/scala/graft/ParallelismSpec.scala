package graft

import graft.pipeline.Parallelism
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one parallelism policy at the test session's width of 4:
  * [[Parallelism.widen]] round-robins a narrow exchange-free input and
  * leaves a wide one alone, [[Parallelism.spread]] always re-partitions;
  * and the sizing rule for a known row count ([[Parallelism.sized]],
  * [[Parallelism.coalesceTo]]).
  */
class ParallelismSpec extends AnyFunSuite with SparkTestBase {

  private def plan(ds: org.apache.spark.sql.Dataset[_]): String =
    ds.queryExecution.executedPlan.toString

  test("widen: a 1-split scan plans RoundRobinPartitioning(4), counting its splits runs no job") {
    val scan = spark.read.parquet(s"${SparkTestBase.Sf001Dir}/documents.parquet")
      .select("doc_id", "text")
    assert(scan.rdd.getNumPartitions === 1)
    assert(SparkTestBase.jobsDuring(spark)(Parallelism.widen(scan)) === 0)
    val widened = Parallelism.widen(scan)
    assert(plan(widened).contains("RoundRobinPartitioning(4)"), plan(widened))
    assert(widened.count() === scan.count())
  }

  test("widen: an exchange-free input with 8 partitions gets no Exchange") {
    val wide = spark.range(0, 1000, 1, 8).toDF("k")
    val widened = Parallelism.widen(wide)
    assert(widened eq wide)
    assert(!plan(widened).contains("Exchange"), plan(widened))
  }

  test("spread: a post-aggregate relation always plans the repartition") {
    val agg = spark.range(0, 1000, 1, 8).groupBy((col("id") % 10).as("k")).count()
    val spreadPlan = plan(Parallelism.spread(agg))
    assert(spreadPlan.contains("RoundRobinPartitioning(4)"), spreadPlan)
    assert(Parallelism.spread(agg).count() === 10)
  }

  test("spread with keys plans hashpartitioning(k, 4)") {
    val ds = spark.range(0, 1000, 1, 8).select((col("id") % 10).as("k"))
    val spreadPlan = plan(Parallelism.spread(ds, col("k")))
    assert(spreadPlan.matches("(?s).*hashpartitioning\\(k#\\d+L, 4\\).*"), spreadPlan)
  }

  test("sized: 2,554 docs at 4 cores and width 64 give 4 tasks") {
    assert(Parallelism.tasksFor(2554, 4) === 4)
    assert(Parallelism.sized(2554L, 4, 64) === 4)
  }

  test("sized: 102,484 docs give 64, and the input coalesce is a no-op on 64 partitions") {
    assert(Parallelism.sized(102484L, 4, 64) === 64)
    val input = spark.range(0, 1000, 1, 64).toDF("k")
    withWidth(64) {
      val sized = Parallelism.sized(spark, 102484L)
      assert(sized === 64)
      val narrowed = Parallelism.coalesceTo(input, sized)
      assert(narrowed eq input)
      assert(!plan(narrowed).contains("Coalesce"), plan(narrowed))
      // a small count on the same input plans a narrow coalesce, no shuffle
      val small = plan(Parallelism.coalesceTo(input, Parallelism.sized(spark, 2554L)))
      assert(small.contains("Coalesce 4") && !small.contains("Exchange"), small)
    }
  }

  test("sized: cores above the session width give the session width") {
    assert(Parallelism.sized(2554L, 8, 4) === 4)
    assert(Parallelism.sized(10L, 16, 4) === 4)
  }

  private def withWidth[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }
}
