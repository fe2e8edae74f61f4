package graft

import graft.pipeline.Parallelism
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one parallelism policy at the test session's width of 4:
  * [[Parallelism.widen]] round-robins a narrow exchange-free input and
  * leaves a wide one alone, [[Parallelism.spread]] always re-partitions.
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
}
