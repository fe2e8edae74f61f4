package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The shared bounded-state slice behind the component-parallel
  * solver/audit family ([[Constrained]], [[GraphAudit]], [[Hac]] and
  * SparkEntry's cluster-cohesion audit): multi-member components' members
  * are capped (row_number over doc_id) BEFORE any group shuffle,
  * overflow is split out for caller-specific pass-through,
  * and pair relations (edges, constraints) are inner-joined on BOTH
  * endpoints against the capped member set with component equality
  * required — so a task never holds more than cap members + cap² pair
  * rows however large the component, and a cross-component pair never
  * reaches a solver. Tagged row shape: (cluster_id, kind, x, y, d).
  */
private[graft] object CappedSlices {

  /** (capped, overflow) — both (cluster_id, doc_id), multi-member
    * components only; `capped` holds ranks 1..cap, `overflow` the rest.
    */
  def membership(cc: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val multi = cc.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("cluster_id")
    val mem = cc.join(multi, "cluster_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id").orderBy("doc_id")))
    (mem.filter(col("rk") <= cap).select("cluster_id", "doc_id"),
      mem.filter(col("rk") > cap).select("cluster_id", "doc_id"))
  }

  /** kind-0 member rows of the tagged relation. */
  def memberRows(capped: DataFrame): DataFrame =
    capped.select(col("cluster_id"), lit(0).as("kind"),
      col("doc_id").as("x"), lit(0L).as("y"), lit(0).as("d"))

  /** The endpoint-join contract: `df`'s (aCol, bCol) pairs filtered to
    * capped members of ONE component, tagged with `kind` and the optional
    * weight column (0 when absent).
    */
  def tagged(df: DataFrame, capped: DataFrame, aCol: String, bCol: String,
             kind: Int, dCol: Option[String]): DataFrame =
    df.join(capped.select(col("doc_id").as(aCol), col("cluster_id")), aCol)
      .join(capped.select(col("doc_id").as(bCol), col("cluster_id").as("c2")), bCol)
      .filter(col("cluster_id") === col("c2"))
      .select(col("cluster_id"), lit(kind).as("kind"),
        col(aCol).as("x"), col(bCol).as("y"),
        dCol.map(col).getOrElse(lit(0)).as("d"))
}
