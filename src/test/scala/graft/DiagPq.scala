package graft

import graft.ann.Pq
import org.apache.spark.sql.functions._

/** One-off census: PQ recall@10 vs exact inner product across code widths
  * and codebook sizes on the sf0.01/sf0.1 embeddings — the measurement
  * behind PqSpec's pinned floors and BASELINE.md's compression/recall table.
  */
object DiagPq {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else SparkTestBase.Sf001Dir
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 50)
    def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (0 until 64).map(i =>
        element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
        .reduceLeft(_ + _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("dot").desc, col("n"))
    val truth = q.select(col("vec_id").as("q"), col("embedding").as("qv"))
      .join(emb.select(col("vec_id").as("n"), col("embedding").as("nv")),
        col("q") =!= col("n"))
      .select(col("q"), col("n"), dotC(col("qv"), col("nv")).as("dot"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (m <- Seq(4, 8, 16, 32); k <- Seq(16, 32, 64); it <- Seq(5, 15)) {
      val t0 = System.nanoTime()
      val model = Pq.fit(emb, "embedding", "vec_id", m = m, k = k, iters = it)
      val codes = Pq.encode(emb, "embedding", model).select(col("vec_id"), col("code"))
      val got = Pq.adcTopK(q, codes, model, "embedding", "vec_id", k = 10)
        .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (got & truth).size.toDouble / truth.size
      println(f"[pq] m=$m%2d k=$k%2d iters=$it%2d bytes=${m * (32 - Integer.numberOfLeadingZeros(k - 1)) / 8.0}%5.1f recall@10=$recall%.3f (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
