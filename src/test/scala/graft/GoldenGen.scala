package graft

/** Regenerates the golden-snapshot parquet under /root/repo/golden/ for the
  * queries whose semantics are not ANSI-SQL-expressible (MinHash/SimHash
  * signatures, perceptual hashes, the full pipeline, LSH candidacy...).
  *
  * The snapshots turn those queries' rows-only driver checks into full
  * value-hash checks: the oracle SQL reads the committed snapshot back via
  * DuckDB read_parquet. A golden oracle locks determinism + stability; the
  * kernels' CORRECTNESS has independent coverage in the test suite
  * (golden-pixel resize/DCT ports, brute-force blocking equivalence,
  * labeled-corpus F1, cats acceptance).
  *
  * Run after any deliberate kernel change: sbt "Test/runMain graft.GoldenGen"
  * then commit the new parquet.
  */
object GoldenGen {
  val GoldenQueries: Seq[String] = Seq(
    "q_ann_ivf", "q_ann_ivfpq", "q_ann_lsh", "q_ann_pq", "q_ann_recall",
    "q_audio_near_dups", "q_bridge_docs", "q_canopy",
    "q_center_clusters", "q_compare_target", "q_constrained_cc",
    "q_constrained_must", "q_doc_stats", "q_evidence_mst", "q_fingerprint",
    "q_hac_clusters", "q_image_features", "q_media_phash", "q_minhash_lsh",
    "q_pipeline_clusters", "q_retract_clusters", "q_simhash", "q_swoosh",
    "q_video_near_dups")

  val SfDir = SparkTestBase.Sf001Dir // the Verify scale
  val OutRoot = "/root/repo/golden"

  def main(args: Array[String]): Unit = {
    // optional args = subset of query names to regenerate (default: all);
    // an unknown name must fail loudly, not silently regenerate nothing
    require(args.forall(GoldenQueries.contains),
      s"unknown golden query name(s): ${args.filterNot(GoldenQueries.contains).mkString(", ")}")
    val wanted = if (args.isEmpty) GoldenQueries else GoldenQueries.filter(args.contains)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    wanted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, SfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$OutRoot/$name")
      // drop Spark's bookkeeping files: commit just the data file
      val d = new java.io.File(s"$OutRoot/$name")
      d.listFiles().filter(f => !f.getName.endsWith(".parquet"))
        .foreach(_.delete())
      println(s"[golden] $name: ${spark.read.parquet(s"$OutRoot/$name").count()} rows")
    }
    spark.stop()
  }
}
