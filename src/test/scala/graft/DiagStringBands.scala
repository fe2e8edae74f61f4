package graft

import org.apache.spark.sql.functions._

/** Census of the string-scorer band-key family (SparkEntry.sBandKeys) at
  * three scales: sf0.01 (500 docs), sf0.1 (5,000 docs), and the 102k-doc
  * synthetic bench corpus. Evidence for the round-3 scale claim: max block
  * size stays FLAT as docs grow 200× (the round-2 prefix key grew 2.8× per
  * 10× docs). Results recorded in BASELINE.md.
  */
object DiagStringBands {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def census(label: String, texts: org.apache.spark.sql.DataFrame): Unit = {
      val b = texts.select(col("doc_id"), explode(SparkEntry.sBandKeys(col("text"))).as("bk"))
        .persist()
      val nDocs = texts.count()
      val sizes = b.groupBy("bk").agg(count(lit(1)).as("n"))
      val top = sizes.orderBy(col("n").desc).limit(5).collect()
        .map(r => r.getLong(1)).mkString(",")
      val cands = b.select(col("doc_id").as("a"), col("bk"))
        .join(b.select(col("doc_id").as("b"), col("bk")), Seq("bk"))
        .filter(col("a") < col("b")).select("a", "b").distinct().count()
      println(f"[bands] $label%-10s docs=$nDocs%7d max_blocks=[$top] candidates=$cands (${cands.toDouble / nDocs}%.3f/doc)")
      b.unpersist()
    }

    census("sf0.01", spark.read.parquet(s"${SparkTestBase.Sf001Dir}/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text")))
    census("sf0.1", spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text")))
    val corpus = graft.synth.Corpus.generateDistributed(spark,
        graft.synth.Corpus.Params(entities = 60000, minWords = 150, maxWords = 400, seed = 42))
      .map(_.doc)(org.apache.spark.sql.Encoders.product[graft.model.Doc])
      .map(d => (d.doc_id, d.concatText)).toDF("doc_id", "text")
    census("bench102k", corpus)
    // natural-vocabulary leg (verdict r4 item 4): Zipf(1.07) over ~50k
    // types — the band-key census on a realistically heavy-tailed type
    // distribution instead of the saturated 1600-word draw
    val zipf = graft.synth.Corpus.generateDistributed(spark,
        graft.synth.Corpus.Params(entities = 60000, minWords = 150, maxWords = 400,
          seed = 42, zipfTypes = 50000))
      .map(_.doc)(org.apache.spark.sql.Encoders.product[graft.model.Doc])
      .map(d => (d.doc_id, d.concatText)).toDF("doc_id", "text")
    census("bench102k-zipf", zipf)
    spark.stop()
  }
}
