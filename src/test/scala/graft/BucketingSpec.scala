package graft

import graft.pipeline.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-location contract of [[Bucketing]]: two tables bucketed
  * identically on the join key must sort-merge-join with ZERO shuffle
  * Exchange on either side (the whole point — the O(corpus) state side of
  * an incremental fold never moves again once written), and the rows must
  * equal the plain-parquet join. Also pins the negative: reading the same
  * files as plain parquet LOSES the bucket metadata and re-shuffles.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("identically bucketed tables join with zero Exchange; plain parquet re-shuffles") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val sigs = (0L until 5000L).map(i => (i, s"sig-$i", i % 7)).toDF("doc_id", "sig", "gen")
    val assign = (0L until 5000L).map(i => (i, i / 3)).toDF("doc_id", "cluster_id")
    Bucketing.writeBucketed(sigs, "bspec_sigs", 8, Seq("doc_id"), s"$root/sigs")
    Bucketing.writeBucketed(assign, "bspec_assign", 8, Seq("doc_id"), s"$root/assign")
    try {
      // broadcast off: a broadcast join would hide the shuffle question
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = Bucketing.readBucketed(spark, "bspec_sigs")
          .join(Bucketing.readBucketed(spark, "bspec_assign"), "doc_id")
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n${plan.take(2000)}")
        assert(j.count() === 5000)
        // equality vs the plain join
        val plainJ = spark.read.parquet(s"$root/sigs")
          .join(spark.read.parquet(s"$root/assign"), "doc_id")
        assert(j.select("doc_id", "sig", "gen", "cluster_id").collect().toSet ===
          plainJ.select("doc_id", "sig", "gen", "cluster_id").collect().toSet)
        // the negative: plain parquet reads of the SAME files lose the
        // bucket metadata and the join plans an Exchange again
        assert(plainJ.queryExecution.executedPlan.toString.contains("Exchange"),
          "plain-parquet read unexpectedly co-located — bucket spec leaked?")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec_sigs")
      spark.sql("DROP TABLE IF EXISTS bspec_assign")
    }
  }

  test("Pipeline.run with BucketedParquetTableIO: stages resume, state reads back co-located") {
    import graft.pipeline.{BucketedParquetTableIO, GraftConfig, Pipeline}
    import graft.synth.Corpus
    val root = java.nio.file.Files.createTempDirectory("graft_bktio").toString
    val docs = Corpus.generateDistributed(spark,
        Corpus.Params(entities = 200, minWords = 20, maxWords = 40, seed = 7), partitions = 4)
      .map(_.doc)(org.apache.spark.sql.Encoders.product[graft.model.Doc])
    val cfg = Corpus.RecommendedConfig
    val io = new BucketedParquetTableIO(root, buckets = 4)
    val r1 = Pipeline.run(spark, docs, cfg, checkpoint = Some(io))
    val out1 = r1.clusters.select("doc_id", "cluster_id").collect().toSet
    r1.release()
    assert(io.completedKey("assignments").isDefined, "assignments manifest missing")
    assert(io.completedKey("bands").isDefined, "bands manifest missing")
    // the bucketed state self-joins by doc_id without an Exchange — the
    // co-location a later fold's id-keyed joins ride
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = io.read(spark, "assignments").select("doc_id", "cluster_id")
      val j = a.join(io.read(spark, "assignments").select(col("doc_id"),
        col("cluster_id").as("c2")), "doc_id")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed assignments join must not shuffle")
      assert(j.count() === docs.count())
    }
    // back-compat: the SAME files read as plain parquet (the path-based
    // readers: Generation.read, older generations) see identical rows
    val plain = spark.read.parquet(s"$root/assignments")
      .select("doc_id", "cluster_id").collect().toSet
    assert(plain === out1)
    // resume: a second run with the same inputs + io reuses the stages and
    // reproduces the assignment byte-for-byte
    val r2 = Pipeline.run(spark, docs, cfg, checkpoint = Some(io))
    assert(r2.clusters.select("doc_id", "cluster_id").collect().toSet === out1)
    r2.release()

    // the bucket layout is a property of the FILES: a reader configured
    // with a DIFFERENT bucket count (the config drift --bucketed invites —
    // tuning shuffle partitions between runs) must still see every row and
    // still co-locate, because registration uses the PERSISTED sidecar
    // layout, never the reader's count
    spark.sql(s"DROP TABLE IF EXISTS ${Bucketing.tableNameFor(s"$root/assignments")}")
    val mismatched = new BucketedParquetTableIO(root, buckets = 16)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = mismatched.read(spark, "assignments").select("doc_id", "cluster_id")
      assert(a.collect().toSet === out1, "bucket-count drift dropped rows")
      val j = a.join(mismatched.read(spark, "assignments")
        .select(col("doc_id"), col("cluster_id").as("c2")), "doc_id")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "persisted-layout registration must still co-locate")
    }
    // the fold's actual read path (Generation.read constructs a plain
    // ParquetTableIO) restores co-location from the sidecar too: the
    // --bucketed promise reaches its beneficiary
    spark.sql(s"DROP TABLE IF EXISTS ${Bucketing.tableNameFor(s"$root/assignments")}")
    val foldAssign = graft.pipeline.Generation.read(spark, root).assign
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j2 = foldAssign.join(foldAssign.select(col("doc_id"),
        col("cluster_id").as("c2")), "doc_id")
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
        "Generation.read must restore bucket co-location from the sidecar")
    }
  }

  test("a dir written plain reads plain through any TableIO (no stamped-on bucket metadata)") {
    import graft.pipeline.{BucketedParquetTableIO, ParquetTableIO}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bktplain").toString
    val df = (0L until 100L).map(i => (i, i % 5)).toDF("doc_id", "cluster_id")
    new ParquetTableIO(root).write("assignments", df, resumeKey = 1L)
    // reading a plain dir through the BUCKETED io must not register bucket
    // metadata over plain part files (that scan throws 'Invalid bucket
    // file') — it falls back to a plain read with all rows
    val got = new BucketedParquetTableIO(root, buckets = 8).read(spark, "assignments")
    assert(got.count() === 100)
    assert(Bucketing.readBucketMeta(s"$root/assignments").isEmpty)
  }

  test("sidecar parsing: truncated files fall back to plain; keyless-but-bucketed fails loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bktmeta").toString
    val dir = s"$root/t"
    (0L until 10L).map(i => (i, i)).toDF("doc_id", "v").write.parquet(dir)
    val sidecar = java.nio.file.Paths.get(dir, "_graft_buckets.json")
    // truncated before the key array: no '[' — must read as None (plain),
    // not throw StringIndexOutOfBoundsException
    java.nio.file.Files.writeString(sidecar, """{"buckets":8,"keys":""")
    assert(Bucketing.readBucketMeta(dir).isEmpty)
    assert(Bucketing.readMaybeBucketed(spark, dir).count() === 10)
    // garbage with no buckets field at all — also None
    java.nio.file.Files.writeString(sidecar, """not json at all""")
    assert(Bucketing.readBucketMeta(dir).isEmpty)
    // truncated AFTER '[' with a whole key token intact: parsing the
    // partial list would register CLUSTERED BY (doc_id) for files laid
    // out by (doc_id, block_key) — unterminated list must read as None
    java.nio.file.Files.writeString(sidecar, """{"buckets":8,"keys":["doc_id"""")
    assert(Bucketing.readBucketMeta(dir).isEmpty)
    java.nio.file.Files.writeString(sidecar, """{"buckets":8,"keys":["doc_id",""")
    assert(Bucketing.readBucketMeta(dir).isEmpty)
    // a terminated list with a dangling brace is NOT truncation of the
    // keys — the list is complete and trustworthy
    java.nio.file.Files.writeString(sidecar, """{"buckets":8,"keys":["doc_id"]""")
    assert(Bucketing.readBucketMeta(dir).contains((8, Seq("doc_id"))))
    // buckets parsed but zero keys: registering a keyless CLUSTERED BY
    // would corrupt the co-location contract — loud failure, not a guess
    java.nio.file.Files.writeString(sidecar, """{"buckets":8,"keys":[]}""")
    intercept[IllegalArgumentException](Bucketing.readBucketMeta(dir))
    // keys that cannot round-trip through the sidecar are rejected at WRITE
    intercept[IllegalArgumentException](
      Bucketing.writeBucketMeta(dir, 8, Seq("bad-key!")))
  }
}
