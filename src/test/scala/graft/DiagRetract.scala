package graft

import graft.pipeline.{Incremental, Pipeline}
import graft.synth.Corpus

/** Bench-scale evidence for retraction (BASELINE.md): take down a ~1%
  * removal set from the clustered 102k-doc bench corpus via
  * [[Incremental.retract]], assert EXACT cluster equality against a full
  * re-run over the survivors, and report wall times — the claim under
  * test is that a takedown costs O(touched-cluster members), a small
  * fraction of the full run, because untouched clusters are never
  * re-blocked or re-scored.
  */
object DiagRetract {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val entities = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTITIES", "60000").toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/spark-graft"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val enc: org.apache.spark.sql.Encoder[graft.model.Doc] =
      org.apache.spark.sql.Encoders.product

    val cfg = Corpus.RecommendedConfig
    val all = Corpus.generateDistributed(spark,
        Corpus.Params(entities = entities, minWords = 150, maxWords = 400, seed = 42))
      .map(_.doc).cache()
    val nAll = all.count()
    // ~1% hash-selected takedown (entity-agnostic, so bridge docs are hit)
    val isRemoved = (id: String) => graft.text.Hashing.hash64(id) % 100 == 0
    val removeIds = all.filter((d: graft.model.Doc) => isRemoved(d.doc_id))
      .map(_.doc_id)(org.apache.spark.sql.Encoders.STRING).toDF("doc_id").cache()
    val nRm = removeIds.count()
    val survivors = all.filter((d: graft.model.Doc) => !isRemoved(d.doc_id)).cache()
    println(s"[diag] corpus=$nAll removed=$nRm survivors=${survivors.count()}")

    def time[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[diag] $label: $s%.1f s")
      (a, s)
    }

    // day-0 state: full run over the corpus, checkpointed (yesterday's
    // run — NOT part of the retraction cost)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-diag-retract").toString
    time("day-0 full run (writes state)") {
      val r = Pipeline.run(spark, all, cfg, graft.media.DefaultMedia,
        Some(new graft.pipeline.ParquetTableIO(ckpt)))
      r.clusters.count(); r.release()
    }
    val graft.pipeline.Generation.State(sigs, assign0, _, _) =
      graft.pipeline.Generation.read(spark, ckpt)
    val assign = assign0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assign.count()

    // the alternative being avoided: re-run the whole pipeline on survivors
    val (_, fullCold) = time("full re-run over survivors (cold)") {
      val r = Pipeline.run(spark, survivors, cfg); r.clusters.count(); r.release()
    }
    val (want, fullWarm) = time("full re-run over survivors (warm)") {
      val r = Pipeline.run(spark, survivors, cfg)
      val m = r.clusters.select("doc_id", "cluster_id").collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      r.release(); m
    }

    val (got, retractSec) = time("retract (sigs + assignment from checkpoint)") {
      val res = Incremental.retract(spark, all, assign, removeIds, cfg,
        graft.media.DefaultMedia, Some(sigs))
      val m = res.assignments.collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      res.release(); m
    }

    val missing = want.keySet.diff(got.keySet).size + got.keySet.diff(want.keySet).size
    val diffs = want.count { case (k, v) => got.get(k).exists(_ != v) }
    println(f"[diag] equality: coverage_diff=$missing cluster_diff=$diffs")
    println(f"[diag] SUMMARY corpus=$nAll removed=$nRm retract=$retractSec%.1f s " +
      f"vs full warm=$fullWarm%.1f s cold=$fullCold%.1f s speedup=${fullWarm / retractSec}%.1f x")
    require(missing == 0 && diffs == 0, "retraction diverged from the full re-run")
    spark.stop()
  }
}
