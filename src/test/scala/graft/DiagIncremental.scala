package graft

import graft.pipeline.{Incremental, Pipeline, Signatures}
import graft.synth.Corpus
import org.apache.spark.sql.functions._

/** Bench-scale evidence for incremental dedup (BASELINE.md): fold a ~10%
  * batch into the already clustered 90% of the 102k-doc bench corpus,
  * assert EXACT cluster equality against a full re-run over the union, and
  * report wall times — the claim under test is that the incremental fold
  * costs a small fraction of the full run because old×old pairs are never
  * re-scored.
  *
  * Split is by doc hash (not entity), so duplicates of one entity straddle
  * the old/new boundary and the cross-linkage + old-cluster-merge paths
  * carry real volume.
  */
object DiagIncremental {
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
    val isNew = (id: String) => graft.text.Hashing.hash64(id) % 10 == 0
    val oldDocs = all.filter((d: graft.model.Doc) => !isNew(d.doc_id)).cache()
    val newDocs = all.filter((d: graft.model.Doc) => isNew(d.doc_id)).cache()
    val (nOld, nNew) = (oldDocs.count(), newDocs.count())
    println(s"[diag] corpus=$nAll old=$nOld new=$nNew")

    def time[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[diag] $label: $s%.1f s")
      (a, s)
    }

    // warm-up + ground truth: full run over the union (2 trials, keep warm)
    val (_, fullCold) = time("full run (cold)") {
      val r = Pipeline.run(spark, all, cfg); r.clusters.count(); r.release()
    }
    val (fullMap, fullWarm) = time("full run (warm)") {
      val r = Pipeline.run(spark, all, cfg)
      val m = r.clusters.select("doc_id", "cluster_id").collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      r.release(); m
    }

    // existing state (NOT part of the incremental cost: it is yesterday's run)
    val old = Pipeline.run(spark, oldDocs, cfg)
    val oldAssign = old.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
    old.release()
    val oldSigs = Signatures.derive(oldDocs, cfg, graft.media.DefaultMedia)(spark)
      .map(_.sig)(org.apache.spark.sql.Encoders.product)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    oldSigs.count() // the checkpointed signature table a production run reads

    val ((newAssign, remap), incSec) = time("incremental fold (rederives old bands)") {
      val inc = Incremental.run(spark, oldSigs, oldAssign, newDocs, cfg)
      val a = inc.assignments.collect().map(x => (x.getString(0), x.getString(1))).toMap
      val m = inc.remapped.collect().map(x => (x.getString(0), x.getString(1))).toMap
      inc.release(); (a, m)
    }

    // production shape: the old corpus's band relation is checkpointed by
    // the previous run — build it outside the timed window, then fold
    val oldBands = graft.pipeline.Blocking.bandRowsDF(oldSigs, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    oldBands.count()
    val ((newAssign2, remap2), incBandSec) = time("incremental fold (persisted old bands)") {
      val inc = Incremental.run(spark, oldSigs, oldAssign, newDocs, cfg,
        existingBands = Some(oldBands))
      val a = inc.assignments.collect().map(x => (x.getString(0), x.getString(1))).toMap
      val m = inc.remapped.collect().map(x => (x.getString(0), x.getString(1))).toMap
      inc.release(); (a, m)
    }
    require(newAssign2 == newAssign && remap2 == remap,
      "persisted-band fold diverged from the rederiving fold")

    // FULL production path: yesterday's run checkpointed to parquet
    // (signatures + bands + assignments stages), today's fold reads every
    // piece of old-corpus state from disk via fromCheckpoint — no
    // in-memory carryover at all (state write is outside the timed window:
    // it is yesterday's cost)
    val genDir = java.nio.file.Files.createTempDirectory("graft-diag-gen").toString
    val oldCk = Pipeline.run(spark, oldDocs, cfg,
      checkpoint = Some(new graft.pipeline.ParquetTableIO(genDir)))
    oldCk.clusters.count(); oldCk.release()
    val ((newAssign3, remap3), incCkSec) = time("incremental fold (fromCheckpoint: parquet sigs+bands)") {
      val inc = Incremental.fromCheckpoint(spark, genDir, newDocs, cfg)
      val a = inc.assignments.collect().map(x => (x.getString(0), x.getString(1))).toMap
      val m = inc.remapped.collect().map(x => (x.getString(0), x.getString(1))).toMap
      inc.release(); (a, m)
    }
    require(newAssign3 == newAssign && remap3 == remap,
      "fromCheckpoint fold diverged from the in-memory folds")

    // --bucketed generation (verdict r4 item 3): the same state written
    // CLUSTERED BY its join keys (assignments/clusters by doc_id, bands by
    // block_key), then the identical pure-disk fold. Wall delta vs the
    // plain-parquet fold above + plan evidence (no Exchange on the state
    // side of the id joins / band-key aggregates) recorded in BASELINE.md.
    val genDirB = java.nio.file.Files.createTempDirectory("graft-diag-genb").toString
    val io = new graft.pipeline.BucketedParquetTableIO(genDirB,
      buckets = spark.sessionState.conf.numShufflePartitions)
    val oldCkB = Pipeline.run(spark, oldDocs, cfg, checkpoint = Some(io))
    oldCkB.clusters.count(); oldCkB.release()
    val ((newAssign4, remap4), incCkBSec) = time("incremental fold (fromCheckpoint: BUCKETED sigs+bands)") {
      val inc = Incremental.fromCheckpoint(spark, genDirB, newDocs, cfg)
      val a = inc.assignments.collect().map(x => (x.getString(0), x.getString(1))).toMap
      val m = inc.remapped.collect().map(x => (x.getString(0), x.getString(1))).toMap
      inc.release(); (a, m)
    }
    require(newAssign4 == newAssign && remap4 == remap,
      "bucketed fromCheckpoint fold diverged from the plain fold")
    // plan evidence, with broadcast off so the shuffle question is visible
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "(?<!Broadcast)Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val stateB = graft.pipeline.Generation.read(spark, genDirB)
    val assignB = stateB.assign
    val idJoin = assignB.join(assignB.select(col("doc_id"),
      col("cluster_id").as("c2")), "doc_id")
    val bandsB = stateB.bands.get
    val bandAgg = bandsB.groupBy("block_key").agg(count(lit(1)))
    println(s"[diag] BUCKETED plan evidence: assignments id-self-join exchanges=${exchanges(idJoin)} " +
      s"band-key aggregate exchanges=${exchanges(bandAgg)} (0 = state side never reshuffles)")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)

    val incMap = oldAssign.collect().map { r =>
      val c = r.getString(1); (r.getString(0), remap.getOrElse(c, c))
    }.toMap ++ newAssign
    val diffs = fullMap.count { case (id, c) => incMap(id) != c }
    println(s"[diag] remapped_old_clusters=${remap.size} cluster_diffs_vs_full=$diffs")
    println(f"[diag] RESULT full_warm=$fullWarm%.1f s incremental=$incSec%.1f s " +
      f"(persisted bands: $incBandSec%.1f s, speedup=${fullWarm / incBandSec}%.1f x) " +
      f"(cold full: $fullCold%.1f s)")
    require(diffs == 0, s"incremental != full: $diffs docs differ")
    spark.stop()
  }
}
