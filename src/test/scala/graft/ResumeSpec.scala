package graft

import graft.pipeline.{Checkpoints, ParquetTableIO, Pipeline}
import graft.synth.Corpus
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** North-rule resumability: per-stage materialized tables + manifests;
  * a rerun resumes from completed stages (no recompute) and the final
  * clusters are identical.
  */
class ResumeSpec extends AnyFunSuite with SparkTestBase {

  private def tempDir(): Path = Files.createTempDirectory("graft-ckpt")

  test("pipeline run with checkpointing writes stage manifests with metrics") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 60)).map(_.doc))
    Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir)))
      .clusters.count()
    Seq("signatures", "candidates", "scored", "clusters").foreach { stage =>
      val m = java.nio.file.Paths.get(dir, stage, "_graft_manifest.json")
      assert(Files.exists(m), s"missing manifest for $stage")
      val json = Files.readString(m)
      assert(json.contains("\"rows\":") && json.contains("\"wall_ms\":") &&
        json.contains("\"partitions\":"), s"manifest $stage lacks metrics: $json")
    }
  }

  test("rerun resumes: completed stages are not recomputed, clusters identical") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 60)).map(_.doc))
    val first = Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir)))
      .clusters.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val sigManifest = java.nio.file.Paths.get(dir, "signatures", "_graft_manifest.json")
    val mtime = Files.getLastModifiedTime(sigManifest)
    Thread.sleep(20)
    val second = Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir)))
      .clusters.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(Files.getLastModifiedTime(sigManifest) == mtime,
      "signatures stage was recomputed on resume")
    assert(first == second)
  }

  test("resume skips the hot-key census entirely (no eager O(corpus) collect)") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 40)).map(_.doc))
    // a job "points into" Blocking.scala when one of its stages was
    // submitted from there: the stage name is the short call site, the
    // details the long one. The census collect() is the largest scan in
    // the pipeline and used to run eagerly at plan-construction time,
    // before the manifest check, wasting a full band pass on every resume.
    def blockingJobs(body: => Unit): Seq[String] =
      SparkTestBase.jobStartsDuring(s)(body).flatMap(_.stageInfos)
        .map(si => s"${si.name}\n${si.details}").filter(_.contains("Blocking.scala"))
    val fresh = blockingJobs {
      Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir)))
        .clusters.count()
    }
    // the detector sees the census when it does run
    assert(fresh.exists(_.startsWith("collect at Blocking.scala")),
      s"no census job detected on the first run: $fresh")
    var r2: Pipeline.Result = null
    val resumed = blockingJobs {
      r2 = Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir)))
      r2.clusters.count()
    }
    r2.release()
    assert(resumed.isEmpty,
      s"a fully-resumed pipeline ran Spark jobs from Blocking.scala: $resumed")
    // and the contract value: nothing was dropped/salted THIS run
    assert(r2.stats == graft.pipeline.Blocking.BlockStats(0L, 0L, 0L))
  }

  test("a fully resumed run reads each input row once: one scan keys, sizes and collapses it") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val base = Corpus.generate(Corpus.Params(entities = 40)).map(_.doc)
    assert(base.map(_.spans).distinct.size == base.size, "the corpus must hold no exact copies")
    val reads = s.sparkContext.longAccumulator("input rows read")
    val docs = s.createDataset(base).map { d => reads.add(1); d }
    def run(): Set[(String, String)] = {
      val r = Pipeline.run(s, docs, Corpus.RecommendedConfig,
        checkpoint = Some(new ParquetTableIO(dir)))
      val out = r.clusters.collect().map(x => (x.getString(0), x.getString(1))).toSet
      r.release()
      out
    }
    val first = run()
    reads.reset()
    val second = run()
    assert(reads.value == base.size, s"${reads.value} input rows read for ${base.size} docs")
    assert(first == second)
  }

  test("config change invalidates the resume key and forces recompute") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 30)).map(_.doc))
    Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    val sigManifest = java.nio.file.Paths.get(dir, "signatures", "_graft_manifest.json")
    val mtime = Files.getLastModifiedTime(sigManifest)
    Thread.sleep(20)
    Pipeline.run(s, docs, Corpus.RecommendedConfig.copy(mediaThreshold = 12),
      checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    assert(Files.getLastModifiedTime(sigManifest) != mtime,
      "changed config must recompute the stage")
  }

  test("input-data change invalidates the resume key and forces recompute") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 30)).map(_.doc))
    Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    val sigManifest = java.nio.file.Paths.get(dir, "signatures", "_graft_manifest.json")
    val mtime = Files.getLastModifiedTime(sigManifest)
    Thread.sleep(20)
    // same config, DIFFERENT input: stale stage tables must not be reused
    val docs2 = s.createDataset(Corpus.generate(Corpus.Params(entities = 31)).map(_.doc))
    Pipeline.run(s, docs2, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    assert(Files.getLastModifiedTime(sigManifest) != mtime,
      "signatures stage reused a checkpoint from different input data")
  }

  test("content change under STABLE doc_ids invalidates the resume key") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val base = Corpus.generate(Corpus.Params(entities = 30)).map(_.doc)
    val docs = s.createDataset(base)
    Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    val sigManifest = java.nio.file.Paths.get(dir, "signatures", "_graft_manifest.json")
    val mtime = Files.getLastModifiedTime(sigManifest)
    Thread.sleep(20)
    // same doc_id SET, one doc's spans edited: an id-only digest would
    // silently reuse every stale stage table (round-2 advisory)
    val edited = base.map { d =>
      if (d.doc_id == base.head.doc_id)
        d.copy(spans = d.spans.map(sp =>
          if (sp.kind == "text") sp.copy(text = sp.text + " EDITED") else sp))
      else d
    }
    Pipeline.run(s, s.createDataset(edited), Corpus.RecommendedConfig,
      checkpoint = Some(new ParquetTableIO(dir))).clusters.count()
    assert(Files.getLastModifiedTime(sigManifest) != mtime,
      "signatures stage reused a checkpoint after doc CONTENT changed")
  }

  test("a failed run releases every relation it persisted") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    // exact copies make stage 0 persist its pre-collapse mapping; the
    // candidates stage persists its band relation before the write fails
    val docs = s.createDataset(Corpus.generate(
      Corpus.Params(entities = 30, hotEntityCopies = 4)).map(_.doc))
    val failing = new ParquetTableIO(dir) {
      override protected def writeData(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        if (name == "candidates") throw new java.io.IOException("injected candidates write failure")
        else super.writeData(name, df)
    }
    val before = s.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException] {
      Pipeline.run(s, docs, Corpus.RecommendedConfig, checkpoint = Some(failing))
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed run stranded persisted RDDs: ${leaked.toSeq.sorted}")
  }

  test("a killed run resumes mid-pipeline: later stages compute, earlier ones reuse") {
    implicit val s = spark
    import s.implicits._
    val dir = tempDir().toString
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 30)).map(_.doc))
    val cfg = Corpus.RecommendedConfig
    val io = new ParquetTableIO(dir)
    // simulate a run that died after the signature stage: only that stage exists
    val key = Pipeline.resumeBaseKey(docs, cfg)
    Checkpoints.stage(s, io, "signatures", key) {
      graft.pipeline.Signatures.derive(docs, cfg, graft.media.DefaultMedia)(s).toDF()
    }
    assert(io.completedKey("signatures").contains(key))
    assert(io.completedKey("candidates").isEmpty)
    // full run picks up from there
    val r = Pipeline.run(s, docs, cfg, checkpoint = Some(new ParquetTableIO(dir)))
    assert(r.clusters.count() == docs.count())
    assert(io.completedKey("clusters").isDefined)
  }
}
