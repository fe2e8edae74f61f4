package graft

import graft.media.DefaultMedia
import graft.pipeline.{Blocking, Components, Generation, Incremental, Linkage, Pairs, Parallelism, ParquetTableIO, Pipeline, Signatures}
import graft.synth.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental-dedup gate: folding a new batch into an already clustered
  * corpus must produce EXACTLY the clusters of a full run over the union —
  * byte-equal ids, not equal-up-to-relabeling (cluster_id = global min
  * doc_id makes exact equality decidable).
  *
  * Split choice: old corpus = the perturbed duplicates, new batch = the base
  * docs. Two independent perturbations of one base are sometimes NOT direct
  * matches (connected only through the base), so the old run leaves them in
  * separate clusters and the new batch MUST merge old clusters — the spec
  * asserts the remap path actually fires rather than passing vacuously.
  */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {

  private lazy val labeled = Corpus.generate(Corpus.Params(entities = 250, seed = 7))
  private lazy val oldSeq = labeled.filterNot(_.doc.doc_id.endsWith("-0")).map(_.doc)
  private lazy val newSeq = labeled.filter(_.doc.doc_id.endsWith("-0")).map(_.doc)
  private val cfg = Corpus.RecommendedConfig

  private def ds(docs: Seq[graft.model.Doc]) =
    spark.createDataset(docs)(org.apache.spark.sql.Encoders.product)

  /** Run the incremental protocol: cluster `old` fully, fold `new` in,
    * return (full-run truth, incremental result, #old clusters remapped).
    */
  private def protocol(oldDocs: Seq[graft.model.Doc], newDocs: Seq[graft.model.Doc])
      : (Map[String, String], Map[String, String], Long) = {
    val s = spark
    val full = Pipeline.run(s, ds(oldDocs ++ newDocs), cfg)
    val fullMap = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()

    val old = Pipeline.run(s, ds(oldDocs), cfg)
    val oldAssign = old.clusters.select("doc_id", "cluster_id")
      .localCheckpoint(true)
    old.release()
    val oldSigs = Signatures.derive(ds(oldDocs), cfg, graft.media.DefaultMedia)(s)
      .map(_.sig)(org.apache.spark.sql.Encoders.product)

    val inc = Incremental.run(s, oldSigs, Blocking.bandRowsDF(oldSigs, cfg), oldAssign,
      ds(newDocs), cfg)
    val newAssign = inc.assignments.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val remap = inc.remapped.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    inc.release()

    // apply the relabel map to the old assignment (broadcast-join shape in
    // production; a Map here)
    val oldFinal = oldAssign.collect().map { r =>
      val c = r.getString(1)
      (r.getString(0), remap.getOrElse(c, c))
    }.toMap
    (fullMap, oldFinal ++ newAssign, remap.size.toLong)
  }

  private lazy val outcome = protocol(oldSeq, newSeq)

  test("incremental result equals the full run over old ∪ new, exactly") {
    val (fullMap, incMap, _) = outcome
    assert(incMap.keySet == fullMap.keySet, "doc coverage differs")
    val diffs = fullMap.collect {
      case (id, c) if incMap(id) != c => (id, c, incMap(id))
    }
    assert(diffs.isEmpty, s"cluster mismatch for ${diffs.size} docs, e.g. ${diffs.take(5)}")
  }

  test("the batch actually merges old clusters (remap path exercised)") {
    val (_, _, nRemapped) = outcome
    info(s"old clusters remapped: $nRemapped")
    assert(nRemapped > 0, "split produced no old-cluster merges — the spec is vacuous")
  }

  test("batch with exact copies pre-collapses and still equals the full run") {
    // exact copies INSIDE the batch (id sorts after the original, so the
    // original stays representative) plus a copy of an OLD doc — the
    // former exercises the within-batch digest collapse, the latter the
    // fuzzy identical-content path across the boundary
    val inBatchBase = newSeq.head
    val oldBase = oldSeq.head
    val copies = (1 to 3).map(i =>
      graft.model.Doc(s"${inBatchBase.doc_id}x$i", inBatchBase.spans)) :+
      graft.model.Doc(s"${oldBase.doc_id}zcopy", oldBase.spans)
    val (fullMap, incMap, _) = protocol(oldSeq, newSeq ++ copies)
    assert(incMap.keySet == fullMap.keySet)
    val diffs = fullMap.collect {
      case (id, c) if incMap(id) != c => (id, c, incMap(id))
    }
    assert(diffs.isEmpty, s"cluster mismatch with copies: ${diffs.take(5)}")
    // the in-batch copies must cluster under their representative
    copies.dropRight(1).foreach { c =>
      assert(incMap(c.doc_id) == incMap(inBatchBase.doc_id),
        s"copy ${c.doc_id} not clustered with its representative")
    }
    // the cross-boundary copy must land in the old doc's cluster
    assert(incMap(s"${oldBase.doc_id}zcopy") == incMap(oldBase.doc_id),
      "cross-boundary exact copy not linked to the old doc's cluster")
  }

  test("multi-generation loop: fold from checkpoint, writeState, fold again") {
    val s = spark
    val gen0 = java.nio.file.Files.createTempDirectory("graft-inc-gen0").toString
    val gen1 = java.nio.file.Files.createTempDirectory("graft-inc-gen1").toString
    val (batch1, batch2) = newSeq.splitAt(newSeq.size / 2)

    // generation 0: full pipeline run, checkpointed
    val old = Pipeline.run(s, ds(oldSeq), cfg, checkpoint = Some(new ParquetTableIO(gen0)))
    old.clusters.count()
    old.release()

    // gen0 carries the checkpointed bands stage (written by Pipeline.run);
    // day 1's fromCheckpoint fold reads it
    assert(Generation.read(s, gen0).bands.count() > 0, "gen0 bands stage is empty")

    // day 1: fold batch1 from gen0's stage tables, persist generation 1
    val inc1 = Incremental.fromCheckpoint(s, gen0, ds(batch1), cfg)
    val Generation.State(sigs0, assign0, _, _, _) = Generation.read(s, gen0)
    assert(sigs0.count() == oldSeq.size && assign0.count() == oldSeq.size)
    // the fold's own representative signatures (inc1.batchSigs) are the
    // batch side of the next generation — no re-derivation
    val gen1Sigs = sigs0.unionByName(inc1.batchSigs)
    Generation.write(s, gen1,
      gen1Sigs,
      Incremental.applyRemap(assign0, inc1.remapped).unionByName(inc1.assignments),
      key = 20260817L,
      bands = graft.pipeline.Blocking.bandRowsDF(gen1Sigs, cfg))
    inc1.release()
    assert(Generation.read(s, gen1).bands.count() > 0, "gen1 bands stage is empty")

    // day 2: fold batch2 from the WRITTEN generation (reading gen1's
    // checkpointed bands) — no full run anywhere
    val inc2 = Incremental.fromCheckpoint(s, gen1, ds(batch2), cfg)
    val Generation.State(sigs1, assign1, _, _, _) = Generation.read(s, gen1)
    assert(sigs1.count() == oldSeq.size + batch1.size)
    val finalMap = Incremental.applyRemap(assign1, inc2.remapped)
      .unionByName(inc2.assignments)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    inc2.release()

    val full = Pipeline.run(s, ds(oldSeq ++ newSeq), cfg)
    val fullMap = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()
    assert(finalMap == fullMap, "two-generation fold diverged from the full run")
  }

  test("readState rejects a mixed-generation checkpoint dir") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-mixed").toString
    val old = Pipeline.run(s, ds(oldSeq.take(40)), cfg, checkpoint = Some(new ParquetTableIO(dir)))
    old.clusters.count()
    old.release()
    // simulate a run killed between the signatures and assignments writes:
    // corrupt the assignments manifest's resume key
    val m = java.nio.file.Paths.get(dir, "assignments", "_graft_manifest.json")
    val json = java.nio.file.Files.readString(m)
    java.nio.file.Files.writeString(m,
      json.replaceAll("\"resume_key\":\"-?\\d+\"", "\"resume_key\":\"12345\""))
    val e = intercept[IllegalStateException] { Generation.read(s, dir) }
    assert(e.getMessage.contains("not a consistent generation"))
  }

  test("a failed fold releases every relation it persisted") {
    val s = spark
    val old = Pipeline.run(s, ds(oldSeq.take(40)), cfg)
    val oldAssign = old.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
    old.release()
    val oldSigs = Signatures.derive(ds(oldSeq.take(40)), cfg, graft.media.DefaultMedia)(s)
      .map(_.sig)(org.apache.spark.sql.Encoders.product)
    val before = s.sparkContext.getPersistentRDDs.keySet
    // an assignment table missing cluster_id resolves fine through the
    // new×new leg (the batch's stages persisted and forced) and throws at
    // the supernode-contraction select — the failure-path registry must
    // unwind everything persisted up to that point
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.run(s, oldSigs, Blocking.bandRowsDF(oldSigs, cfg), oldAssign.select("doc_id"),
        ds(newSeq.take(20)), cfg)
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed fold stranded persisted RDDs: ${leaked.toSeq.sorted}")
  }

  test("a fold whose band join fails releases the checkpoint's fold inputs") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-badbands").toString
    val old = Pipeline.run(s, ds(oldSeq.take(40)), cfg, checkpoint = Some(new ParquetTableIO(dir)))
    old.clusters.count()
    old.release()
    // a generation whose corpus bands lack the simhash prefilter column:
    // the linkage census reads only block_key, so it materializes both band
    // relations (and the persisted fold inputs) before the band join fails
    // to resolve the missing column
    val st = Generation.read(s, dir)
    val bad = java.nio.file.Files.createTempDirectory("graft-inc-badbands-gen").toString
    Generation.write(s, bad, st.sigs, st.assign, st.key, st.bands.drop("simhash"))
    val before = s.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.fromCheckpoint(s, bad, ds(newSeq.take(20)), cfg)
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed fold stranded persisted RDDs: ${leaked.toSeq.sorted}")
  }

  test("a fold on 64 partitions runs every stage past the batch scan at the corpus's sized width") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-width").toString
    val old = Pipeline.run(s, ds(oldSeq), cfg, checkpoint = Some(new ParquetTableIO(dir)))
    old.clusters.count()
    old.release()
    val batch = newSeq.take(30)
    def batchDs = s.createDataset(s.sparkContext.parallelize(batch, 64))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    SparkTestBase.withShufflePartitions(s, 64) {
      val st = Generation.read(s, dir)
      assert(st.docs === oldSeq.size, "the manifest doc count")
      val sized = Parallelism.sized(s, st.docs)
      assert(sized === 4)
      var got = Map.empty[String, String]
      val stages = SparkTestBase.stagesDuring(s) {
        val inc = Incremental.fromCheckpoint(s, dir, batchDs, cfg)
        got = pairs(inc.assignments)
        inc.release()
      }
      // the batch's input scan reads its 64 partitions before the count is
      // known; every later stage runs at the sized width or narrower
      assert(stages.head.numTasks === 64)
      val wide = SparkTestBase.wideStages(stages.tail, sized)
      assert(wide.isEmpty, wide.mkString("\n"))

      // the same fold at width 64 throughout: the batch's self-join and the
      // linkage through the stage functions at the session width (the batch
      // holds no exact copies, so there is nothing to collapse)
      val bSigs = Signatures.derive(batchDs, cfg, DefaultMedia).map(_.sig).persist()
      val (cands, _, releaseBands) = Blocking.candidatePairs(bSigs, cfg)
      val candidates = cands.persist()
      candidates.count()
      releaseBands()
      val cross = Linkage.linkSigs(s, bSigs, Parallelism.widen(st.sigs), cfg,
        Some(Parallelism.widen(st.bands)))
      val crossEdges = cross.matches
        .join(st.assign.withColumnRenamed("doc_id", "right_id"), Seq("right_id"))
        .select(col("left_id").as("src"), col("cluster_id").as("dst")).distinct()
      val comp = pairs(Components.connectedComponents(
        Pairs.edges(Pairs.score(candidates, bSigs, cfg)).unionByName(crossEdges),
        cfg.maxCcIterations))
      cross.release()
      Seq(bSigs, candidates).foreach(_.unpersist())
      assert(comp.nonEmpty, "the batch links nothing: the comparison is vacuous")
      assert(got == batch.map(d => d.doc_id -> comp.getOrElse(d.doc_id, d.doc_id)).toMap)
    }
  }
}
