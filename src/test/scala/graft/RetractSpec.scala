package graft

import graft.model.Doc
import graft.pipeline.{Incremental, Pipeline, Signatures}
import graft.synth.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Retraction gate: deleting documents from a clustered corpus via
  * [[Incremental.retract]] must produce EXACTLY the clusters of a full run
  * over the remaining docs — byte-equal ids (cluster_id = min member makes
  * exact equality decidable), including cluster SPLITS when a bridge doc
  * is removed and relabels when a cluster's min-id member is removed.
  */
class RetractSpec extends AnyFunSuite with SparkTestBase {

  private lazy val labeled = Corpus.generate(Corpus.Params(entities = 250, seed = 11))
  private val cfg = Corpus.RecommendedConfig

  private def ds(docs: Seq[Doc]) =
    spark.createDataset(docs)(org.apache.spark.sql.Encoders.product)

  private def clustersOf(docs: Seq[Doc]): Map[String, String] = {
    val r = Pipeline.run(spark, ds(docs), cfg)
    val m = r.clusters.select("doc_id", "cluster_id").collect()
      .map(row => (row.getString(0), row.getString(1))).toMap
    r.release()
    m
  }

  /** Cluster `all` fully, retract `removed`, and return
    * (full-re-run truth over the remainder, retract output, #touched).
    * `sigDocs`, when set, plays the checkpointed signature stage (derived
    * over exactly those docs) to exercise the reuse path.
    */
  private def protocol(all: Seq[Doc], removed: Set[String],
                       sigDocs: Option[Seq[Doc]] = None)
      : (Map[String, String], Map[String, String], Long) = {
    val s = spark
    val full = Pipeline.run(s, ds(all), cfg)
    val assign = full.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
    full.release()
    val sigs = sigDocs.map(d =>
      Signatures.derive(ds(d), cfg, graft.media.DefaultMedia)(s)
        .map(_.sig)(org.apache.spark.sql.Encoders.product))

    import s.implicits._
    val res = Incremental.retract(s, ds(all), assign,
      removed.toSeq.toDF("doc_id"), cfg, graft.media.DefaultMedia, sigs)
    val got = res.assignments.collect()
      .map(row => (row.getString(0), row.getString(1))).toMap
    val nTouched = res.touched.count()
    res.release()

    val want = clustersOf(all.filterNot(d => removed(d.doc_id)))
    (want, got, nTouched)
  }

  private def assertEqualClusters(want: Map[String, String],
                                  got: Map[String, String]): Unit = {
    assert(got.keySet == want.keySet, "doc coverage differs")
    val diffs = want.collect { case (id, c) if got(id) != c => (id, c, got(id)) }
    assert(diffs.isEmpty, s"cluster mismatch for ${diffs.size} docs, e.g. ${diffs.take(5)}")
  }

  test("retracting every base doc equals a full re-run — bridge removals split clusters") {
    val all = labeled.map(_.doc)
    val removed = all.map(_.doc_id).filter(_.endsWith("-0")).toSet
    val before = clustersOf(all)
    val (want, got, nTouched) = protocol(all, removed)
    assertEqualClusters(want, got)
    assert(nTouched > 0)
    // non-vacuity: some surviving pair that shared a cluster got SPLIT —
    // i.e. the removed base was the bridge between its perturbations
    val survivors = before.view.filterKeys(!removed(_)).toMap
    val byOld = survivors.groupBy(_._2).values
    val splitExists = byOld.exists { grp =>
      grp.keysIterator.map(got).toSet.size > 1
    }
    assert(splitExists, "no cluster split — the bridge-removal path was not exercised")
  }

  test("retracting min-id members relabels surviving clusters exactly") {
    val all = labeled.map(_.doc)
    val before = clustersOf(all)
    // remove each multi-member cluster's minimum (its id-giving doc)
    val removed = before.groupBy(_._2).values
      .filter(_.size > 1).map(_.keysIterator.min).toSet
    assert(removed.nonEmpty)
    val (want, got, _) = protocol(all, removed)
    assertEqualClusters(want, got)
    // survivors whose cluster was NAMED by a removed min now carry a new id
    val relabeled = before.collect {
      case (id, c) if !removed(id) && removed(c) => id
    }
    assert(relabeled.nonEmpty, "no surviving cluster lost its id-giving doc — vacuous")
    relabeled.foreach(id => assert(!removed(got(id)), s"$id still labeled by a removed doc"))
  }

  test("retracting a removed representative promotes its exact copy (signature reuse path)") {
    val base = labeled.map(_.doc)
    // exact copies of the first 10 base docs; "-copy" sorts after "-0",
    // so the original stays the pre-collapse representative
    val copied = base.filter(_.doc_id.endsWith("-0")).take(10)
    val copies = copied.map(d => d.copy(doc_id = d.doc_id + "-copy"))
    val all = base ++ copies
    val removed = copied.map(_.doc_id).toSet
    // the signature stage only ever holds representatives: derive it over
    // the base docs, so every promoted copy MUST take the fresh-derivation
    // path inside retract
    val (want, got, _) = protocol(all, removed, sigDocs = Some(base))
    assertEqualClusters(want, got)
    // the copies survive and cluster under ids not involving the removed reps
    copies.foreach(c => assert(got.contains(c.doc_id)))
  }

  test("retract composes with next-day folds: writeState → fromCheckpoint equals a full run") {
    import graft.pipeline.{Blocking, Generation, Incremental, ParquetTableIO}
    val s = spark
    import s.implicits._
    val all = labeled.map(_.doc)
    // day 0 corpus = everything except "-1" docs; day 2 batch = the "-1" docs
    val batch = all.filter(_.doc_id.endsWith("-1"))
    val oldDocs = all.filterNot(_.doc_id.endsWith("-1"))
    // day 1: a takedown of 60 base docs
    val removed = oldDocs.map(_.doc_id).filter(_.endsWith("-0")).take(60).toSet

    val gen0 = java.nio.file.Files.createTempDirectory("graft-retract-gen0").toString
    val full0 = Pipeline.run(s, ds(oldDocs), cfg, graft.media.DefaultMedia,
      Some(new ParquetTableIO(gen0)))
    full0.clusters.count()
    full0.release()
    val Generation.State(sigs0, assign0, _, _, _) = Generation.read(s, gen0)

    val res = Incremental.retract(s, ds(oldDocs), assign0,
      removed.toSeq.toDF("doc_id"), cfg, graft.media.DefaultMedia, Some(sigs0))
    val nextSigs = Incremental.applyRetractSigs(sigs0, res)
    val gen1 = java.nio.file.Files.createTempDirectory("graft-retract-gen1").toString
    Generation.write(s, gen1, nextSigs, res.assignments,
      graft.text.Hashing.hash64(0xdeadL, 1L),
      Blocking.bandRowsDF(nextSigs, cfg))
    res.release()

    val inc = Incremental.fromCheckpoint(s, gen1, ds(batch), cfg)
    val foldMap = inc.assignments.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val remap = inc.remapped.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val assign1 = Generation.read(s, gen1).assign
    val baseMap = assign1.collect().map { r =>
      val c = r.getString(1)
      (r.getString(0), remap.getOrElse(c, c))
    }.toMap
    inc.release()

    val want = clustersOf(oldDocs.filterNot(d => removed(d.doc_id)) ++ batch)
    assertEqualClusters(want, baseMap ++ foldMap)
    // non-vacuity: the fold really linked batch docs into the retracted corpus
    assert(foldMap.exists { case (id, c) => c != id })
  }

  test("retracting whole clusters and unknown ids is exact and a no-op respectively") {
    val all = labeled.map(_.doc)
    val before = clustersOf(all)
    val someCluster = before.groupBy(_._2).values.filter(_.size > 2).head.keySet
    val removed = someCluster ++ Set("not-a-doc-1", "not-a-doc-2")
    val (want, got, nTouched) = protocol(all, removed)
    assertEqualClusters(want, got)
    assert(nTouched == 1) // the unknown ids touched nothing
    assert(someCluster.forall(id => !got.contains(id)))
  }

  test("a failed retract releases every relation it persisted (coverage-violation path)") {
    val s = spark
    import s.implicits._
    val all = labeled.map(_.doc)
    val full = Pipeline.run(s, ds(all), cfg)
    val assign = full.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
    full.release()
    val removed = all.map(_.doc_id).filter(_.endsWith("-0")).toSet
    val before = s.sparkContext.getPersistentRDDs.keySet
    // the doc table carries ONLY the removed docs, so every touched
    // cluster's survivors are uncovered — the hard precondition throws
    // AFTER rm/touched/memberDocs were persisted; the failure-path
    // registry must unwind them (a takedown loop in a long-running
    // driver would otherwise strand blocks on every bad batch)
    val ex = intercept[IllegalArgumentException] {
      Incremental.retract(s, ds(all.filter(d => removed(d.doc_id))), assign,
        removed.toSeq.toDF("doc_id"), cfg)
    }
    assert(ex.getMessage.contains("does not cover"))
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed retract stranded persisted RDDs: ${leaked.toSeq.sorted}")
  }
}
