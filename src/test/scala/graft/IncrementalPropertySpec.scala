package graft

import graft.pipeline.{Blocking, Incremental, Pipeline, Signatures}
import graft.synth.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Property-style widening of the incremental equality gate: across
  * several corpus seeds and RANDOM hash-based old/new splits (different
  * split salt per case), fold(old, new) must byte-equal the full run.
  * Random doc-level splits scatter each entity's base and perturbed dups
  * across the boundary arbitrarily — every combination of (old-only
  * cluster, new-only cluster, straddling cluster, singleton) occurs.
  */
class IncrementalPropertySpec extends AnyFunSuite with SparkTestBase {

  private val cfg = Corpus.RecommendedConfig

  private def check(corpusSeed: Long, splitSalt: Long, newFrac: Int): Unit = {
    val s = spark
    val labeled = Corpus.generate(Corpus.Params(entities = 90, seed = corpusSeed))
    val docs = labeled.map(_.doc)
    val isNew = (id: String) =>
      Math.floorMod(graft.text.Hashing.hash64(splitSalt, graft.text.Hashing.hash64(id)), 10L) < newFrac
    val oldSeq = docs.filterNot(d => isNew(d.doc_id))
    val newSeq = docs.filter(d => isNew(d.doc_id))
    assert(oldSeq.nonEmpty && newSeq.nonEmpty, s"degenerate split seed=$corpusSeed salt=$splitSalt")
    def ds(xs: Seq[graft.model.Doc]) =
      s.createDataset(xs)(org.apache.spark.sql.Encoders.product)

    val full = Pipeline.run(s, ds(docs), cfg)
    val fullMap = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()

    val old = Pipeline.run(s, ds(oldSeq), cfg)
    val oldAssign = old.clusters.select("doc_id", "cluster_id").localCheckpoint(true)
    old.release()
    val oldSigs = Signatures.derive(ds(oldSeq), cfg, graft.media.DefaultMedia)(s)
      .map(_.sig)(org.apache.spark.sql.Encoders.product)

    val inc = Incremental.run(s, oldSigs, Blocking.bandRowsDF(oldSigs, cfg), oldAssign,
      ds(newSeq), cfg)
    val incMap = Incremental.applyRemap(oldAssign, inc.remapped)
      .unionByName(inc.assignments)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    inc.release()

    val diffs = fullMap.collect { case (id, c) if incMap(id) != c => (id, c, incMap(id)) }
    assert(incMap.keySet == fullMap.keySet && diffs.isEmpty,
      s"seed=$corpusSeed salt=$splitSalt newFrac=$newFrac: ${diffs.take(5)}")
  }

  test("fold == full run across random seeds, split salts, and batch fractions") {
    // 4 cases spanning small and large batch fractions
    check(corpusSeed = 11L, splitSalt = 1L, newFrac = 2)
    check(corpusSeed = 23L, splitSalt = 7L, newFrac = 5)
    check(corpusSeed = 37L, splitSalt = 13L, newFrac = 8)
    check(corpusSeed = 51L, splitSalt = 29L, newFrac = 3)
  }
}
