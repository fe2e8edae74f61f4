package graft

import graft.pipeline.{GraftConfig, Linkage}
import graft.synth.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Cross-corpus record linkage gates: linking the base half of a labeled
  * corpus against the perturbed half must recover exactly the cross-side
  * true pairs (bipartite precision/recall 1.0 at the calibrated config),
  * generate no within-side matches by construction, and stay deterministic.
  */
class LinkageSpec extends AnyFunSuite with SparkTestBase {

  // base docs (…-0) on the left, perturbed near-duplicates on the right:
  // ground truth = (base, dup) pairs of entities that HAVE dups
  private lazy val labeled = Corpus.generate(Corpus.Params(entities = 250, seed = 7))
  private lazy val leftSeq = labeled.filter(_.doc.doc_id.endsWith("-0")).map(_.doc)
  private lazy val rightSeq = labeled.filterNot(_.doc.doc_id.endsWith("-0")).map(_.doc)

  private lazy val truthCross: Set[(String, String)] = {
    val rightIds = rightSeq.map(_.doc_id).toSet
    Corpus.truePairs(labeled).flatMap { case (a, b) =>
      if (rightIds.contains(b) && !rightIds.contains(a)) Some((a, b))
      else if (rightIds.contains(a) && !rightIds.contains(b)) Some((b, a))
      else None // within-side pair: not linkage truth
    }
  }

  private def runWith(cfg: GraftConfig) = {
    val s = spark
    val res = Linkage.link(s, s.createDataset(leftSeq)(org.apache.spark.sql.Encoders.product),
      s.createDataset(rightSeq)(org.apache.spark.sql.Encoders.product), cfg)
    val pairs = res.matches.select("left_id", "right_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    res.release()
    (pairs, res.stats)
  }

  private def runOnce() = runWith(Corpus.RecommendedConfig)._1

  private lazy val predicted = runOnce()

  test("bipartite linkage recovers exactly the cross-side true pairs") {
    val tp = (predicted intersect truthCross).size.toDouble
    val precision = if (predicted.isEmpty) 1.0 else tp / predicted.size
    val recall = if (truthCross.isEmpty) 1.0 else tp / truthCross.size
    info(f"linkage precision=$precision%.4f recall=$recall%.4f " +
      s"(truth=${truthCross.size} predicted=${predicted.size})")
    assert(truthCross.nonEmpty, "degenerate corpus: no cross-side true pairs")
    assert(precision == 1.0 && recall == 1.0,
      s"linkage mismatch: missed=${(truthCross -- predicted).take(5)} " +
        s"spurious=${(predicted -- truthCross).take(5)}")
  }

  test("matches are strictly cross-side and oriented left->right") {
    val leftIds = leftSeq.map(_.doc_id).toSet
    val rightIds = rightSeq.map(_.doc_id).toSet
    predicted.foreach { case (l, r) =>
      assert(leftIds.contains(l) && rightIds.contains(r),
        s"pair ($l, $r) is not oriented left->right")
    }
  }

  test("linkage is deterministic across runs") {
    assert(runOnce() == predicted)
  }

  test("salted linkage (tiny hotBlockSize) returns the same matches as the default") {
    // 2, not a larger "small" value: a joinable key here holds a base and
    // its few perturbed copies, so ln + rn rarely exceeds 3
    val (salted, stats) = runWith(Corpus.RecommendedConfig.copy(hotBlockSize = 2))
    assert(stats.saltedBlocks > 0, s"no key took the salted path: $stats")
    assert(salted == predicted,
      s"salted mismatch: missed=${(predicted -- salted).take(5)} " +
        s"spurious=${(salted -- predicted).take(5)}")
  }

  test("degenerate linkage keys (tiny maxBlockSize) are dropped and counted") {
    val (pairs, stats) = runWith(Corpus.RecommendedConfig.copy(maxBlockSize = 1))
    assert(stats.droppedBlocks > 0 && stats.droppedRows > 0, s"nothing dropped: $stats")
    // dropping keys only removes candidacy evidence, never adds a match
    assert(pairs.subsetOf(predicted), s"spurious=${(pairs -- predicted).take(5)}")
  }

  test("self-link equals the self-dedup pipeline's direct edge set") {
    // linkage emits DIRECT matches (no transitive closure), so linking a
    // side against itself must reproduce exactly the edges Pipeline.run
    // scores as duplicates on that side — the same blocking + scoring with
    // the diagonal dropped by the =!= guard. (Cluster-level truth would be
    // WRONG here: two independent perturbations of one base can be
    // connected only through the base, which this side excludes.)
    val s = spark
    val res = Linkage.link(s, s.createDataset(rightSeq)(org.apache.spark.sql.Encoders.product),
      s.createDataset(rightSeq)(org.apache.spark.sql.Encoders.product),
      Corpus.RecommendedConfig)
    val got = res.matches.select("left_id", "right_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    res.release()
    val pipe = graft.pipeline.Pipeline.run(s,
      s.createDataset(rightSeq)(org.apache.spark.sql.Encoders.product),
      Corpus.RecommendedConfig)
    val pipeEdges = pipe.edges.collect().map(r => (r.getString(0), r.getString(1)))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    pipe.release()
    val gotCanon = got.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    assert(got.forall { case (a, b) => a != b }, "diagonal pair leaked")
    // each unordered pair appears exactly once per orientation — duplicate
    // rows here mean the shared-id side-table rejoin fanned out
    assert(got.length == 2 * gotCanon.size,
      s"duplicate match rows: ${got.length} rows for ${gotCanon.size} pairs")
    assert(gotCanon == pipeEdges,
      s"self-link mismatch vs pipeline edges: missed=${(pipeEdges -- gotCanon).take(5)} " +
        s"spurious=${(gotCanon -- pipeEdges).take(5)}")
  }
}
