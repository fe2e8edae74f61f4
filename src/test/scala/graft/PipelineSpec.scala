package graft

import graft.media.{DefaultMedia, SynthMedia}
import graft.model.{Doc, Span}
import graft.pipeline.{Blocking, Components, GraftConfig, Incremental, Pairs, Parallelism, Pipeline, Signatures}
import graft.synth.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end gates from BASELINE.json: pairwise F1 ≥ 0.99 on the labeled
  * synthetic interleaved corpus, span-sequence invariant, determinism.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val labeled = Corpus.generate(Corpus.Params(entities = 300, seed = 42))
  private lazy val docsSeq = labeled.map(_.doc)

  private def runOnce() = {
    implicit val s = spark
    import s.implicits._
    val docs = s.createDataset(docsSeq)
    Pipeline.run(s, docs, Corpus.RecommendedConfig)
  }

  private lazy val result = runOnce()

  test("pairwise F1 >= 0.99 on the labeled synthetic corpus (north rule)") {
    val truth = Corpus.truePairs(labeled)
    val clusters = result.clusters.select("doc_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val predicted = clusters.groupBy(_._2).values.flatMap { grp =>
      val ids = grp.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val tp = (predicted intersect truth).size.toDouble
    val precision = if (predicted.isEmpty) 1.0 else tp / predicted.size
    val recall = if (truth.isEmpty) 1.0 else tp / truth.size
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    info(f"pairwise precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f " +
      s"(truth=${truth.size} predicted=${predicted.size})")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f below gate")
  }

  test("pairwise F1 >= 0.99 holds on the Zipf natural-vocabulary corpus") {
    // The headline F1 gate above runs on the uniform-vocabulary corpus;
    // natural text is heavy-tailed (frequent words shared across unrelated
    // docs — the precision hazard; BASELINE.md's string-band census
    // measured hot MinHash bands ~7× larger under this draw — the
    // recall/skew hazard). Same gate, same config, Zipf(1.07) over ~50k
    // types.
    implicit val s = spark
    val zipfLabeled = Corpus.generate(
      Corpus.Params(entities = 300, seed = 42, zipfTypes = 50000))
    val docs = s.createDataset(zipfLabeled.map(_.doc))(
      org.apache.spark.sql.Encoders.product[Doc])
    val r = Pipeline.run(s, docs, Corpus.RecommendedConfig)
    val truth = Corpus.truePairs(zipfLabeled)
    val clusters = r.clusters.select("doc_id", "cluster_id")
      .collect().map(x => (x.getString(0), x.getString(1)))
    val predicted = clusters.groupBy(_._2).values.flatMap { grp =>
      val ids = grp.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val tp = (predicted intersect truth).size.toDouble
    val precision = if (predicted.isEmpty) 1.0 else tp / predicted.size
    val recall = if (truth.isEmpty) 1.0 else tp / truth.size
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    info(f"zipf pairwise precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f " +
      s"(truth=${truth.size} predicted=${predicted.size})")
    r.release()
    assert(f1 >= 0.99, f"zipf pairwise F1 $f1%.4f below gate")
  }

  test("span-sequence equality invariant: output spans == input spans per doc") {
    implicit val s = spark
    import s.implicits._
    val outSpans = result.clusters.select("doc_id", "spans")
      .as[(String, Seq[Span])].collect().toMap
    assert(outSpans.size == docsSeq.size)
    docsSeq.foreach { d =>
      assert(outSpans(d.doc_id) == d.spans, s"span sequence mutated for ${d.doc_id}")
    }
  }

  test("pipeline is deterministic: two runs produce identical clusters") {
    val a = result.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val b = runOnce().clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("cluster_id is the minimum doc_id of its component") {
    val byCluster = result.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
    }
  }

  test("targeted compare (reference E2) finds the duplicates of one doc") {
    implicit val s = spark
    import s.implicits._
    // pick an entity that has duplicates
    val grouped = labeled.groupBy(_.label).values.filter(_.size > 1).minBy(_.head.doc.doc_id)
    val target = grouped.head.doc
    val rest = docsSeq.filterNot(_.doc_id == target.doc_id)
    val found = Pipeline.compare(s, target, s.createDataset(rest), Corpus.RecommendedConfig)
      .select("doc_id").as[String].collect().toSet
    val expected = grouped.map(_.doc.doc_id).toSet - target.doc_id
    assert(expected.subsetOf(found),
      s"missing duplicates: ${expected -- found}")
  }

  test("targeted compare: target inside the candidate set does not duplicate rows") {
    implicit val s = spark
    import s.implicits._
    // reference-style invocation (`graft cat.jpg photos/` with cat.jpg in
    // photos/): the target's own doc_id is ALSO in candidates. Its
    // signature must count once in phase-2 scoring — a doubled id fans
    // every (dup, target) row out into duplicates, inflating the report
    // and planning each destructive action twice
    val grouped = labeled.groupBy(_.label).values.filter(_.size > 1).minBy(_.head.doc.doc_id)
    val target = grouped.head.doc
    val found = Pipeline.compare(s, target, s.createDataset(docsSeq), Corpus.RecommendedConfig)
      .select("doc_id").as[String].collect()
    assert(found.length == found.distinct.length,
      s"duplicate rows in compare output: ${found.groupBy(identity).filter(_._2.length > 1).keys}")
    assert(!found.contains(target.doc_id), "target reported as its own duplicate")
    val expected = grouped.map(_.doc.doc_id).toSet - target.doc_id
    assert(expected.subsetOf(found.toSet), s"missing duplicates: ${expected -- found.toSet}")
  }

  test("targeted compare is a superset of the target's direct edges in the full run") {
    implicit val s = spark
    import s.implicits._
    // the compare scaladoc's contract: E2 answers are a superset, never a
    // contradiction, of a pair run() LINKED. Targets: the two docs with the
    // most direct is_dup edges, each queried against the full corpus (the
    // target's own id included)
    val edges = result.edges.collect().map(r => (r.getString(0), r.getString(1)))
    val neighbors = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (id, es) => id -> es.map(_._2).toSet }
    val targets = neighbors.toSeq.sortBy { case (id, ns) => (-ns.size, id) }.take(2)
    assert(targets.nonEmpty, "degenerate corpus: no duplicate edges")
    targets.foreach { case (id, direct) =>
      val target = docsSeq.find(_.doc_id == id).get
      val found = Pipeline.compare(s, target, s.createDataset(docsSeq), Corpus.RecommendedConfig)
        .select("doc_id").as[String].collect().toSet
      assert(direct.subsetOf(found), s"compare($id) misses linked docs ${direct -- found}")
    }
  }

  test("a failed compare releases both signature sets") {
    implicit val s = spark
    import s.implicits._
    // only the candidate corpus carries the poisoned ref: the target's
    // signatures derive (and its broadcast band side materializes) before
    // the corpus side's decode throws inside the result's job
    val target = docsSeq.head
    val poisoned = docsSeq.tail :+ Doc("poison-1", Seq(Span.media(PoisonMedia.Ref, 0)))
    val before = s.sparkContext.getPersistentRDDs.keySet
    val e = intercept[org.apache.spark.SparkException] {
      Pipeline.compare(s, target, s.createDataset(poisoned), Corpus.RecommendedConfig,
        PoisonMedia)
    }
    assert(e.getMessage.contains("injected decode failure"), e.getMessage)
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed compare stranded persisted RDDs: ${leaked.toSeq.sorted}")
  }

  test("media-only docs: clustering reduces to the reference radius predicate") {
    implicit val s = spark
    import s.implicits._
    // 3 docs: A and B share a synth seed (noise-perturbed ⇒ within radius),
    // C is a different seed (far). No text at all.
    val docs = s.createDataset(Seq(
      Doc("m-a", Seq(Span.media("synth://ref-1", 0))),
      Doc("m-b", Seq(Span.media("synth://ref-1?noise=1", 0))),
      Doc("m-c", Seq(Span.media("synth://other-99", 0)))))
    val r = Pipeline.run(s, docs, Corpus.RecommendedConfig)
    val m = r.clusters.select("doc_id", "cluster_id").collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(m("m-a") == m("m-b"))
    assert(m("m-c") != m("m-a"))
  }

  test("bad media refs land in the error side-channel, not as failures") {
    implicit val s = spark
    import s.implicits._
    val docs = s.createDataset(Seq(
      Doc("x-1", Seq(Span.media("/nonexistent/image.jpg", 0), Span.text("some text here", 1))),
      Doc("x-2", Seq(Span.text("some text here", 0)))))
    val r = Pipeline.run(s, docs)
    assert(r.clusters.count() == 2)
    val errs = r.badMedia.collect()
    assert(errs.length == 1 && errs(0).getString(0) == "x-1")
  }

  test("synth media renderer: noise keeps pHash within radius, different seeds far") {
    val base = SynthMedia.resolve("synth://k-7").toOption.get
    val near = SynthMedia.resolve("synth://k-7?noise=2").toOption.get
    val far = SynthMedia.resolve("synth://j-8").toOption.get
    val hb = graft.imaging.PHash.dct64(base)
    val hn = graft.imaging.PHash.dct64(near)
    val hf = graft.imaging.PHash.dct64(far)
    assert(java.lang.Long.bitCount(hb ^ hn) < 8)
    assert(java.lang.Long.bitCount(hb ^ hf) >= 11)
  }

  test("exact-duplicate farm: k copies collapse to O(k) and cluster with their base") {
    implicit val s = spark
    import s.implicits._
    val p = Corpus.Params(entities = 300, hotEntityCopies = 2000)
    val labeled = Corpus.generate(p)
    val docs = s.createDataset(labeled.map(_.doc))
    val r = Pipeline.run(s, docs, Corpus.RecommendedConfig)
    val clusters = r.clusters.select("doc_id", "cluster_id").collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(clusters.size == labeled.size) // every doc assigned, invariant kept
    // every exact copy inherits the base's cluster
    val baseCluster = clusters("d00000000-0")
    (1 to 5).foreach(c => assert(clusters(f"d00000000-0x$c%07d") == baseCluster))
    assert(clusters(f"d00000000-0x${p.hotEntityCopies}%07d") == baseCluster)
    // perturbed near-dups of entity 0 still land in the same cluster
    labeled.filter(ld => ld.label == 0L).foreach(ld =>
      assert(clusters(ld.doc.doc_id) == baseCluster, ld.doc.doc_id))
    // the farm generated NO quadratic pair blowup: edges stay proportional
    // to the number of DISTINCT contents, not the 2M pairs of a 2000-farm
    val nEdges = r.edges.count()
    assert(nEdges < 5000, s"farm leaked into pair generation: $nEdges edges")
    r.release()
  }

  test("a doc with null spans is rejected by name, by Pipeline.run and Incremental.run") {
    implicit val s = spark
    import s.implicits._
    // xxhash64 skips nulls, so a null span list would share the content
    // digest of the empty one and collapse into its cluster
    val docs = s.createDataset(Corpus.generate(Corpus.Params(entities = 20)).map(_.doc) ++
      Seq(Doc("a-empty", Seq.empty), Doc("z-null", null)))
    val full = intercept[IllegalArgumentException](Pipeline.run(s, docs, Corpus.RecommendedConfig))
    assert(full.getMessage.contains("z-null"), full.getMessage)
    val before = s.sparkContext.getPersistentRDDs.keySet
    val noSigs = s.emptyDataset[graft.model.DocSig]
    val fold = intercept[IllegalArgumentException](Incremental.run(s, noSigs,
      Blocking.bandRowsDF(noSigs, Corpus.RecommendedConfig),
      Seq.empty[(String, String)].toDF("doc_id", "cluster_id"), docs, Corpus.RecommendedConfig))
    assert(fold.getMessage.contains("z-null"), fold.getMessage)
    assert(s.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a small corpus on 64 partitions runs every stage past its count at the sized width") {
    implicit val s = spark
    import s.implicits._
    SparkTestBase.withShufflePartitions(s, 64) {
      val cfg = Corpus.RecommendedConfig
      // exact copies drive the pre-collapse mapping path
      val corpus = Corpus.generate(Corpus.Params(entities = 300, seed = 42, hotEntityCopies = 20))
        .map(_.doc)
      val (stages, r) = sizedRun(corpus, cfg)
      val edges = pairs(r.edges)
      val clusters = pairs(r.clusters.select("doc_id", "cluster_id"))
      r.release()
      // the pre-collapse detection scan reads the input before the count
      // is known; every later stage runs at the sized width or narrower
      assert(stages.head.numTasks === 64)
      val wide = SparkTestBase.wideStages(stages.tail, Parallelism.sized(s, corpus.size.toLong))
      assert(wide.isEmpty, wide.mkString("\n"))

      // the same stages at width 64 throughout, over the representatives
      // (min doc_id per exact content) the pre-collapse keeps
      val repOf = corpus.groupBy(_.spans).values.flatMap { g =>
        val rep = g.map(_.doc_id).min
        g.map(_.doc_id -> rep)
      }.toMap
      assert(repOf.values.toSet.size < corpus.size)
      val reps = s.createDataset(s.sparkContext.parallelize(
        corpus.filter(d => repOf(d.doc_id) == d.doc_id), 64))
      val sigs = Signatures.derive(reps, cfg, DefaultMedia).map(_.sig).persist()
      val (cands, _, releaseBands) = Blocking.candidatePairs(sigs, cfg)
      val candidates = cands.persist()
      candidates.count()
      releaseBands()
      val wideEdges = Pairs.edges(Pairs.score(candidates, sigs, cfg)).persist()
      val assign = pairs(Components.connectedComponents(wideEdges, cfg.maxCcIterations)).toMap
      assert(edges == pairs(wideEdges))
      assert(clusters == corpus.map { d =>
        val rep = repOf(d.doc_id)
        d.doc_id -> assign.getOrElse(rep, rep)
      }.toSet)
      Seq(sigs, candidates, wideEdges).foreach(_.unpersist())
    }
  }

  test("a pass that salts a hot block on 64 partitions runs no stage past its count at the session width") {
    implicit val s = spark
    SparkTestBase.withShufflePartitions(s, 64) {
      // 40 near-identical docs (one long shared text, one distinct word
      // each) share most of their text bands: blocks of 40 rows, above a
      // lowered hot-block threshold
      val cfg = Corpus.RecommendedConfig.copy(hotBlockSize = 16)
      val base = Corpus.generate(Corpus.Params(entities = 300, seed = 42)).map(_.doc)
      val shared = base.map(_.concatText).maxBy(_.length)
      val corpus = base ++ (0 until 40).map(i =>
        Doc(f"hot-$i%02d", Seq(Span(Span.Text, s"$shared w$i", null, 0))))
      val (stages, r) = sizedRun(corpus, cfg)
      val salted = r.stats.saltedBlocks
      r.release()
      assert(salted > 0, "no block was salted: the case is vacuous")
      // AQE coalesces the salted join's hashpartitioning(block_key, salt, 64)
      // exchange, so no stage past the input scan runs at the session width.
      // The candidate vote's map stage reads the union of the normal leg
      // (sized partitions) and the salted leg (one coalesced partition), so
      // it alone runs one task more than the sized width.
      assert(stages.head.numTasks === 64)
      val sized = Parallelism.sized(s, corpus.size.toLong)
      val wide = SparkTestBase.wideStages(stages.tail, sized)
      assert(wide.size <= 1 && stages.tail.forall(_.numTasks <= sized + 1), wide.mkString("\n"))
    }
  }

  /** The stages of one `Pipeline.run` over `corpus` read from 64 input
    * partitions, with its result (cluster and edge rows collected). */
  private def sizedRun(corpus: Seq[Doc], cfg: GraftConfig) = {
    implicit val s = spark
    import s.implicits._
    val docs = s.createDataset(s.sparkContext.parallelize(corpus, 64))
    assert(Parallelism.sized(s, corpus.size.toLong) === 4)
    var r: Pipeline.Result = null
    val stages = SparkTestBase.stagesDuring(s) {
      r = Pipeline.run(s, docs, cfg)
      r.edges.count()
      r.clusters.count()
    }
    (stages, r)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("distributed corpus generation is byte-identical to local generation") {
    val p = Corpus.Params(entities = 200)
    val local = Corpus.generate(p)
      .map(ld => (ld.label, ld.doc.doc_id, ld.doc.spans)).sortBy(_._2)
    val dist = Corpus.generateDistributed(spark, p, partitions = 7)
      .collect().toSeq
      .map(ld => (ld.label, ld.doc.doc_id, ld.doc.spans)).sortBy(_._2)
    assert(dist == local)
  }
}

/** Synthetic media whose one poisoned ref throws — a resolver bug, not the
  * bad-record `Left` the signature stage routes to its side channel.
  */
object PoisonMedia extends graft.media.MediaResolver {
  val Ref = "synth://poison"
  def resolve(ref: String): Either[String, graft.imaging.Raster] =
    if (ref == Ref) throw new IllegalStateException("injected decode failure")
    else SynthMedia.resolve(ref)
}
