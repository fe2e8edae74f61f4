package graft

import graft.pipeline.{Generation, Pipeline}
import graft.streaming.StreamIngest
import graft.synth.Corpus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-ingest gate: micro-batch folds through the foreachBatch front
  * door must land EXACTLY on the full-run clusters (byte-equal ids — the
  * same equality IncrementalSpec proves for the batch fold), with the
  * generation pointer advancing per batch, committed batches replay-safe,
  * and pruning keeping the state readable.
  */
class StreamIngestSpec extends AnyFunSuite with SparkTestBase {

  private lazy val labeled = Corpus.generate(Corpus.Params(entities = 200, seed = 11))
  private val cfg = Corpus.RecommendedConfig

  private def ds(docs: Seq[graft.model.Doc]) =
    spark.createDataset(docs)(org.apache.spark.sql.Encoders.product)

  /** A seeded state dir over a small corpus, and a batch to fold into it. */
  private def seededSmall(name: String) = {
    val small = Corpus.generate(Corpus.Params(entities = 30, seed = 23)).map(_.doc)
    val stateDir = java.nio.file.Files.createTempDirectory(name).toString
    StreamIngest.seed(spark, ds(small.filterNot(_.doc_id.endsWith("-0"))), stateDir, cfg)
    (stateDir, ds(small.filter(_.doc_id.endsWith("-0"))))
  }

  test("streamed folds converge to the full-run clusters byte-for-byte across micro-batches") {
    implicit val s = spark
    import s.implicits._
    val all = labeled.map(_.doc)
    // seed = perturbed duplicates, stream = base docs (the IncrementalSpec
    // split that forces old-cluster merges, so the remap path runs)
    val seedDocs = all.filterNot(_.doc_id.endsWith("-0"))
    val streamed = all.filter(_.doc_id.endsWith("-0"))
    val third = streamed.size / 3
    val (b1, rest) = streamed.splitAt(third)
    val (b2, b3) = rest.splitAt(third)

    val stateDir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000000"))

    // compactEvery = 2: fold 1 appends a delta, fold 2 compacts a full
    // generation, fold 3 appends a delta on the new root — all three
    // shapes (delta write, compaction, delta-on-compacted) exercised
    val input = MemoryStream[graft.model.Doc](s)
    val q = StreamIngest.writer(input.toDS(), stateDir, cfg, compactEvery = 2)
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000001"))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000002"))
      input.addData(b3: _*)
      q.processAllAvailable()
      assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))
    } finally q.stop()

    // generation shapes: gen1 delta (PARENT + delta stages, and
    // Generation.read must REFUSE it rather than return a partial
    // corpus), gen2 compacted full (standard-readable), gen3 delta
    def has(g: String, f: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(stateDir, g, f))
    assert(has("gen-00000001", "PARENT") &&
      has("gen-00000001", "signatures_delta/_graft_manifest.json"))
    assert(!has("gen-00000002", "PARENT") &&
      has("gen-00000002", "signatures/_graft_manifest.json") &&
      has("gen-00000002", "bands/_graft_manifest.json"))
    assert(has("gen-00000003", "PARENT"))
    intercept[IllegalStateException] {
      Generation.read(s, s"$stateDir/gen-00000001")
    }
    Generation.read(s, s"$stateDir/gen-00000002") // compacted = readable

    val (sigs, assign) = StreamIngest.readCurrentState(s, stateDir)
    assert(sigs.count() == all.size)
    val got = assign.collect().map(r => (r.getString(0), r.getString(1))).toMap

    val full = Pipeline.run(s, ds(all), cfg)
    val want = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()
    assert(got == want, {
      val diffs = want.collect { case (k, v) if got.get(k) != Some(v) => (k, got.get(k), v) }
      s"stream fold diverged from full run: ${diffs.take(5)}"
    })

    // replaying an already committed batch must be a no-op
    StreamIngest.foldBatch(s, ds(b2), 1L, stateDir, cfg, compactEvery = 2)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))

    // prune with keep = 1: the current chain (gen3 → gen2) is untouchable,
    // gen0 is kept as the newest rollback full, and gen1 — a delta whose
    // parent gen0 survives — stays READABLE, so nothing is pruned
    assert(StreamIngest.pruneGenerations(stateDir, keep = 1).isEmpty)
    // prune with keep = 0: gen0 goes, and gen1's chain loses its root, so
    // the delta goes with it; the current chain still reads fully
    val pruned = StreamIngest.pruneGenerations(stateDir, keep = 0)
    assert(pruned == Seq("gen-00000000", "gen-00000001"), pruned.toString)
    assert(StreamIngest.readCurrentState(s, stateDir)._2.count() == all.size)
  }

  test("chain shapes sweep: compactEvery 1 (all-full) and 3 (longer chains) both byte-equal the full run") {
    // the generation logic has several branch combinations (delta write,
    // compaction, delta-on-compacted, chain reads of depth > 2); sweep two
    // compactEvery extremes over three folds and hold the byte-equality
    // invariant at each
    val s = spark
    val small = Corpus.generate(Corpus.Params(entities = 80, seed = 13)).map(_.doc)
    val seedDocs = small.filterNot(_.doc_id.endsWith("-0"))
    val streamed = small.filter(_.doc_id.endsWith("-0"))
    val third = streamed.size / 3
    val (b1, rest) = streamed.splitAt(third)
    val (b2, b3) = rest.splitAt(third)

    val full = Pipeline.run(s, ds(small), cfg)
    val want = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()

    Seq(1, 3).foreach { ce =>
      val stateDir = java.nio.file.Files
        .createTempDirectory(s"graft-ingest-ce$ce").toString
      StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
      Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
        StreamIngest.foldBatch(s, ds(b), i.toLong, stateDir, cfg, compactEvery = ce)
      }
      // ce=1: every fold compacts (no PARENT anywhere); ce=3: gen1/gen2
      // are deltas and gen3 compacts a chain of length 3 — so gen1 is a
      // delta exactly when ce=3, and gen3 is full in both sweeps
      def parent(g: String) = java.nio.file.Files.exists(
        java.nio.file.Paths.get(stateDir, g, "PARENT"))
      assert(parent("gen-00000001") == (ce == 3), s"ce=$ce: gen1 shape")
      assert(parent("gen-00000002") == (ce == 3), s"ce=$ce: gen2 shape")
      assert(!parent("gen-00000003"), s"ce=$ce: gen3 must be compacted")
      val got = StreamIngest.readCurrentState(s, stateDir)._2.collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got == want, {
        val diffs = want.collect { case (k, v) if got.get(k) != Some(v) => (k, got.get(k), v) }
        s"compactEvery=$ce diverged: ${diffs.take(5)}"
      })
    }
  }

  test("interleaved folds and retractions land on the full-run clusters of the surviving union") {
    implicit val s = spark
    import s.implicits._
    val all = labeled.map(_.doc)
    val seedDocs = all.filterNot(_.doc_id.endsWith("-0"))
    val streamed = all.filter(_.doc_id.endsWith("-0"))
    val (b1, b2) = streamed.splitAt(streamed.size / 2)
    // takedown: some just-folded docs plus seed BASE docs (bridge removals)
    val removed = (b1.take(20) ++ seedDocs.take(30)).map(_.doc_id).toSet

    val stateDir = java.nio.file.Files.createTempDirectory("graft-retractgen").toString
    StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
    StreamIngest.foldBatch(s, ds(b1), 0L, stateDir, cfg)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000001"))

    StreamIngest.retractBatch(s, ds(seedDocs ++ b1),
      removed.toSeq.toDF("doc_id"), stateDir, cfg, compactEvery = 2)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000002"))
    // at the compaction threshold the retraction generation is FULL:
    // no PARENT, standard readers accept it
    val gen2 = s"$stateDir/gen-00000002"
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(gen2, "PARENT")))
    Generation.read(s, gen2) // must not throw
    // re-running the executed takedown commits nothing (ids now unknown)
    StreamIngest.retractBatch(s, ds(seedDocs ++ b1),
      removed.toSeq.toDF("doc_id"), stateDir, cfg, compactEvery = 2)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000002"))

    // THE live-stream safety property: the stream's next micro-batch id
    // (1, directly after b1's 0) must fold on top of the retraction
    // generation — under batchId-coupled generation numbering it would
    // have been mistaken for a replay and silently dropped
    StreamIngest.foldBatch(s, ds(b2), 1L, stateDir, cfg)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))
    // while a genuine replay of an already folded batch is still skipped
    StreamIngest.foldBatch(s, ds(b1), 0L, stateDir, cfg)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))

    // the coverage precondition is loud: a doc table missing a surviving
    // member of a touched cluster must fail, not silently drop the doc
    val rm2 = b2.take(5).map(_.doc_id)
    intercept[IllegalArgumentException] {
      StreamIngest.retractBatch(s, ds(Seq(all.head)), rm2.toDF("doc_id"),
        stateDir, cfg)
    }
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))

    // re-seeding over live state must fail the moved-pointer check, not
    // silently splice a fresh gen-00000000 under the committed chain
    intercept[IllegalStateException] {
      StreamIngest.seed(s, ds(seedDocs.take(3)), stateDir, cfg)
    }
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000003"))

    val (_, assign) = StreamIngest.readCurrentState(s, stateDir)
    val got = assign.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val survivors = (seedDocs ++ b1).filterNot(d => removed(d.doc_id)) ++ b2
    val full = Pipeline.run(s, ds(survivors), cfg)
    val want = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()
    assert(got.keySet == want.keySet, "doc coverage differs")
    val diffs = want.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} docs differ, e.g. ${diffs.take(5)}")
  }

  test("CDC batches: upsert-replace, delete, and insert in one stream equal the full run") {
    implicit val s = spark
    import s.implicits._
    val all = labeled.map(_.doc)
    val seedDocs = all.filterNot(_.doc_id.endsWith("-0"))
    val inserts = all.filter(_.doc_id.endsWith("-0")).take(40)
    val deleted = seedDocs.take(10).map(_.doc_id).toSet
    // an existing doc edited in place: same id, new content
    val editedBase = seedDocs(20)
    val edited = editedBase.copy(spans = Seq(graft.model.Span.text(
      editedBase.spans.collectFirst { case sp if sp.kind == "text" => sp.text }
        .getOrElse("") + " edited edition markers appended", 0)))
    assert(!deleted(edited.doc_id))

    val stateDir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
    var corpus = seedDocs
    val provider = (_: org.apache.spark.sql.SparkSession) => ds(corpus)
    def cdc(recs: Seq[StreamIngest.CdcRecord], id: Long): Unit =
      StreamIngest.cdcFoldBatch(s,
        spark.createDataset(recs)(org.apache.spark.sql.Encoders.product),
        id, provider, stateDir, cfg)
    def currentMap(): Map[String, String] = {
      val (_, assign) = StreamIngest.readCurrentState(s, stateDir)
      assign.collect().map(r => (r.getString(0), r.getString(1))).toMap
    }
    def fullMap(docs: Seq[graft.model.Doc]): Map[String, String] = {
      val r = Pipeline.run(s, ds(docs), cfg)
      val m = r.clusters.select("doc_id", "cluster_id").collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      r.release(); m
    }
    def assertEq(want: Map[String, String], got: Map[String, String]): Unit = {
      assert(got.keySet == want.keySet, "doc coverage differs")
      val diffs = want.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
      assert(diffs.isEmpty, s"${diffs.size} docs differ, e.g. ${diffs.take(5)}")
    }

    // in-batch per-id conflicts: insert-then-update keeps only the final
    // version, create-then-delete resolves to absent, delete-then-reinsert
    // of a LIVE doc resolves to the new content — all by `seq`, not row order
    def textDoc(id: String, t: String) =
      graft.model.Doc(id, Seq(graft.model.Span.text(t, 0)))
    val spare = all.filter(_.doc_id.endsWith("-0")).drop(40)
    val c1Wrong = textDoc(spare(0).doc_id, "conflict one draft version zero words")
    val c1Right = textDoc(spare(0).doc_id, "conflict one final version one words kept")
    val c2 = textDoc(spare(1).doc_id, "conflict two created and deleted in one batch")
    val c3Base = seedDocs(30)
    val c3Edited = textDoc(c3Base.doc_id, "conflict three deleted then reinserted anew")
    assert(!deleted(c3Base.doc_id) && c3Base.doc_id != edited.doc_id)

    val batch1 =
      inserts.map(d => StreamIngest.CdcRecord(d, delete = false)) ++
        deleted.toSeq.map(id =>
          StreamIngest.CdcRecord(graft.model.Doc(id, Seq.empty), delete = true)) ++
        Seq(
          StreamIngest.CdcRecord(edited, delete = false),
          StreamIngest.CdcRecord(c1Wrong, delete = false, seq = 0L),
          StreamIngest.CdcRecord(c1Right, delete = false, seq = 1L),
          StreamIngest.CdcRecord(c2, delete = false, seq = 0L),
          StreamIngest.CdcRecord(graft.model.Doc(c2.doc_id, Seq.empty), delete = true, seq = 1L),
          StreamIngest.CdcRecord(graft.model.Doc(c3Base.doc_id, Seq.empty), delete = true, seq = 0L),
          StreamIngest.CdcRecord(c3Edited, delete = false, seq = 1L))
    cdc(batch1, 0L)
    corpus = seedDocs.filterNot(d =>
      deleted(d.doc_id) || d.doc_id == edited.doc_id ||
        d.doc_id == c3Base.doc_id) ++
      inserts ++ Seq(edited, c1Right, c3Edited)
    assertEq(fullMap(corpus), currentMap())
    // the retraction landed as a DELTA generation (tombstones + PARENT;
    // the full-generation reader refuses it) — an update-heavy CDC batch
    // writes O(touched), not a corpus rewrite
    val gen1 = s"$stateDir/gen-00000001"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(gen1, "PARENT")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(gen1, "tombstones_delta")))
    intercept[IllegalStateException] { Generation.read(s, gen1) }
    // the replace really landed: state must carry exactly one row for the
    // edited id, clustered per its NEW content (covered by the equality)
    cdc(batch1, 0L) // replayed batch is a no-op
    assertEq(fullMap(corpus), currentMap())

    // a delete-only batch advances the high-water mark on the retraction
    // generation itself (no fold generation exists to carry it)
    val batch2 = Seq(
      StreamIngest.CdcRecord(graft.model.Doc(inserts.head.doc_id, Seq.empty), delete = true))
    cdc(batch2, 1L)
    corpus = corpus.filterNot(_.doc_id == inserts.head.doc_id)
    assertEq(fullMap(corpus), currentMap())
    cdc(batch2, 1L) // and its replay is skipped outright
    assertEq(fullMap(corpus), currentMap())
  }

  test("corrupt chains are refused and a crashed attempt's stale full stages are scrubbed") {
    import java.nio.file.{Files, Path, Paths}
    val s = spark
    val small = Corpus.generate(Corpus.Params(entities = 60, seed = 17)).map(_.doc)
    val seedDocs = small.filterNot(_.doc_id.endsWith("-0"))
    val (b1, b2) = small.filter(_.doc_id.endsWith("-0")).splitAt(15)
    val stateDir = Files.createTempDirectory("graft-ingest-corrupt").toString
    StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
    StreamIngest.foldBatch(s, ds(b1), 0L, stateDir, cfg, compactEvery = 4)
    val gen1 = Paths.get(stateDir, "gen-00000001")
    assert(Files.exists(gen1.resolve("PARENT")), "fold 1 must write a delta")

    // a tombstone stage from another write attempt: refused, never read
    // as a fold that silently resurrects retracted docs
    val tomb = gen1.resolve("tombstones_delta/_graft_manifest.json")
    val tombJson = Files.readString(tomb)
    Files.writeString(tomb,
      tombJson.replaceAll("\"resume_key\":\"-?\\d+\"", "\"resume_key\":\"12345\""))
    intercept[IllegalStateException] { StreamIngest.readCurrentState(s, stateDir) }
    // ... and a CDC batch against it fails after persisting its reduced
    // batch, which must not stay persisted
    val before = s.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      StreamIngest.cdcFoldBatch(s,
        s.createDataset(b2.map(StreamIngest.CdcRecord(_, delete = false)))(
          org.apache.spark.sql.Encoders.product),
        1L, _ => ds(seedDocs ++ b1), stateDir, cfg, compactEvery = 4)
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed CDC batch stranded persisted RDDs: ${leaked.toSeq.sorted}")
    Files.writeString(tomb, tombJson)

    // a PARENT cycle: the chain walk must throw, not spin
    val parent = gen1.resolve("PARENT")
    val parentName = Files.readString(parent)
    Files.writeString(parent, "gen-00000001")
    val cyc = scala.concurrent.Await.result(
      scala.concurrent.Future(scala.util.Try(StreamIngest.readCurrentState(s, stateDir)))(
        scala.concurrent.ExecutionContext.global),
      scala.concurrent.duration.Duration(60, "s"))
    assert(cyc.failed.toOption.exists(_.isInstanceOf[IllegalStateException]), cyc.toString)
    Files.writeString(parent, parentName)

    // a crashed FULL attempt left the seed's signatures + bands stages in
    // the uncommitted next dir: the delta commit must scrub them
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
      finally walk.close()
    }
    val gen2 = Paths.get(stateDir, "gen-00000002")
    Files.createDirectories(gen2)
    Seq("signatures", "bands").foreach(st =>
      copyTree(Paths.get(stateDir, "gen-00000000", st), gen2.resolve(st)))
    StreamIngest.foldBatch(s, ds(b2), 1L, stateDir, cfg, compactEvery = 4)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000002"))
    assert(Files.exists(gen2.resolve("PARENT")), "fold 2 must write a delta")
    assert(!Files.exists(gen2.resolve("signatures")) && !Files.exists(gen2.resolve("bands")),
      "stale full stages survived the delta commit")

    val got = StreamIngest.readCurrentState(s, stateDir)._2.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val full = Pipeline.run(s, ds(small), cfg)
    val want = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    full.release()
    assert(got == want, {
      val diffs = want.collect { case (k, v) if got.get(k) != Some(v) => (k, got.get(k), v) }
      s"scrubbed delta diverged from the full run: ${diffs.take(5)}"
    })
  }

  test("a full generation without a consistent bands stage is refused by read and by foldBatch") {
    import java.nio.file.{Files, Paths}
    val s = spark
    val (stateDir, batch) = seededSmall("graft-ingest-bandless")
    val gen0 = s"$stateDir/gen-00000000"
    def refused(): Unit = {
      val r = intercept[IllegalStateException] { Generation.read(s, gen0) }
      assert(r.getMessage.contains(gen0), r.getMessage)
      val f = intercept[IllegalStateException] {
        StreamIngest.foldBatch(s, batch, 0L, stateDir, cfg)
      }
      assert(f.getMessage.contains(gen0), f.getMessage)
      assert(StreamIngest.currentDir(stateDir) == gen0)
    }

    // a bands manifest key from another write attempt
    val manifest = Paths.get(gen0, "bands", "_graft_manifest.json")
    val json = Files.readString(manifest)
    Files.writeString(manifest,
      json.replaceAll("\"resume_key\":\"-?\\d+\"", "\"resume_key\":\"12345\""))
    refused()
    Files.writeString(manifest, json)

    // no bands stage at all: never read as a bandless generation whose
    // bands a fold quietly re-derives
    val aside = Paths.get(stateDir, "bands-aside")
    Files.move(Paths.get(gen0, "bands"), aside)
    refused()
    Files.move(aside, Paths.get(gen0, "bands"))

    // the restored generation folds
    StreamIngest.foldBatch(s, batch, 0L, stateDir, cfg)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000001"))
  }

  test("a committed generation without its MAXBATCH mark makes foldBatch throw") {
    // corrupt, not `generation number - 1`: a retraction takes a number
    // without a batchId, so that guess can skip a fresh batch as a replay
    val (stateDir, batch) = seededSmall("graft-ingest-nomark")
    java.nio.file.Files.delete(java.nio.file.Paths.get(stateDir, "gen-00000000", "MAXBATCH"))
    val e = intercept[IllegalStateException] {
      StreamIngest.foldBatch(spark, batch, 0L, stateDir, cfg)
    }
    assert(e.getMessage.contains("MAXBATCH"), e.getMessage)
    assert(StreamIngest.currentDir(stateDir).endsWith("gen-00000000"))
  }

  test("cdcWriter commits the same state as cdcFoldBatch on the same batches") {
    implicit val s = spark
    import s.implicits._
    import StreamIngest.CdcRecord
    val small = Corpus.generate(Corpus.Params(entities = 40, seed = 19)).map(_.doc)
    val seedDocs = small.filterNot(_.doc_id.endsWith("-0"))
    val inserts = small.filter(_.doc_id.endsWith("-0"))
    def upsert(d: graft.model.Doc) = CdcRecord(d, delete = false)
    def delete(id: String) = CdcRecord(graft.model.Doc(id, Seq.empty), delete = true)
    val edited = seedDocs(5).copy(spans =
      Seq(graft.model.Span.text("an edited body replacing this seed document text", 0)))
    // batch 0: inserts, deletes of seed docs and an in-place edit; batch 1:
    // more inserts and the delete of a doc batch 0 inserted
    val batches = Seq(
      inserts.take(10).map(upsert) ++ seedDocs.take(3).map(d => delete(d.doc_id)) :+
        upsert(edited),
      inserts.drop(10).map(upsert) :+ delete(inserts.head.doc_id))
    def applied(corpus: Seq[graft.model.Doc], recs: Seq[CdcRecord]) = {
      val ids = recs.map(_.doc.doc_id).toSet
      corpus.filterNot(d => ids(d.doc_id)) ++ recs.filterNot(_.delete).map(_.doc)
    }
    // the corpus as applied so far, read by each batch's retraction
    var corpus = seedDocs
    val provider = (_: org.apache.spark.sql.SparkSession) => ds(corpus)
    def seeded(name: String) = {
      val dir = java.nio.file.Files.createTempDirectory(name).toString
      StreamIngest.seed(s, ds(seedDocs), dir, cfg)
      dir
    }

    val direct = seeded("graft-cdc-direct")
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamIngest.cdcFoldBatch(s, s.createDataset(b), i.toLong, provider, direct, cfg)
      corpus = applied(corpus, b)
    }

    corpus = seedDocs
    val streamed = seeded("graft-cdc-stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
    val input = MemoryStream[CdcRecord](s)
    val q = StreamIngest.cdcWriter(input.toDS(), provider, streamed, cfg)
      .option("checkpointLocation", ckpt).start()
    try batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
      corpus = applied(corpus, b)
    } finally q.stop()

    assert(StreamIngest.currentDir(streamed).stripPrefix(streamed) ==
      StreamIngest.currentDir(direct).stripPrefix(direct))
    def dump(dir: String) = {
      val (sigs, assign) = StreamIngest.readCurrentState(s, dir)
      (sigs.toDF().toJSON.collect().sorted.toSeq, assign.toJSON.collect().sorted.toSeq)
    }
    val (wantSigs, wantAssign) = dump(direct)
    val (gotSigs, gotAssign) = dump(streamed)
    assert(gotAssign == wantAssign, "cdcWriter assignments differ from cdcFoldBatch's")
    assert(gotSigs == wantSigs, "cdcWriter signatures differ from cdcFoldBatch's")
    assert(gotAssign.size == corpus.size)
  }

  test("exact copies streamed in do not accumulate in generation state") {
    // a k-copy farm in a micro-batch must add ONE signature row (its
    // representative) to the next generation, not k — otherwise every
    // later fold's band join fans out k-fold and the linkage census
    // drifts from what a full run censuses
    val s = spark
    import graft.model.{Doc, Span}
    def doc(id: String, text: String) = Doc(id, Seq(Span.text(text, 0)))
    val seedDocs = Seq(
      doc("s1", "seed document one with enough words to sign"),
      doc("s2", "a different seed document with other words"))
    val batch = Seq(
      doc("c1", "streamed content repeated verbatim several times"),
      doc("c2", "streamed content repeated verbatim several times"),
      doc("c3", "streamed content repeated verbatim several times"),
      doc("d1", "a genuinely novel streamed document body here"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-ingest-copies").toString
    StreamIngest.seed(s, ds(seedDocs), stateDir, cfg)
    StreamIngest.foldBatch(s, ds(batch), 0L, stateDir, cfg)

    val (sigs, assign) = StreamIngest.readCurrentState(s, stateDir)
    // 2 seed reps + 2 batch reps (c1 for the copy farm, d1) — not 2 + 4
    assert(sigs.count() == 4L, s"signature stage holds ${sigs.count()} rows")
    val m = assign.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(m.keySet == Set("s1", "s2", "c1", "c2", "c3", "d1"),
      "assignments must still cover every doc, copies included")
    assert(m("c2") == m("c1") && m("c3") == m("c1"),
      "copies must cluster with their representative")
  }
}
