package graft.streaming

import graft.media.{DefaultMedia, MediaResolver}
import graft.model.{Doc, DocSig}
import graft.pipeline.{Blocking, GraftConfig, Generation, Incremental, ParquetTableIO, Pins, Pipeline}
import graft.text.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** Continuous entity resolution: fold every micro-batch of a document
  * stream into a clustered corpus maintained as immutable on-disk
  * generations — the streaming front door to [[Incremental]].
  *
  * Why `foreachBatch` and not a streaming join: each fold is a full batch
  * program (band linkage with a census, connected components, checkpoint
  * writes) — none of which exist as streaming operators. `foreachBatch`
  * is the idiomatic Spark shape for exactly this: the stream supplies
  * bounded batches and ordering; every batch runs the battle-tested batch
  * path unchanged, so streaming ingest inherits the batch fold's
  * byte-equality guarantee against a full re-run (IncrementalSpec /
  * StreamIngestSpec).
  *
  * State layout under `stateDir`:
  *   - `gen-NNNNNNNN/` — one immutable [[Generation]] (its stage format
  *     is documented, read and written there and nowhere else). A FULL
  *     generation (the [[seed]], and every `compactEvery`-th fold) carries
  *     the complete corpus state [[Generation.read]] reads (signatures,
  *     bands, assignments). A DELTA generation carries only its batch's
  *     signature/band rows, its tombstones (the ids whose ancestor rows
  *     are dead — empty for folds), the FULL assignment table (tiny
  *     relative to signatures — two columns per doc, no text payloads),
  *     and a link to the previous generation; `Generation.read` refuses it
  *     rather than return a partial corpus. Corpus state at a delta generation = fold the chain
  *     ROOT-FIRST, subtracting each delta's tombstones from the accumulated
  *     ancestors before unioning its own rows (so a tombstoned id
  *     re-inserted by a later fold survives).
  *   - `CURRENT` — the committed generation's name, flipped by an atomic
  *     rename AFTER the new generation is fully written. A crash mid-fold
  *     leaves `CURRENT` on the previous intact generation.
  *   - each generation carries a `MAXBATCH` marker — the folded-batch
  *     high-water mark, the replay criterion (folds set it to their
  *     batchId; retraction generations copy the parent's). Generation
  *     NUMBERS are allocated from the committed pointer and say nothing
  *     about batchIds: a retraction consumes a number without consuming
  *     a batchId, so takedowns interleave safely with a live stream.
  *
  * Delta generations are the append-only-commit shape an Iceberg-backed
  * TableIO would give for free: a fold WRITES O(batch) signature/band
  * rows, not O(corpus). Chains are bounded by compaction — every
  * `compactEvery`-th fold writes a full generation, so reads union at
  * most `compactEvery` parts and the amortized rewrite cost is
  * O(corpus / compactEvery) per fold.
  *
  * Exactly-once: Spark replays an uncommitted micro-batch with the SAME
  * batchId after a restart. The fold is deterministic and the next
  * generation dir is derived from the COMMITTED pointer (which a crash
  * leaves unmoved), so a replay overwrites the same uncommitted directory
  * and re-flips the pointer to the same value — idempotent (the
  * delta-vs-compact decision depends only on the committed chain, so a
  * replay makes the same choice). A batch at or below the folded
  * high-water mark (`MAXBATCH`) is skipped outright. Old generations are
  * kept for rollback/backfill; prune with
  * [[pruneGenerations]] (chain ancestors of the current generation are
  * never pruned).
  */
object StreamIngest {

  /** Seed `gen-00000000` from an initial corpus (full [[Pipeline.run]]
    * with its stage checkpoints) and commit the pointer. Call once before
    * starting the stream; an empty initial corpus is not supported (fold
    * needs a generation to link against — stream the first batch into a
    * tiny seeded corpus instead).
    */
  def seed(spark: SparkSession, initial: Dataset[Doc], stateDir: String,
           cfg: GraftConfig = GraftConfig(),
           resolver: MediaResolver = DefaultMedia): Unit = {
    val gen = genName(-1L)
    withStateLock(stateDir) {
      val res = Pipeline.run(spark, initial, cfg, resolver,
        checkpoint = Some(new ParquetTableIO(s"$stateDir/$gen")))
      res.clusters.count()
      res.release()
      writeMaxBatch(s"$stateDir/$gen", -1L)
      commitPointer(stateDir, gen, None)
    }
  }

  /** The committed generation directory (absolute path). */
  def currentDir(stateDir: String): String = s"$stateDir/${currentGen(stateDir)}"

  /** Start the ingest: every micro-batch of `stream` folds into the
    * current generation and commits the next one. The default trigger is
    * fine — the fold is stateless at the STREAM level (all state lives in
    * the generation dirs), so none of the flatMapGroupsWithState trigger
    * caveats documented on [[StreamDedup]] apply.
    *
    * Lifecycle contract: `stateDir` and `streamingCheckpoint` are ONE
    * deployment — the replay guard compares batchIds against the state's folded high-water mark, and batchIds
    * are monotonic only within one streaming checkpoint. Starting a FRESH
    * streaming checkpoint against an existing stateDir restarts batchIds
    * at 0, at or below the state's folded high-water mark, so genuinely
    * new data would be skipped as replays. To feed new data from a new
    * stream into existing state, drive [[foldBatch]] directly with
    * batchIds past the high-water mark — it reads delta chains. ([[Incremental
    * .fromCheckpoint]] works only against a FULL generation dir — the
    * seed or a compaction — since [[Generation.read]] refuses a delta
    * dir; read combined state with [[readCurrentState]].)
    */
  def start(stream: Dataset[Doc], stateDir: String,
            streamingCheckpoint: String, cfg: GraftConfig = GraftConfig(),
            resolver: MediaResolver = DefaultMedia,
            trigger: Option[Trigger] = None,
            compactEvery: Int = 8): StreamingQuery = {
    val w0 = writer(stream, stateDir, cfg, resolver, compactEvery)
      .option("checkpointLocation", streamingCheckpoint)
    trigger.fold(w0)(w0.trigger).start()
  }

  /** The configured `DataStreamWriter` (callers add trigger/checkpoint). */
  def writer(stream: Dataset[Doc], stateDir: String,
             cfg: GraftConfig = GraftConfig(),
             resolver: MediaResolver = DefaultMedia,
             compactEvery: Int = 8): DataStreamWriter[Doc] = {
    // fail at configuration time, not minutes later inside the first
    // micro-batch wrapped in a StreamingQueryException
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    stream.writeStream.foreachBatch {
      (batch: Dataset[Doc], batchId: Long) =>
        foldBatch(batch.sparkSession, batch, batchId, stateDir, cfg, resolver,
          compactEvery)
    }
  }

  /** Corpus state at the committed generation — (signatures, assignments) —
    * the chain-aware analog of [[Generation.read]]: the signature
    * relation is the root's full stage folded with the current chain's
    * delta rows and tombstones; assignments are always full in every
    * generation.
    */
  def readCurrentState(spark: SparkSession, stateDir: String)
      : (Dataset[DocSig], DataFrame) = {
    val state = Generation.readChain(spark, stateDir,
      Generation.chain(stateDir, currentGen(stateDir)))
    (state.sigs, state.assign)
  }

  /** One micro-batch fold (also directly callable for batch-driven
    * backfills): read the committed generation's chain,
    * [[Incremental.run]] the batch against it, write generation
    * `batchId + 1` — a DELTA generation (O(batch) signature/band rows +
    * the full assignment table) unless the chain has reached
    * `compactEvery` parts, in which case a FULL generation is compacted
    * out (readable by [[Generation.read]] / `fromCheckpoint` directly)
    * — and commit the pointer.
    */
  def foldBatch(spark: SparkSession, batch: Dataset[Doc], batchId: Long,
                stateDir: String, cfg: GraftConfig,
                resolver: MediaResolver = DefaultMedia,
                compactEvery: Int = 8): Unit = withStateLock(stateDir) {
    // 1 = compact every fold (the full-rewrite behavior); chains never
    // exceed compactEvery parts, which also bounds the chain walk
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    val cur = currentGen(stateDir)
    // replay guard: against the folded-batch HIGH-WATER MARK carried by
    // every generation, NOT the generation number — retraction generations
    // consume generation numbers without consuming batchIds, so a live
    // stream's next micro-batch stays safe across an interleaved takedown
    if (batchId <= maxBatch(stateDir, cur)) {
      System.err.println(s"[graft] stream-ingest: batch $batchId already folded (at $cur) — skipping replay")
      return
    }
    if (batch.isEmpty) return // no state change

    // corpus state = the chain's stages unioned, through the shared
    // sized widen + persist fold-input treatment
    val chain = Generation.chain(stateDir, cur)
    val state = Generation.readChain(spark, stateDir, chain)
    Pins.using { pins =>
      val (sigs, bands) = Incremental.foldInputs(pins, state)
      val inc = Incremental.run(spark, sigs, bands, state.assign, batch, cfg, resolver)
      pins.own(inc.release)

      // The batch side of the next generation is `inc.batchSigs` — the
      // exact-content REPRESENTATIVES the fold itself derived (one
      // derivation, persisted until release; same collapse rule as
      // Pipeline.run stage 0) — so streamed-in exact copies never accumulate
      // in corpus state. The generation key chains off the previous key so
      // the manifest lineage links the whole history. Folds only add: the
      // tombstone set is empty.
      val newAssign = Incremental.applyRemap(state.assign, inc.remapped)
        .unionByName(inc.assignments)
      commit(spark, stateDir, chain, sigs, bands, cfg, compactEvery)(inc.batchSigs,
        newAssign.select("doc_id").limit(0), newAssign,
        Hashing.hash64(state.key, batchId), batchId)
    }
  }

  /** Generation-level retraction — the takedown path beside the insert
    * stream: remove `removeIds` from the committed corpus state (via
    * [[Incremental.retract]], so only touched clusters are re-resolved)
    * and commit the result as the next generation. Retraction rewrites
    * state NON-monotonically — removed rows disappear and touched
    * survivors' signature rows may be re-keyed — so a retraction DELTA
    * carries a tombstone stage (the drop ids) beside its
    * O(touched) signature/band delta rows: readers subtract each delta's
    * tombstones from its ANCESTORS before unioning its own rows. Like
    * folds, a retraction compacts to a FULL chain-truncating generation
    * once the chain reaches `compactEvery` parts — so an update-heavy CDC
    * stream pays O(touched) per batch, not a full corpus rewrite.
    *
    * Retractions take no batchId: the generation number is allocated from
    * the committed pointer, and the folded-batch high-water mark
    * ([[maxBatch]]) is carried through unchanged — so a takedown
    * interleaves safely with a LIVE insert stream. Crash-retry
    * is idempotent: the uncommitted dir and its keys are a pure function
    * of the committed state. A removal set with no id in the corpus
    * (including a re-run of an already-executed takedown) commits nothing
    * and logs.
    *
    * `docs` must cover the surviving members of touched clusters —
    * typically the consumer's own materialized corpus table, maintained
    * by the same loop (NOT an upstream source that may run ahead of the
    * applied stream); [[Incremental.retract]] fails loudly on gaps.
    * `StreamIngestSpec` interleaves folds and retractions and asserts the
    * final state byte-equals a full run over the surviving union.
    */
  def retractBatch(spark: SparkSession, docs: Dataset[Doc],
                   removeIds: DataFrame,
                   stateDir: String, cfg: GraftConfig,
                   resolver: MediaResolver = DefaultMedia,
                   compactEvery: Int = 8): Unit = withStateLock(stateDir) {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    val cur = currentGen(stateDir)
    if (removeIds.isEmpty) return

    val chain = Generation.chain(stateDir, cur)
    val state = Generation.readChain(spark, stateDir, chain)
    Pins.using { pins =>
      val (sigs, bands) = Incremental.foldInputs(pins, state)
      val res = Incremental.retract(spark, docs, state.assign, removeIds, cfg, resolver,
        existingSigs = Some(sigs))
      pins.own(res.release)
      if (res.touched.isEmpty) // nothing known was removed: state unchanged
        System.err.println(s"[graft] stream-ingest: retraction touched no cluster (at $cur) — nothing to commit")
      else {
        // tagged key derivation: a crashed FOLD attempt can leave stages in
        // the same uncommitted dir; the tag keeps a retraction's keys from
        // ever pairing with them. The touched survivors' rows replace the
        // dropped ones; the high-water mark is carried, not consumed.
        val genKey = Hashing.hash64(Hashing.hash64(state.key, 0x72657472616374L),
          genNum(nextGen(cur)))
        commit(spark, stateDir, chain, sigs, bands, cfg, compactEvery)(res.memberSigs,
          res.dropIds, res.assignments, genKey, maxBatch(stateDir, cur))
      }
    }
  }

  /** The one commit of [[foldBatch]] and [[retractBatch]]: derive the
    * delta's band rows, write the next generation — a DELTA (`deltaSigs`,
    * their bands, `tombstones`, the full `assign`, the parent link), or
    * once the chain has reached `compactEvery` parts a FULL generation
    * `(state − tombstones) ∪ delta` for both signatures and bands — then
    * its high-water `mark`, then flip the pointer. `sigs`/`bands` are the
    * chain's state as the fold inputs hold it. A fold's tombstone set is
    * an empty relation, and Spark drops the anti-join against it.
    */
  private def commit(spark: SparkSession, stateDir: String, chain: List[String],
      sigs: Dataset[DocSig], bands: DataFrame, cfg: GraftConfig, compactEvery: Int)(
      deltaSigs: Dataset[DocSig], tombstones: DataFrame, assign: DataFrame,
      key: Long, mark: Long): Unit = {
    import spark.implicits._
    val cur = chain.head
    val next = nextGen(cur)
    val nextDir = s"$stateDir/$next"
    val deltaBands = Blocking.bandRowsDF(deltaSigs, cfg)
    if (chain.length >= compactEvery) {
      // compaction: a self-contained full generation truncates the chain
      def live(df: DataFrame) = df.join(tombstones, Seq("doc_id"), "left_anti")
      Generation.write(spark, nextDir,
        live(sigs.toDF()).unionByName(deltaSigs.toDF()).as[DocSig], assign, key,
        live(bands).unionByName(deltaBands))
    } else
      Generation.writeDelta(nextDir, deltaSigs, deltaBands, tombstones, assign, key, cur)
    writeMaxBatch(nextDir, mark)
    commitPointer(stateDir, next, Some(cur))
  }

  /** One CDC record: an upsert carries the full document; a delete needs
    * only the id (its spans are ignored). `seq` is the SOURCE order
    * (offset / LSN / commit timestamp) — when one micro-batch carries
    * several records for the same id, the highest `seq` wins (deletes win
    * ties), so insert-then-update folds only the final version and
    * create-then-delete resolves to absent regardless of Spark's row
    * order.
    */
  final case class CdcRecord(doc: Doc, delete: Boolean, seq: Long = 0L)

  /** The CDC front door: ONE stream carrying both upserts and deletes.
    * Per micro-batch, in order: (0) per-id last-wins reduction by `seq`;
    * (1) ids to retract = the batch's deletes ∪ the upsert ids ALREADY in
    * the corpus (an upsert of a live id is retract-then-insert — the fold
    * contract requires ids unique across old ∪ new, and this gives true
    * replace semantics for edited documents); (2) [[retractBatch]]
    * commits a (delta, usually) retraction generation when any of those
    * ids are live; (3) [[foldBatch]] folds the upsert docs and stamps the
    * high-water mark; a batch with nothing to fold advances the mark on
    * the committed generation afterwards (atomically). Replays are
    * idempotent end-to-end: a replayed prefix re-runs as no-ops (the
    * retracted ids are no longer live; the fold skips on the mark).
    *
    * `corpusDocs` must produce the corpus document table AS APPLIED so
    * far — typically the consumer's own materialized table, updated by
    * the same batch loop. An upstream source table that runs AHEAD of the
    * applied stream does not qualify: a source-side delete of a cluster
    * survivor would leave retraction's coverage check nothing to read
    * (it fails loudly rather than corrupting state). Deleting an id that
    * was never ingested is a no-op.
    */
  def cdcFoldBatch(spark: SparkSession, batch: Dataset[CdcRecord],
                   batchId: Long, corpusDocs: SparkSession => Dataset[Doc],
                   stateDir: String, cfg: GraftConfig,
                   resolver: MediaResolver = DefaultMedia,
                   compactEvery: Int = 8): Unit = withStateLock(stateDir) {
    // fail before the retraction commit, not between the two steps
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    import spark.implicits._
    val cur = currentGen(stateDir)
    if (batchId <= maxBatch(stateDir, cur)) {
      System.err.println(s"[graft] stream-ingest: CDC batch $batchId already applied (at $cur) — skipping replay")
      return
    }
    // last-wins per id; persisted — the reduced batch feeds four
    // consumers (delete/upsert splits, the liveness join, the fold).
    // The order is TOTAL and independent of Spark's reduction order:
    // source seq, then delete-over-upsert, then a content digest — so
    // equal-seq conflicts (a producer that never sets seq) resolve the
    // same way on every replay, not by partition order
    def rank(r: CdcRecord): (Long, Int, Long) = (r.seq,
      if (r.delete) 1 else 0,
      Hashing.hash64(r.doc.spans.map(sp =>
        s"${sp.kind}|${sp.text}|${sp.media_ref}|${sp.offset}").mkString("\u0000")))
    val ord = Ordering[(Long, Int, Long)]
    Pins.using { pins =>
      val latest = pins(batch.groupByKey(_.doc.doc_id)
        .reduceGroups((a: CdcRecord, b: CdcRecord) =>
          if (ord.compare(rank(a), rank(b)) >= 0) a else b)
        .map(_._2))
      latest.count()
      val deletes = latest.filter((r: CdcRecord) => r.delete)
        .map(_.doc.doc_id).toDF("doc_id")
      val upserts = latest.filter((r: CdcRecord) => !r.delete).map(_.doc)
      val liveIds = readCurrentState(spark, stateDir)._2.select("doc_id")
      val toRetract = deletes
        .union(liveIds.join(upserts.toDF().select("doc_id"), Seq("doc_id")))
        .distinct()
      retractBatch(spark, corpusDocs(spark), toRetract, stateDir, cfg, resolver,
        compactEvery)
      foldBatch(spark, upserts, batchId, stateDir, cfg, resolver, compactEvery)
      // foldBatch stamps the mark when it commits; for a batch with no
      // upserts to fold, advance it on the committed generation afterwards
      // (writeMaxBatch is atomic, so patching committed state is safe)
      if (maxBatch(stateDir, currentGen(stateDir)) < batchId)
        writeMaxBatch(currentDir(stateDir), batchId)
    }
  }

  /** The `DataStreamWriter` for a CDC stream (callers add
    * trigger/checkpoint and `.start()`): every micro-batch routes through
    * [[cdcFoldBatch]].
    */
  def cdcWriter(stream: Dataset[CdcRecord],
                corpusDocs: SparkSession => Dataset[Doc], stateDir: String,
                cfg: GraftConfig = GraftConfig(),
                resolver: MediaResolver = DefaultMedia,
                compactEvery: Int = 8): DataStreamWriter[CdcRecord] = {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    stream.writeStream.foreachBatch {
      (batch: Dataset[CdcRecord], batchId: Long) =>
        cdcFoldBatch(batch.sparkSession, batch, batchId, corpusDocs,
          stateDir, cfg, resolver, compactEvery)
    }
  }

  /** Delete generations no longer needed. Kept: the current generation's
    * chain (which reads require), the newest `keep` FULL generations
    * outside it (self-contained rollback points), and any delta whose
    * entire parent chain is itself kept (still a readable rollback
    * point). Pruned: everything else — in particular a delta whose chain
    * would lose a link, which without it cannot be read. Returns the
    * pruned dir names.
    */
  def pruneGenerations(stateDir: String, keep: Int = 2): Seq[String] = {
    val root = java.nio.file.Paths.get(stateDir)
    val cur = currentGen(stateDir)
    val chainSet = Generation.chain(stateDir, cur).toSet
    val listing = java.nio.file.Files.list(root)
    val gens =
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("gen-") && genNum(n) <= genNum(cur))
        .toSeq.sortBy(genNum)
      finally listing.close()
    val rollbackFulls = gens
      .filter(g => !chainSet(g) && Generation.parentOf(stateDir, g).isEmpty)
      .takeRight(math.max(0, keep)).toSet
    // ascending pass: a delta additionally survives iff its parent
    // survived (parents have smaller ordinals, so one ordered pass
    // settles every chain) — such a delta's chain is intact and it
    // remains a READABLE rollback point; deltas that would lose a link
    // are pruned
    val kept = scala.collection.mutable.Set.empty[String]
    gens.foreach { g =>
      val intactDelta = Generation.parentOf(stateDir, g).exists(kept)
      if (chainSet(g) || rollbackFulls(g) || intactDelta) kept += g
    }
    val prune = gens.filterNot(kept)
    prune.foreach(g => Generation.deleteRecursively(root.resolve(g)))
    prune
  }

  private def genName(batchId: Long): String = f"gen-${batchId + 1}%08d"

  /** The next generation name, allocated from the COMMITTED pointer (not
    * from the batchId — retraction generations consume numbers without
    * consuming batchIds). A crashed uncommitted attempt retries into the
    * same dir because the pointer has not moved.
    */
  private def nextGen(cur: String): String = f"gen-${genNum(cur) + 1}%08d"

  /** Numeric generation ordinal — ALL ordering uses this, never the name:
    * the 8-digit padding keeps listings readable, but past 10^8 - 1 the
    * lexicographic order of the names diverges from the numeric order.
    */
  private def genNum(name: String): Long = name.stripPrefix("gen-").toLong

  /** The folded-batch high-water mark at `gen` — the replay criterion:
    * batchIds at or below it are already folded. Every write stamps it
    * before the pointer flips (folds set it to their batchId; retractions
    * copy the parent's), so a committed generation without it is corrupt.
    */
  private def maxBatch(stateDir: String, gen: String): Long = {
    val p = java.nio.file.Paths.get(stateDir, gen, "MAXBATCH")
    if (!java.nio.file.Files.exists(p))
      throw new IllegalStateException(
        s"generation $stateDir/$gen has no MAXBATCH high-water mark — corrupt state")
    java.nio.file.Files.readString(p).trim.toLong
  }

  /** Atomic (tmp + rename) so a torn write can never leave a committed
    * generation with an unparsable mark that kills every future replay
    * check.
    */
  private def writeMaxBatch(genDir: String, value: Long): Unit = {
    val dir = java.nio.file.Paths.get(genDir)
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve("MAXBATCH.tmp")
    java.nio.file.Files.writeString(tmp, value.toString)
    java.nio.file.Files.move(tmp, dir.resolve("MAXBATCH"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def currentGen(stateDir: String): String = {
    val p = java.nio.file.Paths.get(stateDir, "CURRENT")
    if (!java.nio.file.Files.exists(p))
      throw new IllegalStateException(
        s"$stateDir has no CURRENT pointer — call StreamIngest.seed first")
    java.nio.file.Files.readString(p).trim
  }

  /** ONE writer per stateDir per JVM: foldBatch and retractBatch each
    * read CURRENT, write the next generation, and flip the pointer —
    * two interleaved writers would allocate the SAME next dir and one
    * would overwrite the other's committed generation (losing a batch
    * whose streaming offsets are already committed). The realistic
    * concurrent pair — the stream's foreachBatch thread and a driver
    * thread issuing a takedown — lives in one JVM, which this lock
    * serializes; cross-PROCESS writers are additionally caught (not
    * prevented) by [[commitPointer]]'s moved-pointer check.
    */
  private val stateLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def withStateLock[A](stateDir: String)(f: => A): A =
    stateLocks.getOrElseUpdate(
      java.nio.file.Paths.get(stateDir).toAbsolutePath.normalize.toString,
      new Object).synchronized(f)

  /** Flip the pointer — AFTER verifying it still reads `expectCur` (None
    * = must not exist yet, the seed case): a cross-process writer racing
    * this one fails loudly here instead of silently splicing its
    * generation out of the chain. Best-effort (check and move are not one
    * atomic step); same-JVM writers are fully serialized by
    * [[withStateLock]].
    */
  private def commitPointer(stateDir: String, gen: String,
                            expectCur: Option[String]): Unit = {
    val dir = java.nio.file.Paths.get(stateDir)
    java.nio.file.Files.createDirectories(dir)
    val cur = dir.resolve("CURRENT")
    val actual =
      if (java.nio.file.Files.exists(cur))
        Some(java.nio.file.Files.readString(cur).trim)
      else None
    if (actual != expectCur)
      throw new IllegalStateException(
        s"$stateDir CURRENT is ${actual.getOrElse("<none>")}, expected " +
          s"${expectCur.getOrElse("<none>")} while committing $gen — another " +
          "writer is active; state writers must be serialized per stateDir")
    val tmp = dir.resolve(s"CURRENT.tmp")
    java.nio.file.Files.writeString(tmp, gen)
    java.nio.file.Files.move(tmp, cur,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
