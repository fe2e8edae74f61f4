package graft.pipeline

import graft.media.{DefaultMedia, MediaResolver}
import graft.model.{Doc, DocSig}
import graft.text.Hashing
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end record-linkage pipeline (the Spark lifecycle replacing the
  * reference's E1 flow, SURVEY.md §3):
  *
  *   Dataset[Doc] → signatures (narrow map) → band blocking (explode)
  *   → salted self-join + fused scoring → large-star/small-star CC
  *   → cluster assignment joined back to the input docs.
  *
  * Output preserves span-sequence equality per row: cluster ids are joined
  * back onto the ORIGINAL doc rows by doc_id; spans are never carried
  * through (and therefore never reordered by) the shuffling stages.
  */
object Pipeline {

  /** Call `release` once after consuming the result; a throwing run
    * leaves nothing persisted. */
  final case class Result(clusters: DataFrame, // (doc_id, cluster_id, spans)
                          edges: DataFrame, // (src, dst)
                          badMedia: DataFrame, // (doc_id, media_ref, error)
                          stats: Blocking.BlockStats,
                          release: () => Unit = () => ())

  /** Resume key root = config digest ⊕ input-data digest: reusing a
    * checkpoint dir with CHANGED input data (same config) invalidates every
    * stage. The digest is order-independent (count + bit_xor over per-row
    * hashes) and covers CONTENT, not just ids — xxhash64(doc_id,
    * to_json(spans)) changes when a doc's spans change under a stable
    * doc_id, which would otherwise silently reuse every stale stage table.
    * Read by the one input scan ([[scanInput]]), only when checkpointing.
    */
  def resumeBaseKey(docs: Dataset[Doc], cfg: GraftConfig): Long =
    resumeKey(scanInput(docs, resumeDigest = true), cfg)

  private def resumeKey(in: InputScan, cfg: GraftConfig): Long =
    Hashing.hash64(Hashing.hash64(cfg.configHash, in.n), in.digest)

  /** What the one pre-pass over a caller's docs reads: the doc count, whether
    * two docs share a [[contentDigest]] (fewer distinct digests than docs),
    * and the resume digest when asked for (0 otherwise). */
  private final case class InputScan(n: Long, hasCopies: Boolean, digest: Long)

  /** The one aggregate over `docs` that sizes, keys and collapses a pass.
    * It also rejects a doc whose `spans` is null: such a doc would fail a
    * signatures task, or, since xxhash64 skips nulls, share the digest of
    * an empty-spans doc and merge into its cluster. */
  private def scanInput(docs: Dataset[Doc], resumeDigest: Boolean): InputScan = {
    val nullSpans = col("spans").isNull
    val aggs = Seq(count(lit(1)), count_distinct(contentDigest), count_if(nullSpans),
      min(when(nullSpans, col("doc_id")))) ++
      (if (resumeDigest) Seq(expr("coalesce(bit_xor(xxhash64(doc_id, to_json(spans))), 0L)"))
       else Nil)
    val row = docs.toDF().agg(aggs.head, aggs.tail: _*).head()
    if (row.getLong(2) > 0)
      throw new IllegalArgumentException(s"${row.getLong(2)} doc(s) have null spans " +
        s"(e.g. doc_id ${row.getString(3)}); an empty document has an empty span list")
    InputScan(row.getLong(0), row.getLong(1) < row.getLong(0),
      if (resumeDigest) row.getLong(4) else 0L)
  }

  /** `checkpoint`: the TableIO every stage is materialized through
    * (resumable; e.g. `new ParquetTableIO(dir)`, or
    * [[BucketedParquetTableIO]] for co-located state joins). The completed
    * dir is a full [[Generation]] — [[Generation.read]] /
    * [[Incremental.fromCheckpoint]] fold the next batch into it.
    */
  def run(spark: SparkSession, docs: Dataset[Doc],
          cfg: GraftConfig = GraftConfig(),
          resolver: MediaResolver = DefaultMedia,
          checkpoint: Option[TableIO] = None): Result = {
    implicit val s: SparkSession = spark
    Pins.scoped { pins =>
    // 0-4. pre-collapse, signatures (+ bad-media side output), candidates,
    // scored pairs
    val st = selfJoin(docs, cfg, pins, checkpoint, Signatures.derive(_, cfg, resolver))
    val badMedia = st.sigResults.select(explode(col("errors")).as("e")).select("e.*")

    // 5. connected components
    val assignments = st.materialize("clusters", Hashing.hash64(st.key, 4L)) {
      Components.connectedComponents(st.edges, cfg.maxCcIterations)
    }

    // 6. join back to input docs; singletons cluster as themselves. With
    // pre-collapse, every doc routes through its representative's
    // assignment (exact copies of an otherwise-singleton rep still cluster
    // together under the rep's id).
    val expanded = expandClusters(st.input.toDF(), st.expansion, assignments)
      .select("doc_id", "cluster_id", "spans")

    // 7. when checkpointing, the band relation and the EXPANDED per-doc
    // assignment (every doc, singletons included) complete the dir as a
    // generation: tomorrow's incremental fold links its batch against the
    // checkpointed band keys instead of re-deriving them with an O(corpus)
    // UDF pass (the 40.3 s vs 26.9 s fold delta measured in BASELINE.md)
    val out = checkpoint.fold(expanded)(t =>
      Generation.checkpointTail(spark, t, st.key)(Blocking.bandRowsDF(st.sigs, cfg), expanded))

    Result(out, st.edges, badMedia, st.stats, pins.release)
    }
  }

  /** The stages [[selfJoin]] ran: the caller's input narrowed to the pass's
    * width, the pre-collapse mapping (owned by the pass's `pins`), the
    * signature stage (`sig` + `errors`) and its [[DocSig]]s, the duplicate
    * edges of the scored pairs, the census stats, the resume key root and
    * the pass's materialize rule.
    */
  private[pipeline] final case class Stages(input: Dataset[Doc], expansion: Option[DataFrame],
      sigResults: DataFrame, sigs: Dataset[DocSig], edges: DataFrame,
      stats: Blocking.BlockStats, key: Long, materialize: Materialize)

  /** The one materialize rule of a pass, at the width its input scan sized:
    * a stage goes through `io` when one is set (resumable), and is
    * persisted in `pins` and counted otherwise — each stage feeds more than
    * one action, and an unmaterialized lineage would re-run the signature
    * map (decode + DCT + minhash, the expensive part) once per action.
    */
  private[pipeline] final class Materialize(spark: SparkSession, pins: Pins,
      io: Option[TableIO], val width: Int) {
    def apply(name: String, key: Long)(compute: => DataFrame): DataFrame = io match {
      case Some(t) => Checkpoints.stage(spark, t, name, key)(Parallelism.coalesceTo(compute, width))
      case None => persist(compute)
    }

    /** A relation of the pass that is no resumable stage, persisted and
      * counted at the pass's width. */
    def persist(df: DataFrame): DataFrame = {
      val p = pins(Parallelism.coalesceTo(df, width))
      p.count()
      p
    }
  }

  /** The self-join stages of every lifecycle pass — [[run]], the batch leg
    * of [[Incremental.run]] and the member re-run of [[Incremental.retract]]
    * — in order: the one input scan, the exact-duplicate pre-collapse, the
    * signatures `sign` derives for the representatives, the candidate
    * pairs and the scored pairs.
    *
    * The scan's doc count sizes the pass ([[Parallelism.sized]]): every
    * stage reads the input narrowed to the sized width, every stage is
    * persisted or written at that width, and the band persist and
    * scoring's phase B spread to it. With `io` set the scan also reads the
    * input's content digest, which keys the pass ([[resumeKey]]).
    */
  private[pipeline] def selfJoin(docs: Dataset[Doc], cfg: GraftConfig, pins: Pins,
      io: Option[TableIO], sign: Dataset[Doc] => Dataset[Signatures.SigResult])(
      implicit spark: SparkSession): Stages = {
    import spark.implicits._
    val in = scanInput(docs, resumeDigest = io.isDefined)
    val width = Parallelism.sized(spark, in.n)
    val key = if (io.isDefined) resumeKey(in, cfg) else cfg.configHash
    val materialize = new Materialize(spark, pins, io, width)
    val input = Parallelism.coalesceTo(docs, width)

    // exact-duplicate pre-collapse: one digest rule for the full run and
    // the incremental paths, whose byte-equality depends on it
    val (reps, expansion) = collapse(input, in.hasCopies, width)
    expansion.foreach(e => pins.own(e))

    val sigResults = materialize("signatures", key)(sign(reps).toDF())
    val sigs = sigResults.select("sig.*").as[DocSig]

    // Candidates (census + salted self-join) are constructed INSIDE the
    // materialize thunk: candidatePairs runs its hot-key census collect()
    // eagerly (a full band-relation groupBy — the largest scan of the pass),
    // so building it before the checkpoint manifest is consulted would pay
    // that O(corpus) pass on every RESUMED run just to throw it away. On a
    // resume the census never runs, so stats honestly reads all-zeros
    // (nothing was dropped/salted THIS run). The band relation is released
    // as soon as the candidates are materialized.
    var stats = Blocking.BlockStats(0L, 0L, 0L)
    val candidates = Pins.using { blocks =>
      materialize("candidates", Hashing.hash64(key, 2L)) {
        val (cands, s0, releaseBlocks) = Blocking.candidatePairs(sigs, cfg, Some(width))
        stats = s0
        blocks.own(releaseBlocks)
        cands
      }
    }
    val scored = materialize("scored", Hashing.hash64(key, 3L)) {
      Pairs.score(candidates, sigs, cfg, Some(width))
    }
    Stages(input, expansion, sigResults, sigs, Pairs.edges(scored), stats, key, materialize)
  }

  /** Exact-duplicate pre-collapse: one REPRESENTATIVE (min doc_id) per
    * content-digest group, so a k-copy farm costs O(k) — one narrow digest
    * map, one (digest, doc_id) shuffle — instead of the O(k²) within-block
    * pair blowup no blocking scheme can avoid for identical content. Cheap
    * detection first: a corpus with no exact duplicates (the common case)
    * pays ONLY the input scan. Returns (repDocs, mapping) — the mapping is
    * persisted; the CALLER unpersists it.
    *
    * perfbench's staged-run accessor: the traced run times the collapse on
    * its own through this, at the session width. Every lifecycle pass
    * collapses inside [[selfJoin]] instead.
    */
  private[pipeline] def precollapse(docs: Dataset[Doc])(
      implicit spark: SparkSession): (Dataset[Doc], Option[DataFrame]) =
    collapse(docs, scanInput(docs, resumeDigest = false).hasCopies, Parallelism.width(spark))

  /** 128-bit content digest as a two-lane xxhash64 over a canonical span
    * struct — replaces md5(to_json(spans)): the Jackson serialization of
    * every span list was ~60% of the collapse stage's cost, and the hash
    * can consume the struct directly. Two chained-seed lanes keep the
    * 128-bit width the 10¹²-doc birthday argument needs (64 bits would
    * collide there and silently merge unrelated docs). That argument holds
    * for non-adversarial input only: xxhash64 is not a cryptographic hash,
    * and colliding inputs can be constructed, so two docs with different
    * spans can share a digest (span equality inside a digest group is not
    * checked). Canonicalization: xxhash64 SKIPS null leaves, so
    * (text=null, media_ref="x") and (text="x", media_ref=null) would
    * otherwise hash identically — the isNull booleans are never skipped
    * and disambiguate every null pattern; each leaf is hashed as its own
    * length-delimited step, so no cross-field byte-boundary ambiguity
    * exists either. A null span list is rejected by [[scanInput]].
    */
  private def contentDigest: Column = {
    val canon = transform(col("spans"), sp => struct(
      sp.getField("kind").isNull, sp.getField("kind"),
      sp.getField("text").isNull, sp.getField("text"),
      sp.getField("media_ref").isNull, sp.getField("media_ref"),
      sp.getField("offset")))
    struct(xxhash64(lit(1L), canon), xxhash64(lit(2L), canon))
  }

  /** [[precollapse]] once the input scan has decided whether `docs` holds
    * exact copies; the mapping is narrowed to `width`
    * ([[Parallelism.coalesceTo]]). */
  private def collapse(docs: Dataset[Doc], hasCopies: Boolean, width: Int)(
      implicit spark: SparkSession): (Dataset[Doc], Option[DataFrame]) = {
    import spark.implicits._
    if (!hasCopies) (docs, None)
    else {
      val k = docs.toDF().select(col("doc_id"), contentDigest.as("digest"))
      val reps = k.groupBy("digest").agg(min(col("doc_id")).as("rep"))
      val mapping = Parallelism.coalesceTo(k.join(reps, "digest").select("doc_id", "rep"), width)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      mapping.count()
      val repDocs = docs.join(mapping.filter(col("doc_id") === col("rep"))
        .select("doc_id"), Seq("doc_id"), "left_semi").as[Doc]
      (repDocs, Some(mapping))
    }
  }

  /** Per-doc cluster expansion (stage 6 / Incremental assignment): every
    * row of `docsDF` gets a `cluster_id` — via its pre-collapse
    * representative when `expansion` is set, directly otherwise; docs
    * untouched by any edge cluster as themselves. All other `docsDF`
    * columns pass through.
    */
  private[pipeline] def expandClusters(docsDF: DataFrame,
                                       expansion: Option[DataFrame],
                                       assignments: DataFrame): DataFrame =
    expansion match {
      case Some(mapping) =>
        docsDF.join(mapping, Seq("doc_id"))
          .join(assignments.withColumnRenamed("doc_id", "rep"), Seq("rep"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("rep")))
          .drop("rep")
      case None =>
        docsDF.join(assignments, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    }

  /** Targeted compare (reference E2, `dedupe.go:127-146`): which candidate
    * docs are duplicates of one target doc. The target's band keys are a
    * handful of rows — broadcast against the blocked corpus; no CC needed.
    *
    * DELIBERATE divergence from [[run]]'s candidacy: this path accepts ONE
    * shared band (plus the SimHash prefilter) where the full pipeline
    * votes `minTextBands` ≥ 2. The vote exists to bound corpus-wide
    * background collisions (O(N²) expected 1-band hits — BASELINE round-2
    * census); for a single target the 1-band join costs
    * O(target_bands × block size), which is bounded, and the looser
    * candidacy brings E2 CLOSER to the reference's exact radius query
    * (recall ⊇ the banded pipeline's). Consequence, stated rather than
    * hidden: compare() may report a duplicate that run() did not link
    * when the pair shares exactly one text band — E2 answers are a
    * superset, never a contradiction of a LINKED pair.
    */
  def compare(spark: SparkSession, target: Doc, candidates: Dataset[Doc],
              cfg: GraftConfig = GraftConfig(),
              resolver: MediaResolver = DefaultMedia): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // one signature derivation per side (the target's decodes media),
    // reused by blocking AND phase-2 scoring
    Pins.using { pins =>
    val sigs = pins(Signatures.derive(candidates, cfg, resolver).map(_.sig))
    val targetSigs = pins(
      Signatures.derive(spark.createDataset(Seq(target)), cfg, resolver).map(_.sig))

    // a = corpus doc, b = target. `=!=` drops the target's own id when it
    // is ALSO in `candidates` (reference-style `graft cat.jpg photos/`
    // with cat.jpg inside photos/), so each id resolves in exactly one
    // side table and scoring cannot fan a pair out into duplicate rows.
    // No vote here (see above): the min over bands is the whole reduction.
    val cand = Blocking.prefilteredPairs(Blocking.bandRowsDF(sigs, cfg),
        broadcast(Blocking.bandRowsDF(targetSigs, cfg)), Nil, _ =!= _, cfg)
      .groupBy("a", "b")
      .agg(min("media_dist").as("media_dist"), min("sim_ham").as("sim_ham"))
    val out = Pairs.scoreSides(cand, sigs, targetSigs, cfg)
      .filter(col("is_dup")).select(col("a").as("doc_id"), col("score"))
    // materialize the (per-target, small) result so the cached signature
    // blocks can be released before returning — repeated compare() calls in
    // a long-lived session would otherwise leak storage memory
    out.localCheckpoint(true)
    }
  }
}
