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
    import spark.implicits._

    // One scan of the caller's docs sizes the pass (Parallelism.sized),
    // keys it when checkpointing and decides the pre-collapse. From then on
    // every stage reads the input narrowed to the sized width, every stage
    // is persisted or written at that width, and the band persist and
    // scoring's phase B spread to it.
    val in = scanInput(docs, resumeDigest = checkpoint.isDefined)
    val width = Parallelism.sized(spark, in.n)
    val baseKey = if (checkpoint.isDefined) resumeKey(in, cfg) else cfg.configHash
    val input = Parallelism.coalesceTo(docs, width)

    Pins.scoped { pins =>
    // Without a TableIO every stage is persisted + materialized instead:
    // each stage below is consumed by more than one downstream action, and
    // an unmaterialized lineage would re-run the signature map (decode +
    // DCT + minhash — the expensive part) once per action.
    def materialize(name: String, key: Long)(compute: => DataFrame): DataFrame =
      checkpoint match {
        case Some(t) =>
          Checkpoints.stage(spark, t, name, key)(Parallelism.coalesceTo(compute, width))
        case None =>
          val df = pins(Parallelism.coalesceTo(compute, width))
          df.count()
          df
      }

    // 0. exact-duplicate pre-collapse (shared with Incremental's batch
    // path — the byte-equality contract between the two depends on ONE
    // digest rule, so there is one implementation)
    val (pipelineDocs, expansion) = collapse(input, in.hasCopies, width)
    expansion.foreach(e => pins.own(e))

    // 1. signatures (+ bad-media side output)
    val sigResults = materialize("signatures", baseKey) {
      Signatures.derive(pipelineDocs, cfg, resolver).toDF()
    }
    val sigs: Dataset[DocSig] = sigResults.select("sig.*").as[DocSig]
    val badMedia = sigResults.select(explode(col("errors")).as("e")).select("e.*")

    // 2-3. blocking + candidate pairs (census + salted self-join).
    // Constructed INSIDE the materialize thunk: candidatePairs runs its
    // hot-key census collect() eagerly (a full band-relation groupBy — the
    // largest scan in the pipeline), so building it before the checkpoint
    // manifest is consulted would pay that O(corpus) pass on every RESUMED
    // run just to throw it away. On a resume the census never runs, so
    // stats honestly reads all-zeros (nothing was dropped/salted THIS run).
    // The band relation is released as soon as the candidates are
    // materialized.
    var stats = Blocking.BlockStats(0L, 0L, 0L)
    val candidates = Pins.using { blocks =>
      materialize("candidates", Hashing.hash64(baseKey, 2L)) {
        val (cands, s0, releaseBlocks) = Blocking.candidatePairs(sigs, cfg, Some(width))
        stats = s0
        blocks.own(releaseBlocks)
        cands
      }
    }

    // 4. exact scoring → duplicate edges
    val scored = materialize("scored", Hashing.hash64(baseKey, 3L)) {
      Pairs.score(candidates, sigs, cfg, Some(width))
    }
    val edges = Pairs.edges(scored)

    // 5. connected components
    val assignments = materialize("clusters", Hashing.hash64(baseKey, 4L)) {
      Components.connectedComponents(edges, cfg.maxCcIterations)
    }

    // 6. join back to input docs; singletons cluster as themselves. With
    // pre-collapse, every doc routes through its representative's
    // assignment (exact copies of an otherwise-singleton rep still cluster
    // together under the rep's id).
    val expanded = expandClusters(input.toDF(), expansion, assignments)
      .select("doc_id", "cluster_id", "spans")

    // 7. when checkpointing, the band relation and the EXPANDED per-doc
    // assignment (every doc, singletons included) complete the dir as a
    // generation: tomorrow's incremental fold links its batch against the
    // checkpointed band keys instead of re-deriving them with an O(corpus)
    // UDF pass (the 40.3 s vs 26.9 s fold delta measured in BASELINE.md)
    val out = checkpoint match {
      case Some(t) =>
        Generation.checkpointTail(spark, t, baseKey)(Blocking.bandRowsDF(sigs, cfg), expanded)
      case None => expanded
    }

    Result(out, edges, badMedia, stats, pins.release)
    }
  }

  /** Exact-duplicate pre-collapse: one REPRESENTATIVE (min doc_id) per
    * content-digest group, so a k-copy farm costs O(k) — one narrow digest
    * map, one (digest, doc_id) shuffle — instead of the O(k²) within-block
    * pair blowup no blocking scheme can avoid for identical content. Cheap
    * detection first: a corpus with no exact duplicates (the common case)
    * pays ONLY the input scan. Returns (repDocs, mapping) — the mapping is
    * persisted; the CALLER unpersists it.
    *
    * Shared by [[run]] stage 0 and [[Incremental.run]]'s batch path: the
    * incremental-vs-full byte-equality contract requires both to collapse
    * under the identical digest rule.
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
