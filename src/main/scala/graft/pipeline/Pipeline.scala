package graft.pipeline

import graft.media.{DefaultMedia, MediaResolver}
import graft.model.{Doc, DocSig}
import graft.text.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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

  private object log {
    def info(msg: String): Unit = System.err.println(s"[graft] $msg")
  }

  final case class Result(clusters: DataFrame, // (doc_id, cluster_id, spans)
                          edges: DataFrame, // (src, dst)
                          badMedia: DataFrame, // (doc_id, media_ref, error)
                          stats: Blocking.BlockStats,
                          release: () => Unit = () => ())

  /** Resume key root = config digest ⊕ input-data digest: reusing a
    * checkpointDir with CHANGED input data (same config) invalidates every
    * stage. The digest is order-independent (count + bit_xor over per-row
    * hashes) and covers CONTENT, not just ids — xxhash64(doc_id,
    * to_json(spans)) changes when a doc's spans change under a stable
    * doc_id, which would otherwise silently reuse every stale stage table.
    * One narrow scan, only paid when checkpointing is enabled.
    */
  def resumeBaseKey(docs: Dataset[Doc], cfg: GraftConfig): Long = {
    val row = docs.toDF().selectExpr(
      "count(*) AS n",
      "coalesce(bit_xor(xxhash64(doc_id, to_json(spans))), 0L) AS dg").head()
    Hashing.hash64(Hashing.hash64(cfg.configHash, row.getLong(0)), row.getLong(1))
  }

  def run(spark: SparkSession, docs: Dataset[Doc],
          cfg: GraftConfig = GraftConfig(),
          resolver: MediaResolver = DefaultMedia,
          checkpointDir: Option[String] = None,
          checkpointIo: Option[TableIO] = None): Result = {
    implicit val s: SparkSession = spark
    import spark.implicits._

    // a caller-supplied TableIO (e.g. [[BucketedParquetTableIO]] for
    // co-located state joins) wins over the plain-parquet default
    val io = checkpointIo.orElse(checkpointDir.map(new ParquetTableIO(_)))
    val baseKey = if (io.isDefined) resumeBaseKey(docs, cfg) else cfg.configHash

    // Without a TableIO every stage is persisted + materialized instead:
    // each stage below is consumed by more than one downstream action, and
    // an unmaterialized lineage would re-run the signature map (decode +
    // DCT + minhash — the expensive part) once per action.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def materialize(name: String, key: Long)(compute: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      var rows = -1L
      val out = io match {
        case Some(t) => Checkpoints.stage(spark, t, name, key)(compute)
        case None =>
          val df = compute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          rows = df.count()
          cached += df
          df
      }
      log.info(f"stage $name: ${(System.nanoTime() - t0) / 1e9}%.2f s, $rows rows")
      out
    }

    // 0. exact-duplicate pre-collapse (shared with Incremental's batch
    // path — the byte-equality contract between the two depends on ONE
    // digest rule, so there is one implementation)
    val t0Collapse = System.nanoTime()
    val (pipelineDocs, expansion) =
      if (cfg.exactPrecollapse) precollapse(docs) else (docs, None)
    log.info(f"stage collapse: ${(System.nanoTime() - t0Collapse) / 1e9}%.2f s" +
      (if (expansion.isEmpty) ", no exact duplicates" else ""))
    expansion.foreach(cached += _)

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
    var stats = Blocking.BlockStats(0L, 0L, 0L)
    var releaseBlocks: () => Unit = () => ()
    val candidates = materialize("candidates", Hashing.hash64(baseKey, 2L)) {
      val (cands, s0, rel) = Blocking.candidatePairs(sigs, cfg)
      stats = s0; releaseBlocks = rel
      cands
    }
    releaseBlocks()

    // 4. exact scoring → duplicate edges
    val scored = materialize("scored", Hashing.hash64(baseKey, 3L)) {
      Pairs.score(candidates, sigs, cfg)
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
    val expanded = expandClusters(docs.toDF(), expansion, assignments)
      .select("doc_id", "cluster_id", "spans")

    // 7. when checkpointing, the EXPANDED per-doc assignment is itself a
    // stage table — the durable output, and the state a later
    // [[Incremental.fromCheckpoint]] fold reads back together with the
    // signature stage (it must cover every doc, singletons included)
    val out = io match {
      case Some(t) =>
        // the band relation is ALSO a stage table: tomorrow's incremental
        // fold links its batch against these checkpointed keys instead of
        // re-deriving them with an O(corpus) UDF pass (the 40.3 s vs 26.9 s
        // fold delta measured in BASELINE.md) — see [[readBands]] /
        // [[Incremental.fromCheckpoint]]. Written BEFORE assignments so the
        // (signatures, assignments) consistency pair readState checks
        // remains the generation's commit marker.
        Checkpoints.stage(spark, t, "bands", Hashing.hash64(baseKey, 7L)) {
          Blocking.bandRowsDF(sigs, cfg)
        }
        Checkpoints.stage(spark, t, "assignments", Hashing.hash64(baseKey, 5L))(expanded)
      case None => expanded
    }

    Result(out, edges, badMedia, stats, () => cached.foreach(_.unpersist()))
  }

  /** Exact-duplicate pre-collapse: one REPRESENTATIVE (min doc_id) per
    * content-digest group, so a k-copy farm costs O(k) — one narrow digest
    * map, one (digest, doc_id) shuffle — instead of the O(k²) within-block
    * pair blowup no blocking scheme can avoid for identical content. The
    * digest is a 128-bit two-lane xxhash64 over a canonical span struct —
    * whole-stage codegen, and wide enough for 10^12 docs (64 bits would
    * birthday-collide there and silently merge unrelated docs). Cheap
    * detection first: a corpus with no exact duplicates (the common case)
    * pays ONLY the digest scan. Returns (repDocs, mapping) — the mapping is
    * persisted; the CALLER unpersists it.
    *
    * Shared by [[run]] stage 0 and [[Incremental.run]]'s batch path: the
    * incremental-vs-full byte-equality contract requires both to collapse
    * under the identical digest rule.
    */
  private[pipeline] def precollapse(docs: Dataset[Doc])(
      implicit spark: SparkSession): (Dataset[Doc], Option[DataFrame]) = {
    import spark.implicits._
    // 128-bit content digest as a two-lane xxhash64 over a canonical span
    // struct — replaces md5(to_json(spans)): the Jackson serialization of
    // every span list was ~60% of the collapse stage's cost, and the hash
    // can consume the struct directly. Two chained-seed lanes keep the
    // 128-bit width the 10¹²-doc collision argument needs (64 bits would
    // birthday-collide there). Canonicalization: xxhash64 SKIPS null
    // leaves, so (text=null, media_ref="x") and (text="x",
    // media_ref=null) would otherwise hash identically — the isNull
    // booleans are never skipped and disambiguate every null pattern;
    // each leaf is hashed as its own length-delimited step, so no
    // cross-field byte-boundary ambiguity exists either. Grouping is
    // therefore identical to the JSON digest's up to hash collisions
    // (the same bar md5 set).
    val canon = transform(col("spans"), sp => struct(
      sp.getField("kind").isNull, sp.getField("kind"),
      sp.getField("text").isNull, sp.getField("text"),
      sp.getField("media_ref").isNull, sp.getField("media_ref"),
      sp.getField("offset")))
    val keyed = docs.toDF()
      .select(col("doc_id"),
        struct(xxhash64(lit(1L), canon), xxhash64(lit(2L), canon)).as("digest"))
    val head = keyed.agg(count(lit(1)), count_distinct(col("digest"))).head()
    if (head.getLong(1) == head.getLong(0)) (docs, None)
    else {
      val reps = keyed.groupBy("digest").agg(min(col("doc_id")).as("rep"))
      val mapping = keyed.join(reps, "digest").select("doc_id", "rep")
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

  /** The checkpointed state of a completed [[run]] with `checkpointDir`
    * set (or of a generation persisted by [[Incremental.writeState]]): the
    * signature stage (representatives under pre-collapse) and the full
    * per-doc assignment stage — exactly the inputs [[Incremental.run]]
    * needs to fold the next batch in.
    *
    * Generation consistency is VERIFIED before anything is read: both
    * manifests must exist and the assignment stage's resume key must be
    * `hash64(signature key, 5)` — the derivation both writers use. A dir
    * where a killed run left stages from different generations (day-N
    * signatures beside day-N−1 assignments) would otherwise fold
    * silently into wrong clusters: linkage matches against the newer
    * signatures inner-join the stale assignment table and simply drop.
    */
  def readState(spark: SparkSession, checkpointDir: String)
      : (Dataset[DocSig], DataFrame) = {
    import spark.implicits._
    val io = new ParquetTableIO(checkpointDir)
    (io.completedKey("signatures"), io.completedKey("assignments")) match {
      case (Some(k), Some(a)) if a == Hashing.hash64(k, 5L) => ()
      case (sk, ak) => throw new IllegalStateException(
        s"checkpoint $checkpointDir is not a consistent generation: " +
          s"signatures key=$sk assignments key=$ak — stages come from " +
          "different runs (or a run died mid-write); re-run the pipeline " +
          "or fold from an intact generation dir")
    }
    val sigs = io.read(spark, "signatures").select("sig.*").as[DocSig]
    val assign = io.read(spark, "assignments").select("doc_id", "cluster_id")
    (sigs, assign)
  }

  /** The checkpointed band relation of a generation ([[Blocking.bandRowsDF]]
    * schema), when present AND belonging to the same generation as the
    * signature stage (key = hash64(signature key, 7) — the derivation both
    * [[run]] and [[Incremental.writeState]] use). `None` for generations
    * written before the bands stage existed — callers fall back to
    * re-deriving keys from the signature table.
    */
  def readBands(spark: SparkSession, checkpointDir: String): Option[DataFrame] = {
    val io = new ParquetTableIO(checkpointDir)
    (io.completedKey("signatures"), io.completedKey("bands")) match {
      case (Some(k), Some(b)) if b == Hashing.hash64(k, 7L) =>
        Some(io.read(spark, "bands"))
      case _ => None
    }
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
    val sigs = Signatures.derive(candidates, cfg, resolver).map(_.sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val targetSigs = Signatures
      .derive(spark.createDataset(Seq(target)), cfg, resolver).map(_.sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

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
    val result = out.localCheckpoint(true)
    sigs.unpersist()
    targetSigs.unpersist()
    result
  }
}
