package graft.pipeline

import graft.media.{DefaultMedia, MediaResolver}
import graft.model.{Doc, DocSig}
import graft.pipeline.Signatures.SigResult
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental dedup: fold a NEW batch of documents into an ALREADY
  * CLUSTERED corpus without re-scoring the old corpus against itself — the
  * only shape that works when the corpus is 10^12 docs and the daily batch
  * is 10^9. A full re-run touches O(corpus × bucket) pairs every day;
  * this touches O(batch × bucket).
  *
  * Correctness rests on supernode contraction: old-old duplicate edges are
  * already summarized by the old cluster assignment (same config ⇒ same
  * blocking + scoring would reproduce them), so each old CLUSTER becomes a
  * single node. The incremental graph is
  *
  *   nodes = new doc ids ∪ old cluster ids
  *   edges = (new×new is_dup pairs) ∪ (new doc → old cluster of matched old doc)
  *
  * and connected components over it equal the full-run components projected
  * onto this node set. Because cluster_id = min doc_id of a component and
  * an old cluster's id IS the min doc_id of its old members, the component
  * minimum over {new ids, old cluster ids} is the global minimum — so the
  * incremental ids equal the full-run ids EXACTLY, not just up to
  * relabeling (IncrementalSpec asserts byte-equality against a full run).
  *
  * Exactness caveat — census scope: hot/degenerate block decisions are
  * made per census (old run: old rows; this fold: batch and batch×corpus
  * rows), while a full run censuses the union. A key that crosses
  * `cfg.maxBlockSize` only in the union scope is dropped by the full run
  * but not here (and vice versa), so equality is guaranteed in the
  * regime where no key is degenerate at either scope — drops are always
  * logged loudly by both paths, never silent.
  *
  * Contract: `existingAssign` must be [[Pipeline.run]]'s full cluster
  * output (every old doc, singletons included) with the SAME `cfg`, and
  * doc_ids are unique across old ∪ new. At production scale
  * `existingSigs` is the checkpointed signature table from the previous
  * run (stage "signatures"), not a recomputation; under exact
  * pre-collapse that table holds one representative per content digest,
  * which is sufficient — an exact copy's signature is identical to its
  * representative's, so every cross match reachable via a copy is
  * reachable via the rep, and `existingAssign` already routes the rep's
  * cluster id.
  */
object Incremental {

  /** Fold a batch into the full [[Generation]] at `checkpointDir` — a
    * [[Pipeline.run]] checkpoint or a dir [[Generation.write]] persisted —
    * the production entry point: yesterday's run persisted its lineage,
    * today's fold reads it (signatures, bands, assignments) instead of
    * recomputing anything over the old corpus.
    */
  def fromCheckpoint(spark: SparkSession, checkpointDir: String,
                     newDocs: Dataset[Doc], cfg: GraftConfig = GraftConfig(),
                     resolver: MediaResolver = DefaultMedia): IncrementalResult =
    Pins.scoped { pins =>
      val state = Generation.read(spark, checkpointDir)
      val (sigs, bands) = foldInputs(pins, state)
      val inner = run(spark, sigs, bands, state.assign, newDocs, cfg, resolver)
      pins.own(inner.release)
      inner.copy(release = pins.release)
    }

  /** A generation's fold inputs — (signatures, bands) — with the
    * fold-duration treatment applied to the parquet-backed relations
    * (shared by [[fromCheckpoint]] and `StreamIngest`'s folds and
    * retractions):
    *
    * Both are persisted (each is consumed 2-3×: linkage census, cross-join
    * side, score side table) and their parallelism is restored first — a
    * modest checkpoint parquet yields far fewer splits than the width its
    * rows need (one ~150 MB sig table = 1-2 splits at the default
    * maxPartitionBytes), which strangles the cross-scoring join until its
    * first shuffle: measured 21 s vs 6 s for the same join at 102k docs.
    * The width is sized from the generation's doc count
    * ([[Generation.State.docs]], read from a manifest, so it costs no job):
    * at production scale that is the session width and the file count
    * already gives it, so [[Parallelism.atLeast]] skips the repartition;
    * otherwise the round-robin shuffle rides the one corpus scan the fold
    * pays anyway to materialize the cache. `pins` owns both.
    */
  private[graft] def foldInputs(pins: Pins, state: Generation.State): (Dataset[DocSig], DataFrame) = {
    val n = Parallelism.sized(state.sigs.sparkSession, state.docs)
    (pins(Parallelism.atLeast(state.sigs, n)), pins(Parallelism.atLeast(state.bands, n)))
  }

  /** Call `release` once after consuming the result; a throwing fold
    * leaves nothing persisted. */
  final case class IncrementalResult(
      assignments: DataFrame, // (doc_id, cluster_id) for every NEW doc
      remapped: DataFrame, // (old_cluster_id, cluster_id): old clusters whose id changed
      batchSigs: Dataset[DocSig], // signatures of the batch's exact-content
      // REPRESENTATIVES (the rows a generation's signature stage carries —
      // same collapse rule as Pipeline.run stage 0); persisted until
      // `release`, so generation writers can reuse them without re-deriving
      release: () => Unit)

  /** The old assignment table with the relabel map applied — a broadcast
    * join (the remap covers only TOUCHED clusters, a batch-sized relation).
    * `applyRemap(oldAssign, inc.remapped) union inc.assignments` is the
    * next generation's full assignment state, ready for
    * [[Generation.write]].
    */
  def applyRemap(existingAssign: DataFrame, remapped: DataFrame): DataFrame =
    existingAssign.join(
        org.apache.spark.sql.functions.broadcast(remapped),
        existingAssign("cluster_id") === remapped("old_cluster_id"), "left")
      .select(existingAssign("doc_id"),
        coalesce(remapped("cluster_id"), existingAssign("cluster_id")).as("cluster_id"))

  /** `existingBands`: the old corpus's band relation
    * ([[Blocking.bandRowsDF]] rows of `existingSigs`; a generation's
    * `bands` stage).
    */
  def run(spark: SparkSession, existingSigs: Dataset[DocSig], existingBands: DataFrame,
          existingAssign: DataFrame, newDocs: Dataset[Doc],
          cfg: GraftConfig = GraftConfig(),
          resolver: MediaResolver = DefaultMedia): IncrementalResult = {
    implicit val s: SparkSession = spark

    // 0. within-batch exact pre-collapse — same digest rule as Pipeline
    // stage 0 (the two-lane xxhash64 span digest), same reason: a k-copy
    // farm inside the batch must cost O(k), not the O(k²) within-block
    // pairs identical content generates. Copies inherit their
    // representative's cluster at expansion. (Exact copies STRADDLING the
    // old/new boundary are linked by the fuzzy path instead — identical
    // content shares every band and scores 1.0 — so they need no digest
    // join against the old corpus; the one uncovered case is a new doc
    // whose content is band-less (no text, no media) AND identical to an
    // old doc, which a full run would merge by digest.)
    //
    // new×new: that collapse and the rest of Pipeline.run's self-join
    // stages on the batch alone, sized from the batch's doc count
    Pins.scoped { pins =>
    val batch = Pipeline.selfJoin(newDocs, cfg, pins, None, Signatures.derive(_, cfg, resolver))

    // new×old: bipartite band linkage — old-old pairs never exist in any
    // plan; its scoring spreads to the batch's width
    val cross = Linkage.linkSigs(spark, batch.sigs, existingSigs, cfg, Some(existingBands),
      Some(batch.materialize.width))
    pins.own(cross.release)

    // contract matched old docs to their cluster supernode. The assignment
    // join is id-keyed and touches only matched old docs; distinct caps the
    // edge count at (new doc, old cluster) granularity. MATERIALIZED before
    // CC — connected components forces its edge relation more than once
    // (size gate + iterations), and an unmaterialized crossEdges re-runs
    // the whole cross-scoring join each time (measured: the components
    // stage of a parquet-backed fold fell from 17.8 s to the in-memory
    // legs' ~5 s once the edges were persisted; the batch's edges already
    // were). Persisted at the batch's width: AQE does not coalesce a cached
    // plan's output.
    val crossEdges = batch.materialize.persist(cross.matches
      .join(existingAssign.withColumnRenamed("doc_id", "right_id"), Seq("right_id"))
      .select(col("left_id").as("src"), col("cluster_id").as("dst"))
      .distinct())

    val comp = Components.connectedComponents(
      batch.edges.unionByName(crossEdges), cfg.maxCcIterations)

    // new docs: component id, or themselves when untouched by any edge;
    // with pre-collapse every copy routes through its representative
    // (the same expansion rule as Pipeline stage 6 — shared helper)
    val assignments = Pipeline.expandClusters(
      batch.input.toDF().select(col("doc_id")), batch.expansion, comp)
      .select("doc_id", "cluster_id")

    // old clusters absorbed under a smaller id (a new doc bridged them to an
    // earlier cluster or doc): emit the relabel map — the caller applies it
    // to the old assignment table as a broadcast join over TOUCHED clusters
    val remapped = comp
      .join(existingAssign.select(col("cluster_id").as("doc_id")).distinct(), Seq("doc_id"))
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_cluster_id"), col("cluster_id"))

    IncrementalResult(assignments, remapped, batch.sigs, pins.release)
    }
  }

  /** Call `release` once after consuming the result; a throwing
    * retraction leaves nothing persisted. */
  final case class RetractResult(
      assignments: DataFrame, // (doc_id, cluster_id) — the FULL remaining corpus
      reassigned: DataFrame, // (doc_id, cluster_id) — touched-cluster members only
      touched: DataFrame, // (cluster_id): clusters that lost at least one doc
      removed: DataFrame, // (doc_id) — the resolved removal set
      memberIds: DataFrame, // (doc_id) — every surviving member of a touched cluster
      memberSigs: Dataset[DocSig], // content-rep signatures of those survivors
      release: () => Unit) {
    /** removed ∪ surviving touched members — the ids whose OLD state rows
      * (signatures, bands) must not survive into the next generation (the
      * survivors' replacements come from [[memberSigs]]). One definition,
      * shared by [[Incremental.applyRetractSigs]] and the tombstones of
      * `StreamIngest.retractBatch`.
      */
    def dropIds: DataFrame =
      removed.select("doc_id").unionByName(memberIds.select("doc_id"))
  }

  /** The signature stage of the POST-retraction generation: rows for
    * removed docs and for touched survivors are dropped, and the touched
    * survivors' representative rows (possibly re-keyed by the local
    * pre-collapse when a removed rep's copy was promoted) take their place.
    * Pair with [[Generation.write]] — `Generation.write(spark, dir, sigs,
    * res.assignments, key, Blocking.bandRowsDF(sigs, cfg))` with `sigs =
    * applyRetractSigs(oldSigs, res)` persists the retracted corpus as a
    * generation [[fromCheckpoint]] folds tomorrow's batch into, closing the
    * insert+delete production loop (`RetractSpec` asserts the composed
    * result byte-equals a full run). Call before `res.release()`.
    */
  def applyRetractSigs(oldSigs: Dataset[DocSig], res: RetractResult): Dataset[DocSig] = {
    import res.memberSigs.sparkSession.implicits._
    oldSigs.toDF().join(res.dropIds, Seq("doc_id"), "left_anti")
      .unionByName(res.memberSigs.toDF()).as[DocSig]
  }

  /** Retract (delete) documents from an ALREADY CLUSTERED corpus without a
    * full re-run — the DELETE leg of the incremental lifecycle (takedowns,
    * opt-outs, TTL expiry). The hard case is a removed BRIDGE doc: the rest
    * of its cluster may fall apart into several components, so unlike a
    * fold this cannot be edge-monotone — touched clusters are re-resolved
    * from scratch. The work is bounded by the touched clusters, never the
    * corpus:
    *
    *   touched = clusters containing a removed doc        (≤ |removal|)
    *   members = surviving docs of touched clusters       (Σ their sizes)
    *   re-run  = block → score → CC restricted to members (O(members × bucket))
    *
    * Exactness vs a full re-run over the remaining corpus: every pair is
    * decided by the same deterministic kernel, so (a) pairs inside an
    * untouched cluster keep their old decision, (b) pairs incident to an
    * untouched cluster were non-duplicates before and are unaffected by
    * deletions elsewhere, and (c) pairs among members are re-decided here
    * identically — including cross-old-cluster member pairs that enter band
    * candidacy and re-score to the same non-dup verdict. Cluster ids are
    * component minima in both runs, so the ids match EXACTLY, including
    * relabels when a cluster's min-id member was removed (`RetractSpec`
    * asserts byte-equality against the full re-run). The fold's
    * census-scope caveat (hot/degenerate keys judged on a smaller scope)
    * applies unchanged.
    *
    * `docs` must cover at least the surviving members of touched clusters —
    * in production the corpus table itself; the lookup is an id-keyed
    * semi-join, so only touched rows are ever read. Removing an id the
    * assignment does not know is a no-op. When `existingSigs` (the
    * checkpointed signature stage) is supplied, member signatures are
    * REUSED, and only members without a persisted row — exact copies whose
    * representative was removed, now promoted to representative — pay a
    * fresh derivation (decode + hash); derivation is deterministic, so the
    * reuse is value-neutral.
    */
  def retract(spark: SparkSession, docs: Dataset[Doc],
              existingAssign: DataFrame, removeIds: DataFrame,
              cfg: GraftConfig = GraftConfig(),
              resolver: MediaResolver = DefaultMedia,
              existingSigs: Option[Dataset[DocSig]] = None): RetractResult = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    Pins.scoped { pins =>
    val rm = pins(removeIds.select("doc_id").distinct())
    val touched = pins(existingAssign.join(rm, Seq("doc_id"))
      .select("cluster_id").distinct())
    if (touched.count() == 0) {
      // nothing known was removed (e.g. a re-run of an already executed
      // takedown): the state is unchanged — short-circuit BEFORE any
      // member gathering, signature work, or empty-relation pipeline jobs
      RetractResult(
        existingAssign.select("doc_id", "cluster_id"),
        existingAssign.select("doc_id", "cluster_id").limit(0),
        touched, rm, rm.select("doc_id").limit(0),
        spark.emptyDataset[DocSig], pins.release)
    } else {

    // surviving members of touched clusters; the broadcast is justified —
    // `touched` is bounded by the removal batch, not the corpus
    val memberIds = existingAssign.join(broadcast(touched), Seq("cluster_id"))
      .join(rm, Seq("doc_id"), "left_anti").select("doc_id")
    val memberDocs = pins(docs.join(memberIds, Seq("doc_id"), "left_semi").as[Doc])
    // coverage is a hard precondition, not a best effort: a survivor the
    // doc table does not cover would silently VANISH from the output
    // assignment while its stale signature row survived — exactly the
    // sig/assignment inconsistency the generation readers exist to prevent.
    // Checked by anti-join emptiness (NOT row counts, which duplicate
    // doc_ids in `docs` could silently defeat in both directions).
    val uncovered = memberIds
      .join(docs.toDF().select("doc_id"), Seq("doc_id"), "left_anti")
    if (!uncovered.isEmpty) {
      val sample = uncovered.take(5).map(_.getString(0)).mkString(", ")
      throw new IllegalArgumentException( // pins releases rm/touched/memberDocs
        "retract: docs does not cover every surviving member of the " +
          s"touched clusters (e.g. $sample) — an incomplete doc table " +
          "would silently drop the uncovered survivors from the corpus state")
    }

    // the self-join stages of Pipeline.run, restricted to members and sized
    // from their count; a representative with a persisted signature row
    // reuses it
    val members = Pipeline.selfJoin(memberDocs, cfg, pins, None, reps => existingSigs match {
      case Some(old) =>
        val reused = old.join(reps.select("doc_id"), Seq("doc_id"), "left_semi").as[DocSig]
        val fresh = reps.join(old.select("doc_id"), Seq("doc_id"), "left_anti").as[Doc]
        reused.map(SigResult(_, Nil)).union(Signatures.derive(fresh, cfg, resolver))
      case None => Signatures.derive(reps, cfg, resolver)
    })
    val comp = Components.connectedComponents(members.edges, cfg.maxCcIterations)

    val reassigned = Pipeline.expandClusters(
        members.input.toDF().select(col("doc_id")), members.expansion, comp)
      .select("doc_id", "cluster_id")
    val untouchedRows = existingAssign
      .join(broadcast(touched), Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    RetractResult(untouchedRows.unionByName(reassigned), reassigned, touched,
      rm, members.input.toDF().select("doc_id"), members.sigs, pins.release)
    }
    }
  }
}
