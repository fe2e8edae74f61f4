package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative match-merge entity resolution (the R-Swoosh family —
  * Benjelloun et al., "Swoosh: a generic approach to entity resolution",
  * VLDB Journal 2009), distributed as a fixpoint of whole-corpus rounds
  * rather than the paper's sequential record-at-a-time loop.
  *
  * r6 note: every per-round checkpoint is LAZY (localCheckpoint(false)) —
  * the first consuming action materializes and pins it in its own job, so
  * a merge round costs ~half the Spark jobs of the eager form (the fixed
  * per-job cost dominated this operator: 59 of 65 jobs under 0.2 s).
  * Lineage truncation and one-materialization semantics are unchanged.
  *
  * The semantics one-shot pairwise matching + transitive closure cannot
  * express: after records merge, the MERGED profile (here: the union of
  * the members' token sets) re-enters matching, so evidence accumulated
  * across a merge can match records that no pairwise base comparison
  * matched (SwooshSpec constructs the canonical witness: Jac(A,B) ≥ t,
  * Jac(A,C) < t, Jac(B,C) < t, yet Jac(A∪B, C) ≥ t — C joins only
  * through the merged entity). CC over round-1 edges is the FLOOR of this
  * fixpoint; every extra round only adds merges.
  *
  * Candidacy per round is banded MinHash over entity profiles, and the
  * signatures FOLD instead of re-hashing: the MinHash of a set union is
  * the elementwise minimum of the members' signatures, so entity mins are
  * one groupBy-min over doc mins — no per-round pass over text. Match =
  * exact Jaccard of the entity token sets at `thr`, verified on the
  * banded candidates only.
  *
  * Rounds after the first are DELTA rounds (the D-Swoosh work-restriction
  * insight): only candidate pairs involving an entity CHANGED by the
  * previous round's merges are scored. This is lossless by induction —
  * a pair of entities both unchanged since round k has the same band keys
  * and profiles it had at round k, where it either shared no band (still
  * does not) or was scored and failed (still fails) — so each delta round
  * costs O(changed × bucket) instead of O(corpus × bucket), in both the
  * candidate join and the on-demand profile derivation.
  *
  * Scale shape: the token relation is the exploded (entity_id, token)
  * distinct pairs — O(corpus tokens), map-side combined; the band join
  * carries only (entity_id, band key); the Jaccard verify runs on
  * candidate pairs (O(N·bucket) in round 1, O(changed·bucket) after);
  * merging is [[Components.connectedComponents]] over the match edges
  * (≪ corpus). Entity count strictly decreases every non-final round,
  * and real corpora converge in 1-3 rounds; a corpus still producing
  * merges past `maxRounds` MERGE rounds fails loudly rather than
  * returning a silent partial fixpoint (the final empty confirmation
  * round is always allowed and does not count against the bound).
  */
object Swoosh {

  /** @param docToks (doc_id, toks: array<string>) token/shingle sets —
    *                the mergeable profile (duplicate tokens tolerated;
    *                deduped on ingest)
    * @param docMins (doc_id, mins: array<long>) the 12 MinHash minima the
    *                banded blocking layer derives (3 rows × 4 bands,
    *                SparkEntry.sBandKeys order)
    * @param thr     Jaccard match threshold on merged profiles
    * @return (doc_id, entity_id) at the match-merge fixpoint; entity_id =
    *         min member doc_id
    */
  def resolve(docToks: DataFrame, docMins: DataFrame, thr: Double,
              maxRounds: Int = 10)(
      implicit spark: SparkSession): DataFrame = {
    // repartition after the distinct: its byte-small exchange otherwise
    // AQE-coalesces to a couple of partitions, and the pinned token
    // relation then serializes every round's profile semi-join + verify
    val toksRel = Parallelism.spread(docToks
      .select(col("doc_id"), explode(col("toks")).as("tok")).distinct(), col("doc_id"))
      .localCheckpoint(false)
    val minsRel = docMins
      .select(col("doc_id"), posexplode(col("mins")).as(Seq("pos", "m")))
      .localCheckpoint(false)

    def bandKeysOf(entityDocs: DataFrame): DataFrame = {
      val minCols = (0 until 12).map(j =>
        min(when(col("pos") === j, col("m"))).as(s"m$j"))
      entityDocs.join(minsRel, "doc_id")
        .groupBy("entity_id")
        .agg(minCols.head, minCols.tail: _*)
        .select(col("entity_id"), explode(array((0 until 4).map(b =>
          concat_ws(":", lit(b), col(s"m${3 * b}"), col(s"m${3 * b + 1}"),
            col(s"m${3 * b + 2}"))): _*)).as("bk"))
    }

    var assign = docToks.select(col("doc_id"), col("doc_id").as("entity_id"))
      .localCheckpoint(false)
    // round-1 entities are single docs: band keys come straight off each
    // mins array (narrow map) — the posexplode+groupBy fold in bandKeysOf
    // is only needed once entities hold several docs
    var eBands = docMins.select(col("doc_id").as("entity_id"),
        explode(array((0 until 4).map(b => concat_ws(":", lit(b),
          element_at(col("mins"), 3 * b + 1), element_at(col("mins"), 3 * b + 2),
          element_at(col("mins"), 3 * b + 3))): _*)).as("bk"))
      .localCheckpoint(false)
    // entities whose profile changed since last scored: round 1 = all
    var changedBands = eBands

    var rounds = 0
    var done = false
    while (!done) {
      // pinned: feeds the candidate-entity scope and the verify join
      val cand = changedBands.select(col("entity_id").as("x"), col("bk"))
        .join(eBands.select(col("entity_id").as("y"), col("bk")), Seq("bk"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
        .localCheckpoint(false)
      // entity token profiles ON DEMAND, restricted to this round's
      // candidate entities — the only rows whose exact profiles matter.
      // No token state is maintained across rounds: the doc-level token
      // relation is immutable, so a candidate entity's profile is one
      // semi-join + distinct away, and delta rounds touch O(changed ×
      // bucket) token rows instead of re-checkpointing O(corpus tokens)
      val candEnts = cand.select(col("a").as("entity_id"))
        .union(cand.select(col("b").as("entity_id"))).distinct()
      val scopedToks = assign.join(candEnts, Seq("entity_id"), "left_semi")
        .join(toksRel, "doc_id")
        .select(col("entity_id"), col("tok")).distinct()
        .localCheckpoint(false)
      // pinned: feeds both the na and nb join branches — unpinned, the
      // aggregation over the scoped token relation planned twice
      val scopedSizes = scopedToks.groupBy("entity_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val matches = cand
        .join(scopedToks.select(col("entity_id").as("a"), col("tok")), Seq("a"))
        .join(scopedToks.select(col("entity_id").as("b"), col("tok")), Seq("b", "tok"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
        .join(scopedSizes.select(col("entity_id").as("a"), col("n").as("na")), "a")
        .join(scopedSizes.select(col("entity_id").as("b"), col("n").as("nb")), "b")
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")) >= thr)
        .select(col("a").as("src"), col("b").as("dst"))
        .localCheckpoint(false)
      if (matches.isEmpty) done = true
      else {
        // maxRounds bounds MERGE rounds only: the final fixpoint-confirming
        // (empty) round is always allowed, so a corpus that legitimately
        // merges in round maxRounds-1 still converges instead of failing
        // on its own confirmation pass
        require(rounds < maxRounds,
          s"Swoosh.resolve: no fixpoint after $maxRounds merge rounds")
        // old entity id → merged entity id, for matched components only
        val mapping = Components.connectedComponents(matches)
          .select(col("doc_id").as("entity_id"), col("cluster_id"))
          .localCheckpoint(false)
        assign = assign.join(mapping, Seq("entity_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("entity_id")).as("entity_id"))
          .localCheckpoint(false)
        val changed = mapping.select(col("cluster_id").as("entity_id")).distinct()
        val changedDocs = assign.join(changed, Seq("entity_id"))
          .select("entity_id", "doc_id")
        val oldIds = mapping.select("entity_id")
        changedBands = bandKeysOf(changedDocs).localCheckpoint(false)
        eBands = eBands.join(oldIds, Seq("entity_id"), "left_anti")
          .union(changedBands).localCheckpoint(false)
      }
      rounds += 1
    }
    assign
  }
}
