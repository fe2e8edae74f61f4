package graft.pipeline

import graft.model.DocSig
import graft.text.JaroWinkler
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Phase-2 exact scoring of candidate pairs.
  *
  * Cheap→expensive cascade, each phase shuffling only what it needs:
  *   A. join the COMPACT side table (media hashes ≈ 8-32 B + a 32-slot
  *      minhash prefix ≈ 256 B) → exact media distance + Jaccard estimate
  *      → gate: media radius OR estimate ≥ minhashGate;
  *   B. explicit repartition of the survivors — AQE would coalesce these
  *      few-MB partitions down to 1-2 tasks, serializing the O(n²) string
  *      scorers that follow (measured: flat 34 s from 8→32 cores before,
  *      parallel after);
  *   C. join the text prefixes and run Jaro-Winkler + Levenshtein only on
  *      gated survivors.
  *
  * Decision rule — per-modality linear scores, OR-combined:
  *   - media: Hamming(sig_a, sig_b) < mediaThreshold — bit-for-bit the
  *     reference's radius predicate (`vptree/vptree.go:167`, strict `<`).
  *   - text:  wJw·JW + wLev·(1−levNorm) + wMinhash·jaccardEst ≥ tau — the
  *     graft's learned linear cutoff mirroring that hash-distance cutoff.
  */
object Pairs {

  private val GateSlots = 32 // minhash prefix used for the cheap estimate

  // Native codegen expressions (graft.functions) replaced the round-1 UDFs:
  // null/empty semantics preserved via the wrappers below (the expressions
  // are nullIntolerant; the UDFs mapped null/empty to 0.0).
  private def minhashEst(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    coalesce(graft.functions.GraftFunctions.minhashAgree(a, b), lit(0.0))

  private def jwScore(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    when(a.isNull || b.isNull || length(a) === 0 || length(b) === 0, lit(0.0))
      .otherwise(graft.functions.GraftFunctions.jw(a, b))

  /** candidates: (a, b, media_dist, sim_ham). Returns scored pairs with
    * `is_dup`. `width`: phase B's partition count, when the caller sized
    * it from a known row count ([[Parallelism.sized]]); the session width
    * otherwise. */
  def score(candidates: DataFrame, sigs: Dataset[DocSig], cfg: GraftConfig,
            width: Option[Int] = None)(implicit spark: SparkSession): DataFrame =
    scoreSides(candidates, sigs, sigs, cfg, width)

  /** [[score]] with per-side signature tables: every `a` must resolve in
    * `aSigs` and every `b` in `bSigs`. For bipartite candidates (linkage,
    * incremental cross-edges) this keeps the big side's signature relation
    * out of the `a`-join entirely — with the union form a batch-vs-corpus
    * fold paid a corpus-wide dedup shuffle of the signature payloads just
    * to score a few thousand pairs.
    */
  def scoreSides(candidates: DataFrame, aSigs: Dataset[DocSig],
                 bSigs: Dataset[DocSig], cfg: GraftConfig, width: Option[Int] = None)(
      implicit spark: SparkSession): DataFrame = {
    val cap = cfg.scoreTextCap

    // phase A: one side-table join per pair side (minhash gate prefix +
    // text prefix together — each sig table is shuffled exactly once);
    // media_dist arrives exact from the block join's radius prefilter
    def side(sigs: Dataset[DocSig]) = sigs.toDF().select(
      col("doc_id"), slice(col("minhash"), 1, GateSlots).as("mh"),
      substring(col("text"), 1, cap).as("text_cap"))
    val withA = candidates.join(
      side(aSigs).withColumnRenamed("doc_id", "a")
        .withColumnRenamed("mh", "mh_a").withColumnRenamed("text_cap", "t_a"), Seq("a"))
    // SHUFFLE_HASH on the candidate side: the planner broadcasts the
    // compact candidates into join A (stats known from the materialized
    // stage) but falls back to a full sort-merge for join B — sorting the
    // signature relation (mh prefix + text cap) was the stage's dominant
    // cost. The build side is the candidate relation, O(N·bucket) rows of
    // a few hundred bytes, divided by the shuffle partition count — the
    // per-task hash table stays bounded wherever partitions are sized to
    // the 100 MB-1 GB rule, while sort-merge's sort of the wide sig side
    // never gets cheaper. (No broadcast here: candidates grow with the
    // corpus, so a broadcast "win" at bench scale would be a 100-TB trap.)
    val withB = withA.hint("SHUFFLE_HASH").join(
      side(bSigs).withColumnRenamed("doc_id", "b")
        .withColumnRenamed("mh", "mh_b").withColumnRenamed("text_cap", "t_b"), Seq("b"))
    val gated = withB
      .withColumn("minhash_est", minhashEst(col("mh_a"), col("mh_b")))
      .filter(col("media_dist") < cfg.mediaThreshold ||
        col("minhash_est") >= cfg.minhashGate)
      .select("a", "b", "media_dist", "minhash_est", "t_a", "t_b")

    // phase B: spread survivors across all cores before the O(n²) scorers
    // (AQE would coalesce these few-MB partitions to 1-2 tasks otherwise)
    val withTb = Parallelism.spreadTo(gated, width)

    val hasText = length(col("t_a")) > 0 && length(col("t_b")) > 0
    val maxLen = greatest(length(col("t_a")), length(col("t_b")))
    // A pair the media channel already decided (media_dist < threshold ⇒
    // is_dup regardless of text) never CONSULTS the text scorers, so they
    // are gated off entirely: at web scale a hot media family (N pages
    // sharing one logo/chart) otherwise pays C(N,2) cap²-cell levenshteins
    // for columns nothing downstream reads. Media-decided pairs carry NULL
    // text features and score = media_sim; CaseWhen codegen evaluates the
    // O(len²) branch only where the guard holds.
    val mediaDecided = col("media_dist") < cfg.mediaThreshold
    val scoreText = !mediaDecided && hasText
    val scored = withTb
      .withColumn("jw", when(scoreText, jwScore(col("t_a"), col("t_b"))))
      .withColumn("lev_norm",
        when(scoreText, levenshtein(col("t_a"), col("t_b")) / maxLen.cast("double"))
          .otherwise(when(!mediaDecided, lit(1.0))))
      .withColumn("text_score",
        when(scoreText,
          lit(cfg.wJw) * col("jw") +
            lit(cfg.wLev) * (lit(1.0) - col("lev_norm")) +
            lit(cfg.wMinhash) * col("minhash_est"))
          .otherwise(when(!mediaDecided, lit(0.0))))
      .withColumn("media_sim",
        when(col("media_dist") < 9999,
          lit(1.0) - col("media_dist").cast("double") / lit(64.0 * cfg.slots))
          .otherwise(lit(0.0)))
      .withColumn("is_dup",
        mediaDecided || (hasText && col("text_score") >= cfg.tau))
      .withColumn("score",
        when(mediaDecided, col("media_sim"))
          .otherwise(greatest(
            when(col("media_dist") < 9999, col("media_sim")).otherwise(lit(0.0)),
            col("text_score"))))
    scored.select("a", "b", "media_dist", "minhash_est", "jw", "lev_norm",
      "text_score", "score", "is_dup")
  }

  def edges(scored: DataFrame): DataFrame =
    scored.filter(col("is_dup")).select(col("a").as("src"), col("b").as("dst"))
}
