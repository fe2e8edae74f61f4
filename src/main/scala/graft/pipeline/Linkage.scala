package graft.pipeline

import graft.media.{DefaultMedia, MediaResolver}
import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-corpus record linkage: which documents in `left` match which in
  * `right`, WITHOUT clustering either side internally — the bipartite
  * counterpart of [[Pipeline.run]]'s self-dedup (classic ER linkage, e.g.
  * linking a new vendor feed against a master catalog). Generalizes the
  * reference's one-target compare (`dedupe.go:127-146`) from 1×N to M×N.
  *
  * Scale shape mirrors the pipeline's: both sides derive signatures with a
  * narrow map, the band equi-join carries only compact (doc_id, band key,
  * prefilter) rows, candidacy uses the same per-channel vote (media: any
  * shared block key; text: ≥ cfg.minTextBands shared MinHash bands), and
  * only gated survivors reach the O(n²) string scorers via
  * [[Pairs.score]]. Because the join is cross-side only, neither side's
  * internal pairs are ever generated — linking a 1M-doc batch against a
  * 10^12-doc corpus costs O(batch × bucket), not O(corpus²).
  *
  * Skew: keys whose combined side cardinality exceeds `cfg.hotBlockSize`
  * are hot and split across reducers by [[Blocking.bandedPairs]], which
  * replicates only the LEFT side (the batch, in batch-vs-corpus usage),
  * so every cross pair is produced exactly once and the large side is
  * never replicated. Keys whose pair volume ln×rn exceeds
  * `cfg.maxBlockSize`² are degenerate and dropped with logged counts —
  * the product rule makes a self-link's drop set identical to the
  * self-dedup pipeline's (bsize² > max² ⇔ bsize > max). The census is an
  * inner join of per-side key counts — keys present on only one side
  * produce no pairs and never reach the driver.
  *
  * Contract: doc_ids must be unique WITHIN each side (they key the
  * signature rejoin), and EQUAL ids across sides denote the SAME record —
  * the diagonal is excluded, which is what makes a self-link reproduce
  * the self-dedup pipeline's direct edge set (LinkageSpec). Two corpora
  * with independent id namespaces must be disambiguated first (e.g.
  * prefix each side's ids), or a coincidental id collision between two
  * DIFFERENT records would silently suppress their match.
  */
object Linkage {

  /** Call `release` once after consuming the result; a throwing link
    * leaves nothing persisted. */
  final case class LinkResult(
      matches: DataFrame, // (left_id, right_id, score) — is_dup pairs only
      stats: Blocking.BlockStats, // droppedRows counts both sides' rows
      release: () => Unit)

  def link(spark: SparkSession, left: Dataset[Doc], right: Dataset[Doc],
           cfg: GraftConfig = GraftConfig(),
           resolver: MediaResolver = DefaultMedia): LinkResult = Pins.scoped { pins =>
    import spark.implicits._
    val lSigs = pins(Signatures.derive(left, cfg, resolver)(spark).map(_.sig))
    val rSigs = pins(Signatures.derive(right, cfg, resolver)(spark).map(_.sig))
    val inner = linkSigs(spark, lSigs, rSigs, cfg)
    pins.own(inner.release)
    inner.copy(release = pins.release)
  }

  /** Signature-level entry point: link two already-derived signature sets.
    * Used by [[link]] and by [[Incremental]] (which links a new batch's
    * signatures against the persisted corpus signature table).
    *
    * `rBands`: optionally the right side's PREBUILT band relation (the
    * schema of [[Blocking.bandRowsDF]]) — at production scale the master
    * corpus's band table is checkpointed by the previous run, and
    * re-deriving it here would cost O(corpus) per batch, swamping the
    * O(batch × bucket) the bipartite join itself costs. When given, it is
    * used as-is and NOT unpersisted by `release`.
    *
    * `width`: scoring's phase B partition count, when the caller sized it
    * from a known row count ([[Parallelism.sized]]); the session width
    * otherwise.
    */
  def linkSigs(spark: SparkSession, lSigs: Dataset[graft.model.DocSig],
               rSigs: Dataset[graft.model.DocSig],
               cfg: GraftConfig,
               rBands: Option[DataFrame] = None,
               width: Option[Int] = None): LinkResult = Pins.scoped { pins =>
    implicit val s: SparkSession = spark

    val lB = pins(Blocking.bandRowsDF(lSigs, cfg))
    val rB = rBands.getOrElse(pins(Blocking.bandRowsDF(rSigs, cfg)))

    // census of joinable keys only (inner join of per-side counts): hot and
    // degenerate keys are a bounded handful by construction, so the collect
    // is driver-safe the same way the pipeline's census is
    // degenerate test in DIVISION form (ln > maxPairs div rn ⟺ ln·rn >
    // maxPairs for positive integers): the direct product wraps Long at
    // the design point (ln = 10^9, rn = 10^10 ⇒ 10^19 > 2^63), which would
    // misclassify an ultra-degenerate key as merely hot and join it
    val maxPairs = cfg.maxBlockSize.toLong * cfg.maxBlockSize.toLong
    val census = lB.groupBy("block_key").agg(count(lit(1)).as("ln"))
      .join(rB.groupBy("block_key").agg(count(lit(1)).as("rn")), Seq("block_key"))
      .filter(col("ln") + col("rn") > cfg.hotBlockSize.toLong ||
        expr(s"ln > $maxPairs div rn"))
      .collect()
    val (degKeys, hotKeys) = census.partition(r => r.getLong(1) > maxPairs / r.getLong(2))
    val stats = Blocking.BlockStats(degKeys.length.toLong,
      degKeys.map(r => r.getLong(1) + r.getLong(2)).sum, hotKeys.length.toLong)

    // oriented cross join: a = left id, b = right id (no a<b
    // canonicalization — sides are distinct relations), with the diagonal
    // dropped: equal ids across sides denote the same record by contract
    val cand = Blocking.bandedPairs(lB, rB, degKeys.map(_.getLong(0)).toSeq,
      hotKeys.map(_.getLong(0)).toSeq, _ =!= _, cfg)

    // per-side score tables: `a` ids resolve only in lSigs and `b` ids only
    // in rSigs, so the corpus side is never unioned or dedup-shuffled (and a
    // self-link with shared ids cannot fan candidates into duplicate rows)
    val scored = Pairs.scoreSides(cand, lSigs, rSigs, cfg, width)
    val matches = scored.filter(col("is_dup"))
      .select(col("a").as("left_id"), col("b").as("right_id"), col("score"))

    LinkResult(matches, stats, pins.release)
  }
}
