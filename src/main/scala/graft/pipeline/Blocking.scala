package graft.pipeline

import graft.model.DocSig
import graft.text.{Hashing, MinHash}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Blocking stage: candidate generation by equality on LSH band keys —
  * the scalable replacement for the reference's VP-tree radius search
  * (`vptree/vptree.go:100-192`). A metric tree is a single-address-space
  * index; band blocking turns the same radius predicate into plain
  * equi-joins Catalyst can plan, shuffle-partition, and AQE-rebalance.
  *
  * Recall (SURVEY.md §7.4.1): with 16 × 4-bit bands per 64-bit media hash,
  * any pair within Hamming distance ≤ 15 shares an exact band (pigeonhole);
  * 16…21 is caught probabilistically plus via the text modality; within-block
  * exact re-scoring makes precision exact. Text: `cfg.textBands` MinHash
  * bands (default 32 bands × 4 rows of the 128-value signature — see
  * GraftConfig for the miss-probability math).
  */
object Blocking {

  /** Block keys for one 64-bit media hash: one key per combination of
    * `blocksPerKey` blocks of `blockBits` bits (Manku-style tables; see
    * GraftConfig). The combination index and slot are mixed into the key so
    * tables never cross-collide.
    */
  def mediaBandKeys(hash: Long, blockBits: Int, blocksPerKey: Int, slot: Int): Array[Long] = {
    val nBlocks = 64 / blockBits
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1L
    @inline def block(i: Int): Long = (hash >>> (i * blockBits)) & mask
    val out = Array.newBuilder[Long]
    var comboId = 0
    if (blocksPerKey == 1) {
      var b = 0
      while (b < nBlocks) {
        out += Hashing.hash64(Hashing.hash64(0x6d62L + b, block(b)), slot.toLong)
        b += 1
      }
    } else if (blocksPerKey == 2) {
      // the bench/scale profile (2-of-8): direct pair loop in the same
      // comboId order as the generic enumerator below — identical keys,
      // no per-key List allocation
      var b1 = 0
      while (b1 < nBlocks) {
        var b2 = b1 + 1
        while (b2 < nBlocks) {
          var h = Hashing.mix64(0x6d6232L + comboId)
          h = Hashing.hash64(h, block(b1))
          h = Hashing.hash64(h, block(b2))
          out += Hashing.hash64(h, slot.toLong)
          comboId += 1
          b2 += 1
        }
        b1 += 1
      }
    } else {
      // enumerate k-combinations of block indices (k is small: 2 or 3)
      def rec(start: Int, chosen: List[Int]): Unit = {
        if (chosen.length == blocksPerKey) {
          var h = Hashing.mix64(0x6d6232L + comboId)
          chosen.reverse.foreach(b => h = Hashing.hash64(h, block(b)))
          out += Hashing.hash64(h, slot.toLong)
          comboId += 1
        } else {
          var b = start
          while (b < nBlocks) { rec(b + 1, b :: chosen); b += 1 }
        }
      }
      rec(0, Nil)
    }
    out.result()
  }

  /** Summed-slot Hamming distance, minimized over media-span pairs —
    * the reference metric (`vptree/vptree.go:60-69`) generalized to
    * multi-span docs. Sentinel 9999 when either side has no media. Native
    * codegen expression (graft.functions.MediaDistExpr) — the hottest
    * predicate in the pipeline runs inside the band join's codegen span.
    */
  private def mediaDistUdf(a: Column, b: Column, slots: Column): Column =
    coalesce(graft.functions.GraftFunctions.mediaDist(a, b, slots), lit(9999))

  final case class BlockStats(droppedBlocks: Long, droppedRows: Long, saltedBlocks: Long)

  /** All band keys of one signature row, tagged by channel: media block
    * tables vs text MinHash bands. The tag drives per-channel candidacy
    * rules downstream (media: any shared key; text: ≥ cfg.minTextBands
    * shared keys — the multi-band vote that keeps random band collisions
    * from growing O(N²) on low-diversity corpora).
    */
  private def bandKeysUdf(cfg: GraftConfig) = udf {
    (media: Seq[Long], slots: Int, minhash: Seq[Long]) =>
      // two PRIMITIVE long arrays (media keys, text keys) instead of one
      // Array[(Long, Boolean)]: the tuple form boxed every key long (3.5M
      // tuples per bench corpus pass); the channel flag is re-attached by
      // codegen transform/explode in [[bandRowsDF]]. Per-channel sort+dedup
      // preserves the old (key, flag)-distinct semantics — downstream use
      // is purely set-shaped (explode → equi-join / census), so element
      // order is immaterial.
      def dedup(a: Array[Long]): Array[Long] = {
        if (a.length <= 1) return a
        java.util.Arrays.sort(a)
        var out = 0
        var r = 0
        while (r < a.length) {
          if (out == 0 || a(r) != a(out - 1)) { a(out) = a(r); out += 1 }
          r += 1
        }
        if (out == a.length) a else java.util.Arrays.copyOf(a, out)
      }
      val m = Array.newBuilder[Long]
      var i = 0
      while (i < media.length) {
        m ++= mediaBandKeys(media(i), cfg.mediaBlockBits, cfg.mediaBlocksPerKey, i % slots)
        i += 1
      }
      val t =
        if (minhash.nonEmpty) MinHash.bandKeys(minhash.toArray, cfg.textBands)
        else Array.emptyLongArray
      (dedup(m.result()), dedup(t))
  }

  /** Columnar band-row relation: one row per (doc, band key) with the
    * compact prefilter payload — (doc_id, media, slots, simhash, hasText,
    * block_key, is_text). ONE udf call per document emitting its ~44 band
    * keys, exploded natively — versus a typed flatMap, this keeps the
    * 40-80M-row block relation inside whole-stage codegen instead of paying
    * per-row object/encoder churn. Shared by the self-join pipeline
    * ([[candidatePairs]]), cross-corpus linkage ([[Linkage.link]]) and
    * the targeted compare ([[Pipeline.compare]]).
    */
  def bandRowsDF(sigs: Dataset[DocSig], cfg: GraftConfig): DataFrame =
    sigs.toDF().select(
      col("doc_id"), col("media"), col("slots"), col("simhash"),
      (col("text").isNotNull && length(col("text")) > 0).as("hasText"),
      bandKeysUdf(cfg)(col("media"), col("slots"), col("minhash")).as("bk2"))
      // re-attach the channel flag in codegen: media keys false, text true
      .select(col("doc_id"), col("media"), col("slots"), col("simhash"),
        col("hasText"),
        explode(concat(
          transform(col("bk2._1"), k => struct(k.as("_1"), lit(false).as("_2"))),
          transform(col("bk2._2"), k => struct(k.as("_1"), lit(true).as("_2"))))).as("bk"))
      .select(col("doc_id"), col("media"), col("slots"), col("simhash"),
        col("hasText"), col("bk._1").as("block_key"), col("bk._2").as("is_text"))

  /** Band equi-join + cheap prefilter cascade over two band-row relations
    * ([[bandRowsDF]] schema), shared by [[bandedPairs]] and
    * [[Pipeline.compare]]: ONE implementation of the media-radius /
    * SimHash gate, so a prefilter tuning cannot silently diverge between
    * callers (the self-link ≡ pipeline-edge-set equivalence LinkageSpec
    * gates depends on it). `idCond` is the pair predicate — `_ < _`
    * canonical dedup for the self-join, `_ =!= _` diagonal drop for the
    * cross join. Output: (a = l.doc_id, b = r.doc_id, media_dist,
    * sim_ham, is_text).
    */
  private[pipeline] def prefilteredPairs(left: DataFrame, right: DataFrame,
      extraKey: Seq[String],
      idCond: (Column, Column) => Column, cfg: GraftConfig): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    val keyCond = (Seq("block_key") ++ extraKey)
      .map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    // SHUFFLE_HASH: the self-join otherwise plans sort-merge — two full
    // sorts of the band relation (443 MB at the bench corpus), the largest
    // exchange in the pipeline. The build side is one partition of the
    // band relation: blocks are census-bounded (degenerate dropped, hot
    // salted), so per-task build size tracks the shuffle partition sizing
    // rather than any single key.
    l.hint("SHUFFLE_HASH").join(r, keyCond && idCond(col("l.doc_id"), col("r.doc_id")))
      .withColumn("media_dist",
        mediaDistUdf(col("l.media"), col("r.media"), col("l.slots")))
      .withColumn("sim_ham",
        when(col("l.hasText") && col("r.hasText"),
          bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))))
          .otherwise(lit(9999)))
      .filter(col("media_dist") < cfg.mediaThreshold ||
        col("sim_ham") < cfg.simhashPrefilter)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("media_dist"), col("sim_ham"), col("l.is_text").as("is_text"))
  }

  /** The one banded candidate generator behind self-dedup
    * ([[candidatePairs]]) and cross-corpus linkage ([[Linkage.linkSigs]]):
    * band-key split → salted equi-join through [[prefilteredPairs]] →
    * per-channel vote. Each caller's census decides which keys are
    * degenerate (`degKeys`, dropped) and hot (`hotKeys`, salted); the
    * census rules differ per caller, everything after them is here.
    *
    * Salting: the LEFT side is replicated over all `cfg.saltFactor`
    * salts, each RIGHT row keeps one salt, so every pair is produced at
    * exactly one salt and the shuffle key becomes (block_key, salt),
    * splitting a hot block across reducers. In batch-vs-corpus linkage
    * the large corpus side is therefore never replicated; the self-join
    * is symmetric, so the orientation does not change its pair set. AQE
    * skew-join remains on as backstop.
    *
    * Returns (a, b, media_dist, sim_ham), one row per pair.
    */
  private[pipeline] def bandedPairs(left: DataFrame, right: DataFrame,
      degKeys: Seq[Long], hotKeys: Seq[Long],
      idCond: (Column, Column) => Column, cfg: GraftConfig): DataFrame = {
    if (degKeys.nonEmpty || hotKeys.nonEmpty)
      System.err.println(s"[graft] blocking: dropped ${degKeys.length} degenerate keys, " +
        s"salted ${hotKeys.length} hot keys")
    val key = col("block_key")
    // fast path: no hot/degenerate keys (the common case) — no per-row
    // membership filters at all
    def live(b: DataFrame) = if (degKeys.isEmpty) b else b.filter(!key.isin(degKeys: _*))
    def normal(b: DataFrame) = if (hotKeys.isEmpty) live(b) else live(b).filter(!key.isin(hotKeys: _*))
    def hot(b: DataFrame) = if (hotKeys.isEmpty) b.limit(0) else live(b).filter(key.isin(hotKeys: _*))

    val normalPairs = prefilteredPairs(normal(left), normal(right), Nil, idCond, cfg)
    val sf = cfg.saltFactor
    val hotLeft = hot(left).withColumn("salt", explode(sequence(lit(0), lit(sf - 1))))
    val hotRight = hot(right).withColumn("salt",
      pmod(xxhash64(col("doc_id")), lit(sf.toLong)).cast("int"))
    val hotPairs = prefilteredPairs(hotLeft, hotRight, Seq("salt"), idCond, cfg)

    // Per-channel candidacy vote (Broder-style multi-band agreement):
    // media pairs qualify on ANY shared block key (pigeonhole recall
    // guarantee), text-only pairs need >= minTextBands shared bands. One
    // shared 4-row band is a coin-flip event at corpus-background Jaccard
    // (~0.05 ⇒ p ≈ 6e-6/band, O(N²) expected collisions); two independent
    // bands squares that (~4e-11) while true near-dups (Jaccard ≥ 0.8,
    // p ≥ 0.4/band over 32 bands) still collide on ≥2 with prob ≈ 1 —
    // measured: candidate volume at 850k docs fell from 8.2/doc
    // (quadratic regime) to O(1)/doc.
    //
    // Known recall narrowing (documented, accepted): a pair reachable ONLY
    // via a shared MEDIA band whose media_dist >= mediaThreshold but
    // sim_ham < simhashPrefilter (text-scorable, media-dissimilar) used to
    // reach phase-2 scoring and now needs >= minTextBands shared TEXT bands
    // too. For true text near-dups (Jaccard >= 0.8) P(>= 2 of 32 bands) ~ 1,
    // so the labeled-corpus F1 gate (PipelineSpec) holds with the vote on.
    normalPairs.unionByName(hotPairs)
      .groupBy(col("a"), col("b"))
      .agg(min(col("media_dist")).as("media_dist"), min(col("sim_ham")).as("sim_ham"),
        sum(when(col("is_text"), 1L).otherwise(0L)).as("n_text_bands"))
      .filter(col("media_dist") < cfg.mediaThreshold ||
        col("n_text_bands") >= cfg.minTextBands)
      .drop("n_text_bands")
  }

  /** Candidate pair generation for self-dedup: census of the band
    * relation, then [[bandedPairs]] with the `a < b` canonical pair
    * predicate. Skew handling is explicit, never silent: blocks larger
    * than `cfg.maxBlockSize` are degenerate (near-duplicate farms / empty
    * text) and dropped with logged counts; blocks larger than
    * `cfg.hotBlockSize` are salted.
    *
    * `width`: the band persist's partition count, when the caller sized
    * it from a known row count ([[Parallelism.sized]]); the session width
    * otherwise.
    *
    * Returns (candidates (a, b, media_dist, sim_ham) with a < b, the
    * census's [[BlockStats]], the cleanup thunk the caller invokes once
    * the candidates are materialized).
    */
  def candidatePairs(sigs: Dataset[DocSig], cfg: GraftConfig, width: Option[Int] = None)(
      implicit spark: SparkSession): (DataFrame, BlockStats, () => Unit) = {
    // Persisted PRE-PARTITIONED BY block_key: the band relation has 3
    // consumers (census, join left, join right) that all need a
    // block_key clustering — caching the relation already hash-partitioned
    // means the census groupBy and BOTH self-join sides read co-partitioned
    // cache with ZERO further exchanges (one 443 MB-at-bench shuffle
    // instead of three). Hash partitioning by the census-bounded block key
    // cannot skew a partition beyond maxBlockSize, and the (block_key,
    // salt) hot join still satisfies its clustering from the block_key
    // partitioning (partition keys ⊆ clustering keys). The rows are
    // compact (doc_id, 1-4 media longs, simhash, key), so MEMORY_AND_DISK
    // holds them in memory at bench scale and spills rather than OOMs at
    // cluster scale. Released by the cleanup thunk once candidates are
    // materialized — or here, if the census throws.
    Pins.scoped { pins =>
    val b = pins(Parallelism.spreadTo(bandRowsDF(sigs, cfg), width, col("block_key")))

    // Hot/degenerate block census via map-side-combined groupBy — NOT a
    // window over the full block table: a window would shuffle+sort every
    // block row (the largest relation in the pipeline) just to tag sizes,
    // while the interesting keys (hot or degenerate) are a handful.
    val census = b.groupBy("block_key").agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > math.min(cfg.hotBlockSize, cfg.maxBlockSize))
      .collect()
    val (degKeys, hotKeys) = census.partition(_.getLong(1) > cfg.maxBlockSize)
    val stats = BlockStats(degKeys.length.toLong, degKeys.map(_.getLong(1)).sum,
      hotKeys.length.toLong)
    val pairs = bandedPairs(b, b, degKeys.map(_.getLong(0)).toSeq,
      hotKeys.map(_.getLong(0)).toSeq, _ < _, cfg)
    // caller invokes the cleanup thunk once `pairs` is materialized
    (pairs, stats, pins.release)
    }
  }
}
