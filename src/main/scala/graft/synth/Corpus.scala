package graft.synth

import graft.model.{Doc, Span}
import graft.text.Hashing
import scala.collection.mutable.ArrayBuffer

/** Deterministic labeled interleaved-document corpus (seeded, no wall clock,
  * no external data — per the driver's input_hint, synthesized at small
  * scale for tests and benchmarks).
  *
  * Each entity (label) yields one base doc plus `dupsPerEntity(label)`
  * perturbed near-duplicates: text perturbations (word drop/swap/synonym
  * noise) and media perturbations (`?noise=k` refs → SynthMedia renders a
  * slightly shifted field). Ground truth: docs share a label iff they derive
  * from the same base — the pairwise-F1 oracle of BASELINE.json.
  */
object Corpus {

  /** Pipeline calibration for this corpus: media radius 11 instead of the
    * reference's DCT default 22. The reference exposes the radius as a CLI
    * parameter (`cmd/dedupe/main.go:139-141`) and its own docs admit
    * non-duplicates at distance 18-20 on large sets (`hash/hash.go:34-35`);
    * at corpus scale the 22-radius false-positive rate (~0.4% even for ideal
    * random codes) is structurally incompatible with a 0.99 pairwise-F1
    * gate, so the labeled corpus is scored in the well-separated regime.
    * Reference-parity fixtures (cats acceptance, block-join oracle) keep 22.
    */
  val RecommendedConfig: graft.pipeline.GraftConfig =
    graft.pipeline.GraftConfig(mediaThreshold = 11,
      // Manku scale profile: 2-of-8×8-bit block tables — guaranteed recall
      // for media distance ≤ 6 (corpus noise stays ≤ ~6 bits), 2⁻¹⁶ key
      // selectivity so candidate volume stays O(N) at bench scale
      mediaBlockBits = 8, mediaBlocksPerKey = 2)

  /** 4800 deterministic syllables (onset × core × coda) — the shared pool
    * behind both vocabularies below.
    */
  private val Syllables: Array[String] = {
    val onsets = Array("b", "br", "c", "ch", "d", "dr", "f", "fl", "g", "gr",
      "h", "j", "k", "kl", "l", "m", "n", "p", "pr", "qu",
      "r", "s", "sh", "sk", "sl", "st", "t", "tr", "v", "w")
    val cores = Array("a", "ai", "e", "ea", "i", "io", "o", "oa", "u", "ue")
    val codas = Array("ck", "ft", "l", "ld", "m", "n", "nd", "r", "rn", "s",
      "sh", "st", "t", "th", "x", "z")
    for { o <- onsets; c <- cores; d <- codas } yield o + c + d
  }

  /** ~1600 deterministic pseudo-words (two seeded syllables each): a
    * realistic vocabulary size so inter-entity shingle Jaccard sits near
    * real-corpus levels (~0.05) instead of the pathological overlap a
    * 40-word vocab produces. (Same 1600 words, same order, as every prior
    * round — the seeded corpora are byte-stable.)
    */
  private val Vocab: Array[String] = Syllables.take(1600)

  /** Natural-vocabulary mode (Params.zipfTypes > 0): draws follow a Zipf
    * law with exponent ~1.07 (the empirical natural-text slope) over a
    * ~zipfTypes-type vocabulary, instead of the uniform 1600-word draw.
    * Every census caveat this repo carries (PPJoin prefix saturation,
    * 4-char-prefix blocks) traces to the uniform vocabulary's ~126
    * EFFECTIVE types per position — this mode exists to measure those
    * censuses on a realistically heavy-tailed type distribution.
    *
    * Word for rank r: base-4800 syllable digits (rank 0-4799 = one
    * syllable, higher ranks two) — frequent words are short like natural
    * text. Concatenated two-syllable forms can in principle collide with
    * each other, so the DISTINCT type count is ~types, not exactly; the
    * censuses recorded in BASELINE.md measure the realized vocabulary
    * rather than assume it.
    */
  private def zipfWord(r: Int): String =
    if (r < Syllables.length) Syllables(r)
    else Syllables(r / Syllables.length - 1) + Syllables(r % Syllables.length)

  private val zipfCdfCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Double]]
  private def zipfCdf(types: Int): Array[Double] =
    zipfCdfCache.getOrElseUpdate(types, {
      val c = new Array[Double](types)
      var acc = 0.0
      var i = 0
      while (i < types) { acc += 1.0 / math.pow(i + 1.0, 1.07); c(i) = acc; i += 1 }
      val tot = c(types - 1)
      i = 0
      while (i < types) { c(i) /= tot; i += 1 }
      c
    })

  /** Smallest rank whose cdf covers u — binary search, O(log types). */
  private def zipfDraw(cdf: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  final case class LabeledDoc(doc: Doc, label: Long)

  final case class Params(entities: Int = 1000,
                          dupRate: Double = 0.35, // fraction of entities with dups
                          maxDups: Int = 3,
                          mediaSpanProb: Double = 0.5,
                          minWords: Int = 20,
                          maxWords: Int = 60,
                          seed: Long = 42L,
                          // duplicate-farm skew: entity 0 additionally gets
                          // this many EXACT copies (byte-identical spans,
                          // distinct doc_ids) — the adversarial shape that
                          // exercises exact pre-collapse + block skew paths
                          hotEntityCopies: Int = 0,
                          // > 0: Zipf(1.07) draws over a ~zipfTypes-type
                          // vocabulary (see [[zipfWord]]) instead of the
                          // uniform 1600-word draw; 0 keeps every prior
                          // round's corpora byte-identical
                          zipfTypes: Int = 0)

  /** Deterministic per-call RNG: a splitmix64 stream keyed by (seed, tags). */
  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = Hashing.mix64(s); s }
    def nextInt(bound: Int): Int = (java.lang.Long.remainderUnsigned(nextLong(), bound.toLong)).toInt
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  /** All docs of one entity (base + perturbed dups). Deterministic in
    * (seed, e) and independent of every other entity — the property that
    * makes distributed generation an embarrassingly parallel flatMap.
    */
  def entityDocs(p: Params, e: Int): Seq[LabeledDoc] = {
    val out = new ArrayBuffer[LabeledDoc](4)
    val rng = new Rng(Hashing.hash64(p.seed, e.toLong))
    val nText = 1 + rng.nextInt(2)
    val nMedia = if (rng.nextDouble() < p.mediaSpanProb) 1 else 0
    val drawWord: () => String =
      if (p.zipfTypes > 0) { val cdf = zipfCdf(p.zipfTypes); () => zipfWord(zipfDraw(cdf, rng.nextDouble())) }
      else () => Vocab(rng.nextInt(Vocab.length))
    val words = Array.fill(p.minWords + rng.nextInt(math.max(p.maxWords - p.minWords, 1)))(drawWord())
    val spans = ArrayBuffer.empty[Span]
    var off = 0
    var t = 0
    val per = math.max(words.length / nText, 1)
    while (t < nText) {
      val slice = words.slice(t * per, if (t == nText - 1) words.length else (t + 1) * per)
      spans += Span.text(slice.mkString(" "), off)
      off += 1
      t += 1
    }
    var m = 0
    while (m < nMedia) {
      spans += Span.media(s"synth://e$e-m$m", off)
      off += 1
      m += 1
    }
    out += LabeledDoc(Doc(f"d$e%08d-0", spans.toSeq), e.toLong)

    if (rng.nextDouble() < p.dupRate) {
      val nd = 1 + rng.nextInt(p.maxDups)
      var d = 1
      while (d <= nd) {
        out += LabeledDoc(perturb(e, d, words, nText, nMedia, new Rng(Hashing.hash64(p.seed ^ 0x647570L, e * 131L + d))), e.toLong)
        d += 1
      }
    }
    if (e == 0 && p.hotEntityCopies > 0) {
      val base = out.head.doc
      var c = 1
      while (c <= p.hotEntityCopies) {
        // ids sort AFTER the base so the base stays the representative
        out += LabeledDoc(Doc(f"${base.doc_id}x$c%07d", base.spans), 0L)
        c += 1
      }
    }
    out.toSeq
  }

  def generate(p: Params): Seq[LabeledDoc] =
    (0 until p.entities).flatMap(entityDocs(p, _))

  /** Distributed generation — the only shape that exists at 10^12 docs: no
    * driver-side materialization, no multi-MB task payloads; each partition
    * synthesizes its entity range independently. Byte-identical docs to
    * `generate` (same per-entity seeding).
    */
  def generateDistributed(spark: org.apache.spark.sql.SparkSession,
                          p: Params, partitions: Int = 64):
      org.apache.spark.sql.Dataset[LabeledDoc] = {
    implicit val enc: org.apache.spark.sql.Encoder[LabeledDoc] =
      org.apache.spark.sql.Encoders.product[LabeledDoc]
    spark.range(0, p.entities.toLong, 1L, partitions)
      .flatMap((e: java.lang.Long) => entityDocs(p, e.toInt))
  }

  /** Near-duplicate: drop ≤3% of words, swap one adjacent pair, keep media
    * refs with a small noise tag — similarities stay well above the fused
    * threshold while non-dup entities (disjoint seeded word draws) stay far
    * below.
    */
  private def perturb(e: Int, d: Int, words: Array[String], nText: Int,
                      nMedia: Int, rng: Rng): Doc = {
    val kept = ArrayBuffer.empty[String]
    var i = 0
    while (i < words.length) {
      if (rng.nextDouble() >= 0.03) kept += words(i)
      i += 1
    }
    if (kept.length >= 2) {
      val j = rng.nextInt(kept.length - 1)
      val tmp = kept(j); kept(j) = kept(j + 1); kept(j + 1) = tmp
    }
    val spans = ArrayBuffer.empty[Span]
    var off = 0
    var t = 0
    val per = math.max(kept.length / nText, 1)
    while (t < nText) {
      val slice = kept.slice(t * per, if (t == nText - 1) kept.length else (t + 1) * per)
      spans += Span.text(slice.mkString(" "), off)
      off += 1
      t += 1
    }
    var m = 0
    while (m < nMedia) {
      spans += Span.media(s"synth://e$e-m$m?noise=${1 + rng.nextInt(2)}", off)
      off += 1
      m += 1
    }
    Doc(f"d$e%08d-$d", spans.toSeq)
  }

  /** True duplicate pairs (a < b) implied by the labels. */
  def truePairs(docs: Seq[LabeledDoc]): Set[(String, String)] = {
    docs.groupBy(_.label).valuesIterator.flatMap { grp =>
      val ids = grp.map(_.doc.doc_id).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
  }
}
