package graft.pipeline

/** Pipeline configuration. Defaults mirror the reference's calibrations
  * where one exists (DCT radius 22, dHash radius 10 — `hash/hash.go:29-39`)
  * and the graft's fused-scorer calibration everywhere else (locked by the
  * labeled-corpus F1 gate in the test suite). The constructor holds the
  * settable fields; the calibrations no caller varies are fixed constants
  * in the body, still read as `cfg.<name>` and still part of [[configHash]].
  */
final case class GraftConfig(
    // media signatures
    useDct: Boolean = true,
    mediaThreshold: Int = 22, // strict '<', summed over slots (ref F1 predicate)
    // Media blocking: the 64-bit hash is split into (64/mediaBlockBits)
    // blocks; one block key per combination of mediaBlocksPerKey blocks
    // (Manku et al. 2007, WWW — simhash dedup at web scale). Pigeonhole:
    // recall is GUARANTEED for Hamming distance ≤ (blocks − blocksPerKey);
    // selectivity per key is 2^-(blockBits·blocksPerKey).
    //   default (1 of 16 × 4-bit): guaranteed d ≤ 15, probabilistically
    //   high to d ≈ 21 — the reference's radius-22 regime; selective enough
    //   only for small corpora (reference parity fixtures).
    //   scale profile (2 of 8 × 8-bit, 28 keys): guaranteed d ≤ 6,
    //   2⁻¹⁶ selectivity — what the bench/corpus config uses.
    mediaBlockBits: Int = 4,
    mediaBlocksPerKey: Int = 1,
    // skew handling
    hotBlockSize: Int = 2048,   // blocks larger than this get salted replication
    maxBlockSize: Int = 100000) { // degenerate blocks dropped (counts logged, never silent)

  // text signatures
  val shingleK: Int = 7       // 7-char shingles: inter-doc Jaccard ~0.01-0.05 on
                              // KB-scale text (5-char shingles collide at 0.15+,
                              // flooding the bands with false candidates)
  val minhashK: Int = 128
  val textBands: Int = 32     // 32 bands × 4 rows: P(miss) at Jaccard 0.8 is
                              // (1−0.8⁴)³² ≈ 1e-4 — high recall; the extra
                              // low-similarity band collisions are cut by the
                              // minhashGate cascade before expensive scoring
  val simhashPrefilter: Int = 26 // loose cheap filter on banded text candidates
  val minTextBands: Int = 2   // text candidacy = >= this many shared MinHash
                              // bands (multi-band vote): one 4-row band match
                              // at background Jaccard ~0.05 is a ~6e-6 event
                              // whose expected count grows O(N²); requiring 2
                              // squares it while near-dups (Jaccard ≥ 0.8)
                              // share ≥2 of 32 bands with prob ≈ 1
  // phase-2 scoring: fused linear score over present modalities
  val scoreTextCap: Int = 512 // chars of concatenated text scored by JW/levenshtein
  val minhashGate: Double = 0.35 // cheap-feature cascade: pairs below this
                              // Jaccard estimate (and outside the media
                              // radius) skip the O(n²) string scorers
  val wJw: Double = 0.5
  val wLev: Double = 0.3
  val wMinhash: Double = 0.2
  val tau: Double = 0.67      // fused cutoff; media-only reduces to ham < 22 ⇔ sim ≥ 0.671875
  // skew handling
  val saltFactor: Int = 16
  // connected components
  val maxCcIterations: Int = 50

  def slots: Int = if (useDct) 1 else 2

  /** Digest of every field and fixed constant that affects stage outputs
    * (resume keys).
    */
  def configHash: Long = graft.text.Hashing.hash64(
    Seq(this, shingleK, minhashK, textBands, simhashPrefilter, minTextBands, scoreTextCap,
      minhashGate, wJw, wLev, wMinhash, tau, saltFactor, maxCcIterations).mkString("|"))
}
