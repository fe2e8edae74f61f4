package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric distance computation (ADC) —
  * the memory-bounded ANN path complementing the IVF coarse quantizer
  * ([[Ivf]]) and the sign-LSH buckets (q_ann_lsh). Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search" (TPAMI 2011) is the
  * public origin of the scheme; everything here is an independent Spark
  * expression of it.
  *
  * The vector space is split into `m` equal subspaces; each subspace gets
  * its own k-entry codebook (Lloyd's k-means under squared L2 — PQ
  * quantizes raw subvectors, unlike the spherical IVF fit); a vector's code
  * is its per-subspace nearest-centroid index. With k = 16 a code is m
  * 4-bit entries — at m = 8 that is 4 bytes per vector vs 256 bytes for the
  * raw 64-float embedding, the 64× footprint cut that lets a 10^12-vector
  * corpus keep its searchable form in executor memory / a narrow scan.
  *
  * Query-side ADC: one m×k lookup table per query (partial inner products
  * of the query's subvectors against every sub-centroid), computed once,
  * after which scoring a corpus code is m table lookups + adds instead of a
  * dim-length float dot. At scale the query batch (ids + LUTs, a few KB per
  * query) broadcasts against the codes relation — one scan of 4-byte codes
  * per batch, no shuffle of the corpus, same plan family as
  * [[Ivf.topKWithIndex]]; the codes relation itself is narrow (id, code)
  * and persists exactly like the `ivf_cells` stage when an index outlives
  * one session.
  *
  * Everything is deterministic (golden-oracle safe): the k-means sample is
  * the same seeded hash-ordered 512 rows as [[Ivf.fit]], Lloyd iterations
  * run in fixed order in doubles on the driver, encode is a pure per-row
  * argmin (ties → lowest index), and every double fold (LUT entries, ADC
  * sums) is left-to-right so independent rederivations match bit-for-bit.
  */
object Pq {

  /** `codebooks(s)(c)` = centroid c of subspace s (length dim/m each). */
  final case class Model(codebooks: Array[Array[Array[Double]]]) extends Serializable {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
  }

  /** Deterministic per-subspace Lloyd's k-means on a seeded, hash-ordered
    * driver-side sample (same sample-selection convention as [[Ivf.fit]]:
    * the model is tiny, data never leaves the cluster). Initial centroids
    * are the first k sample subvectors; an emptied cluster keeps its old
    * centroid; argmin ties keep the lowest index.
    */
  def fit(vectors: DataFrame, vecCol: String, idCol: String, m: Int, k: Int,
          sampleSize: Int = 512, iters: Int = 5, seed: Long = 42L): Model = {
    val sample = vectors
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty input for Pq.fit")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val codebooks = Array.tabulate(m) { s0 =>
      val subVecs = sample.map(v => java.util.Arrays.copyOfRange(v, s0 * sub, (s0 + 1) * sub))
      var cents = Array.tabulate(math.min(k, subVecs.length))(subVecs(_).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Int](cents.length)
        subVecs.foreach { v =>
          val c = nearestSub(cents, v, 0, sub)
          var i = 0
          while (i < sub) { sums(c)(i) += v(i); i += 1 }
          counts(c) += 1
        }
        cents = sums.zip(counts).zipWithIndex.map { case ((s, n), i) =>
          if (n == 0) cents(i) else s.map(_ / n)
        }
        it += 1
      }
      cents
    }
    Model(codebooks)
  }

  /** Argmin squared-L2 sub-centroid for `v(off until off+sub)`; strict `<`
    * keeps the lowest index on ties.
    */
  private def nearestSub(cents: Array[Array[Double]], v: Array[Double],
                         off: Int, sub: Int): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < sub) { val t = v(off + i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Corpus side: one `code: array<int>` (length m) per vector — the
    * narrow persistable index relation, like [[Ivf.withCell]].
    */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val cbs = model.codebooks
    val encUdf = udf { (v: Seq[Float]) =>
      val sub = cbs(0)(0).length
      val vd = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { vd(i) = v(i).toDouble; i += 1 }
      Array.tabulate(cbs.length)(s0 => nearestSub(cbs(s0), vd, s0 * sub, sub))
    }
    df.withColumn("code", encUdf(col(vecCol)))
  }

  /** Per-query LUT: m×k partial inner products of the query's subvectors
    * against every sub-centroid, flattened (s0 * k + c), each entry a
    * left-to-right double fold.
    */
  private def lutUdfFor(model: Model) = {
    val cbs = model.codebooks
    val kk = model.k
    udf { (v: Seq[Float]) =>
      val sub = cbs(0)(0).length
      val lut = new Array[Double](cbs.length * kk)
      var s0 = 0
      while (s0 < cbs.length) {
        var c = 0
        while (c < cbs(s0).length) {
          var d = 0.0; var i = 0
          while (i < sub) { d += v(s0 * sub + i).toDouble * cbs(s0)(c)(i); i += 1 }
          lut(s0 * kk + c) = d
          c += 1
        }
        s0 += 1
      }
      lut
    }
  }

  /** ADC score of one code against one LUT: m lookups + adds, subspaces
    * ascending.
    */
  private def scoreUdfFor(model: Model) = {
    val kk = model.k
    udf { (lut: Seq[Double], code: Seq[Int]) =>
      var sc = 0.0; var s0 = 0
      while (s0 < code.length) { sc += lut(s0 * kk + code(s0)); s0 += 1 }
      sc
    }
  }

  /** Top-k approximate inner-product neighbours of each query among the
    * coded corpus (asymmetric: exact query subvectors against quantized
    * corpus codes). Output (q, n, rank, adc); ties rank by n ascending,
    * self matches excluded. `codes` must carry (idCol, code) as produced
    * by [[encode]]; vectors never join — the scan side is codes only.
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, model: Model,
              vecCol: String, idCol: String, k: Int): DataFrame = {
    val lutUdf = lutUdfFor(model)
    val scoreUdf = scoreUdfFor(model)
    val q = queries.select(col(idCol).as("q"), lutUdf(col(vecCol)).as("lut"))
    // spread the streamed code side: the persisted (id, code) relation
    // reads as one split, serializing the ADC pass otherwise
    val scored = broadcast(q)
      .join(graft.pipeline.Parallelism.spread(codes.select(col(idCol).as("n"), col("code"))),
        col("q") =!= col("n"))
      .select(col("q"), col("n"), scoreUdf(col("lut"), col("code")).as("adc"))
    val w = Window.partitionBy("q").orderBy(col("adc").desc, col("n"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-PQ: [[adcTopK]] restricted to an IVF candidate set — the
    * composed production architecture at 10^12 vectors (coarse cells prune
    * the corpus to nprobe/K, 4-bit codes score the survivors; both index
    * relations are narrow and persistable, raw vectors touch neither).
    * `queriesWithCell` carries one row per (query, probed cell) as produced
    * by [[Ivf.withProbes]]; `cells` is the (idCol, cell) corpus relation;
    * `codes` as from [[encode]]. Output (q, n, rank, adc) like [[adcTopK]].
    * The LUT is built once per QUERY (on the probe-deduplicated relation,
    * whose rows all carry the identical query vector) and broadcast as one
    * copy per query, not per probe; multi-probe duplicate candidates
    * collapse by distinct BEFORE the codes join, so each (q, n) pays its m
    * lookups exactly once.
    */
  def adcTopKProbed(queriesWithCell: DataFrame, cells: DataFrame,
                    codes: DataFrame, model: Model, vecCol: String,
                    idCol: String, k: Int): DataFrame = {
    val lutUdf = lutUdfFor(model)
    val scoreUdf = scoreUdfFor(model)
    val probes = queriesWithCell.select(col(idCol).as("q"), col("cell"))
    val lut = queriesWithCell.dropDuplicates(idCol)
      .select(col(idCol).as("q"), lutUdf(col(vecCol)).as("lut"))
    val cand = broadcast(probes)
      .join(graft.pipeline.Parallelism.spread(cells.select(col(idCol).as("n"), col("cell"))),
        Seq("cell"))
      .filter(col("q") =!= col("n"))
      .select("q", "n").distinct()
    val scored = cand
      .join(codes.select(col(idCol).as("n"), col("code")), Seq("n"))
      .join(broadcast(lut), Seq("q"))
      .select(col("q"), col("n"), scoreUdf(col("lut"), col("code")).as("adc"))
    val w = Window.partitionBy("q").orderBy(col("adc").desc, col("n"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
