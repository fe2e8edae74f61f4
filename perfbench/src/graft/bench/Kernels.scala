package graft.bench

import graft.functions.JaroWinklerExpr
import graft.imaging.PHash
import graft.media.DefaultMedia
import graft.pipeline.{Blocking, GraftConfig}
import graft.synth.Corpus
import graft.text.{JaroWinkler, MinHash, SimHash, Tokenize}
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded microbenchmark of the hot kernels, on inputs drawn
  * from the dedup_uniform generator. Each kernel reports the median ns per
  * call over `reps` passes and the number of calls in one pass.
  */
object Kernels {

  private def timeNs(reps: Int, ops: Int)(pass: => Long): Double = {
    var sink = 0L
    val perOp = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / ops
    }
    // consume the results so the JIT cannot drop the timed calls
    if (sink == 42L) System.err.print("")
    Stats.median(perOp)
  }

  def run(seed: Long, entities: Int, cfg: GraftConfig, reps: Int = 5): Map[String, Double] = {
    val docs = (0 until entities).flatMap(Corpus.entityDocs(Inputs.params(seed, entities), _))
    val texts = docs.map(_.doc.concatText).toArray
    val shingles = texts.map(Tokenize.shingleHashes(_, cfg.shingleK))
    val sigs = shingles.map(MinHash.signature(_, cfg.minhashK))
    val refs = docs.flatMap(_.doc.mediaRefs).toArray
    val hashes = refs.flatMap(r => PHash.hashes(DefaultMedia.resolve(r).toOption.get, cfg.useDct))
    // scored text pairs: every (base, near-duplicate) pair, 512-char caps
    val cap = cfg.scoreTextCap
    val pairs = docs.groupBy(_.label).values.toArray.flatMap { g =>
      val t = g.map(_.doc.concatText.take(cap))
      t.tail.map(t.head -> _)
    }
    val utf = pairs.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
    val cells = pairs.map { case (a, b) => a.codePointCount(0, a.length).toDouble * b.codePointCount(0, b.length) }.sum

    def each[A](xs: Array[A])(f: A => Long): Long = { var s = 0L; var i = 0; while (i < xs.length) { s += f(xs(i)); i += 1 }; s }

    Map(
      "kernel.shingles.ns" -> timeNs(reps, texts.length)(each(texts)(t => Tokenize.shingleHashes(t, cfg.shingleK).length)),
      "kernel.shingles.ops" -> texts.length.toDouble,
      "kernel.minhash.ns" -> timeNs(reps, shingles.length)(each(shingles)(s => MinHash.signature(s, cfg.minhashK)(0))),
      "kernel.minhash.ops" -> shingles.length.toDouble,
      "kernel.simhash.ns" -> timeNs(reps, texts.length)(each(texts)(SimHash.simhash64)),
      "kernel.simhash.ops" -> texts.length.toDouble,
      "kernel.phash.ns" -> timeNs(reps, refs.length)(each(refs)(r =>
        PHash.hashes(DefaultMedia.resolve(r).toOption.get, cfg.useDct)(0))),
      "kernel.phash.ops" -> refs.length.toDouble,
      "kernel.media_band_keys.ns" -> timeNs(reps, hashes.length)(each(hashes)(h =>
        Blocking.mediaBandKeys(h, cfg.mediaBlockBits, cfg.mediaBlocksPerKey, 0).length)),
      "kernel.media_band_keys.ops" -> hashes.length.toDouble,
      "kernel.text_band_keys.ns" -> timeNs(reps, sigs.length)(each(sigs)(s => MinHash.bandKeys(s, cfg.textBands)(0))),
      "kernel.text_band_keys.ops" -> sigs.length.toDouble,
      "kernel.jw.ns" -> timeNs(reps, utf.length)(each(utf) { case (a, b) =>
        java.lang.Double.doubleToLongBits(JaroWinklerExpr.jw(a, b)) }),
      "kernel.jw.ops" -> utf.length.toDouble,
      "kernel.lev.ns" -> timeNs(reps, pairs.length)(each(pairs) { case (a, b) => JaroWinkler.levenshtein(a, b).toLong }),
      "kernel.lev.ops" -> pairs.length.toDouble,
      "kernel.lev.cells" -> cells,
      "kernel.lev_spark.ns" -> timeNs(reps, utf.length)(each(utf) { case (a, b) => a.levenshteinDistance(b).toLong }),
      "kernel.lev_spark.ops" -> utf.length.toDouble)
  }
}
