package graft.bench

import graft.model.{Doc, Span}
import graft.synth.Corpus
import graft.synth.Corpus.LabeledDoc
import graft.text.{Hashing, MinHash, Tokenize}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Seeded inputs of every workload. The program under test only ever sees
  * the generated documents; labels stay with the harness for scoring.
  */
object Inputs {
  implicit val labeledEnc: org.apache.spark.sql.Encoder[LabeledDoc] = Encoders.product[LabeledDoc]
  val docEnc: org.apache.spark.sql.Encoder[Doc] = Encoders.product[Doc]

  /** Corpus shape shared by every workload: the Bench.scala pipeline corpus. */
  def params(seed: Long, entities: Int): Corpus.Params =
    Corpus.Params(entities = entities, minWords = 150, maxWords = 400,
      dupRate = 0.35, mediaSpanProb = 0.5, seed = seed)

  /** Deterministic splitmix stream (the benchmark's own, so product RNG
    * changes cannot move the benchmark's additions).
    */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = Hashing.mix64(s); s }
    def nextInt(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
  }

  private val onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w")
  private val cores = Array("a", "e", "i", "o", "u", "au", "ei", "ou")
  private def word(rng: Rng): String =
    Seq.fill(1 + rng.nextInt(2))(onsets(rng.nextInt(onsets.length)) + cores(rng.nextInt(cores.length)))
      .mkString

  // ---------------------------------------------------------------- dedup_hard

  /** What the dedup_hard generator added, for the per-run property record. */
  final case class HardShape(nearMissPairs: Seq[(String, String)], copies: Long,
                             footerDocs: Long, docs: Long)

  /** dedup_hard additions over the Zipf corpus (which already carries the
    * exact-copy farm of entity 0):
    *  - near-miss negatives: for ~8% of base docs, a new-label doc that
    *    prepends a fresh >512-char head to the base's text and drops its
    *    media. Most of the text is shared, so the pair shares MinHash bands
    *    and passes the gate, but the scored 512-char prefixes are unrelated,
    *    so it lands below tau: the scorer's reject path.
    *  - a shared boilerplate footer on the base docs (and their exact
    *    copies) of the first `footerEntities` entities: four tokens chosen
    *    so their shingles hold the minimum of MinHash rows 0-3 in any doc
    *    that carries them, so all those docs share text band 0. With
    *    footerEntities above the config's hotBlockSize that block is hot,
    *    which drives the census's salting path; its size does not vary
    *    with the seed.
    */
  def hard(spark: SparkSession, seed: Long, entities: Int, copies: Int, footerEntities: Int)
      : (Dataset[LabeledDoc], HardShape) = {
    val base = Corpus.generateDistributed(spark,
      params(seed, entities).copy(zipfTypes = 50000, hotEntityCopies = copies))
    val footer = footerTokens(seed).mkString(" ")
    val nmSeed = Hashing.hash64(seed, 0x6e6dL)
    def isNearMissBase(d: Doc) =
      d.doc_id.endsWith("-0") && java.lang.Long.remainderUnsigned(Hashing.hash64(d.doc_id, nmSeed), 100L) < 8
    // base docs and the copy farm's copies of them, so copies stay identical
    def hasFooter(ld: LabeledDoc) =
      ld.label < footerEntities && (ld.doc.doc_id.endsWith("-0") || ld.doc.doc_id.contains("-0x"))
    val out = base.flatMap { ld =>
      val d = ld.doc
      val withFooter =
        if (!hasFooter(ld)) ld
        else {
          val last = d.spans.filter(_.kind == Span.Text).maxBy(_.offset)
          LabeledDoc(d.copy(spans = d.spans.map(s =>
            if (s eq last) s.copy(text = s.text + " " + footer) else s)), ld.label)
        }
      if (!isNearMissBase(d)) Iterator(withFooter)
      else Iterator(withFooter, nearMiss(ld, nmSeed))
    }.cache()
    val docs = out.count()
    import spark.implicits._
    val nmPairs = out.filter(_.doc.doc_id.startsWith("n"))
      .map(ld => (ld.doc.doc_id, ld.doc.doc_id.stripPrefix("n"))).collect().toSeq
    val footerDocs = out.filter(_.doc.concatText.endsWith(footer)).count()
    (out, HardShape(nmPairs, copies.toLong, footerDocs, docs))
  }

  private def nearMiss(ld: LabeledDoc, seed: Long): LabeledDoc = {
    val rng = new Rng(Hashing.hash64(ld.doc.doc_id, seed))
    val head = new StringBuilder
    while (head.length < 640) { if (head.nonEmpty) head += ' '; head ++= word(rng) }
    val text = ld.doc.spans.filter(_.kind == Span.Text).map(s => s.copy(offset = s.offset + 1))
    // labels above every entity id: a near-miss is nobody's duplicate
    LabeledDoc(Doc("n" + ld.doc.doc_id, Span.text(head.toString, 0) +: text),
      (1L << 40) + ld.label)
  }

  /** Four 7-letter tokens; token r's only shingle is, among 400k seeded
    * candidates, the one with the least MinHash value in row r.
    */
  private val footerCache = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
  def footerTokens(seed: Long): Seq[String] = footerCache.getOrElseUpdate(seed, {
    val rng = new Rng(Hashing.hash64(seed, 0x66747277L))
    val best = Array.fill(4)(Long.MaxValue)
    val tok = Array.fill(4)("")
    var i = 0
    while (i < 400000) {
      val t = new String(Array.fill(7)(('a' + rng.nextInt(26)).toChar))
      val sig = MinHash.signature(Tokenize.shingleHashes(t, 7), 4)
      var r = 0
      while (r < 4) { if (sig(r) < best(r)) { best(r) = sig(r); tok(r) = t }; r += 1 }
      i += 1
    }
    tok.toSeq
  })

  // ---------------------------------------------------------------- ingest

  /** Seed corpus plus `batches` fold batches. Entities [0, seedEntities)
    * seed the state, minus one held-out near-duplicate of every fourth
    * entity that has some. Each batch then carries new entities, a slice
    * of the held-out near-duplicates, and exact copies of seeded docs under
    * new ids.
    */
  final case class IngestSet(seed: Seq[LabeledDoc], batches: Seq[Seq[LabeledDoc]]) {
    def all: Seq[LabeledDoc] = seed ++ batches.flatten
  }

  def ingest(seed: Long, seedEntities: Int, batches: Int, newPerBatch: Int,
             copiesPerBatch: Int): IngestSet = {
    val p = params(seed, seedEntities)
    val seeded = (0 until seedEntities).map(Corpus.entityDocs(p, _))
    val heldOut = seeded.zipWithIndex.collect {
      case (docs, e) if docs.length > 1 && e % 4 == 0 => docs.last
    }
    val heldIds = heldOut.map(_.doc.doc_id).toSet
    val seedDocs = seeded.flatten.filterNot(d => heldIds(d.doc.doc_id))
    val rng = new Rng(Hashing.hash64(seed, 0x696e67L))
    val perBatchHeld = heldOut.length / batches
    val bs = (0 until batches).map { b =>
      val fresh = (0 until newPerBatch).flatMap(i =>
        Corpus.entityDocs(p, seedEntities + b * newPerBatch + i))
      val held = heldOut.slice(b * perBatchHeld, (b + 1) * perBatchHeld)
      val copies = Seq.fill(copiesPerBatch) {
        val src = seedDocs(rng.nextInt(seedDocs.length))
        LabeledDoc(src.doc.copy(doc_id = f"${src.doc.doc_id}c$b%02d-${rng.nextInt(1 << 30)}"), src.label)
      }.distinctBy(_.doc.doc_id)
      fresh ++ held ++ copies
    }
    IngestSet(seedDocs, bs)
  }

  /** Raw payload bytes of a batch: ids, text and media refs as UTF-8. */
  def rawBytes(docs: Seq[LabeledDoc]): Long = docs.map { ld =>
    (ld.doc.doc_id +: ld.doc.spans.flatMap(s => Seq(s.text, s.media_ref)).filter(_ != null))
      .map(_.getBytes("UTF-8").length.toLong).sum
  }.sum
}
