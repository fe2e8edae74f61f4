package graft.model

/** Interleaved text+media document — the input relation of the graft
  * (BASELINE.json input_hint):
  *   (doc_id: string,
  *    spans: array<struct<kind, text, media_ref, offset>>)
  *
  * Per-row invariant vs the reference: span-sequence equality — every
  * pipeline output row carries its input spans unmodified, in order
  * (the analog of the reference never mutating its input list while
  * grouping, `dedupe.go:101-123`).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object Span {
  val Text = "text"
  val Media = "media"
  def text(t: String, offset: Int): Span = Span(Text, t, null, offset)
  def media(ref: String, offset: Int): Span = Span(Media, null, ref, offset)
}

final case class Doc(doc_id: String, spans: Seq[Span]) {
  def mediaRefs: Seq[String] = spans.collect { case Span(Span.Media, _, r, _) if r != null => r }
  /** All text spans concatenated in offset order (north rule: MinHash/LSH
    * bands over concatenated text spans). */
  def concatText: String = spans.sortBy(_.offset).collect {
    case Span(Span.Text, t, _, _) if t != null => t
  }.mkString(" ")

}

/** Per-document signature record — output of the signature stage. `media`
  * is flattened (arity = slots per span × span count, slots fixed by config:
  * DCT ⇒ 1, dHash ⇒ 2 — reference `dedupe.go:21-31`).
  */
final case class DocSig(doc_id: String, media: Array[Long], slots: Int,
                        simhash: Long, minhash: Array[Long],
                        text: String, nTokens: Int)

/** A scored candidate pair (edge of the duplicate graph). */
final case class ScoredPair(a: String, b: String, mediaDist: Int,
                            minhashEst: Double, jw: Double, levNorm: Double,
                            score: Double)

/** Final assignment: doc → cluster representative (min doc_id in component). */
final case class Clustered(doc_id: String, cluster_id: String)
