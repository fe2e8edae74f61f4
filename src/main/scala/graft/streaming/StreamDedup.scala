package graft.streaming

import graft.model.Doc
import graft.text.{MinHash, SimHash, Tokenize}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming dedup operators.
  *
  * The reference is strictly batch (SURVEY.md §2.9) and the north rule's
  * pipeline stays batch; this module is the graft-added streaming surface a
  * training-data ingest needs: signature derivation on a stream, watermarked
  * windowed duplicate-rate monitoring, and keyed first-seen/duplicate
  * tagging with explicit state (mapGroupsWithState).
  */
object StreamDedup {

  final case class StreamSig(doc_id: String, event_time: java.sql.Timestamp,
                             exact_key: String, simhash: Long, band0: Long)

  /** Stream of (doc, event_time) → signature stream. Narrow map — safe in a
    * streaming query (no shuffle until the caller aggregates).
    */
  def signatures(docs: Dataset[(Doc, java.sql.Timestamp)])(
      implicit spark: SparkSession): Dataset[StreamSig] = {
    import spark.implicits._
    docs.map { case (d, ts) =>
      val text = d.concatText
      val sh = Tokenize.shingleHashes(text, 7)
      val band0 =
        if (sh.isEmpty) 0L else MinHash.bandKeys(MinHash.signature(sh), 32)(0)
      StreamSig(d.doc_id,
        ts,
        // exact duplicate key: md5 of the full span-normalized content
        java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString,
        if (text.isEmpty) 0L else SimHash.simhash64(text),
        band0)
    }
  }

  /** Watermarked sliding-window copy census: per 10-minute window (5-minute
    * slide) and exact-content key, how many copies arrived. One stateful
    * aggregation (streaming supports exactly one); the per-window duplicate
    * rate is a stateless rollup over this output at the sink
    * (`sum(copies - 1)` per window).
    */
  def windowedDupCounts(sigs: Dataset[StreamSig], watermark: String = "15 minutes"): DataFrame = {
    sigs.toDF()
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "10 minutes", "5 minutes"), col("exact_key"))
      .agg(count(lit(1)).as("copies"))
  }

  final case class SeenState(firstDocId: String, copies: Long)
  /** Event-time variant state: lastSeenMs = max event time observed. */
  final case class SeenStateEv(firstDocId: String, copies: Long, lastSeenMs: Long)
  final case class DupTag(doc_id: String, exact_key: String,
                          is_duplicate: Boolean, first_doc_id: String, copy_number: Long)

  final case class BandState(recent: List[(String, Long)]) // (doc_id, simhash), newest first
  final case class NearDupTag(doc_id: String, band0: Long,
                              is_near_dup: Boolean, matched_doc_id: String, sim_ham: Int)

  /** Keyed streaming NEAR-duplicate tagging: stream docs are grouped by
    * their first MinHash band (the streaming analog of the batch band
    * blocking) and compared by SimHash Hamming distance against a BOUNDED
    * ring of recent signatures per band — state is O(bands × maxStatePerKey),
    * never O(stream). A doc whose best in-band match is within
    * `hammingThreshold` is tagged with that match. Docs in different bands
    * are never compared — the same recall trade the batch blocking makes,
    * tightened here by the ring bound (an old near-dup beyond the ring is
    * missed: the windowed-recall trade every streaming dedup makes).
    * Same trigger caveat as [[tagDuplicates]] when `stateTtl` is set.
    */
  def tagNearDuplicates(sigs: Dataset[StreamSig], hammingThreshold: Int = 8,
                        maxStatePerKey: Int = 64,
                        stateTtl: Option[String] = Some("1 hour"))(
      implicit spark: SparkSession): Dataset[NearDupTag] = {
    import spark.implicits._
    val timeoutConf = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    sigs.groupByKey(_.band0)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (band: Long, rows: Iterator[StreamSig], state: GroupState[BandState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic intra-batch order
            val sorted = rows.toSeq.sortBy(s => (s.event_time.getTime, s.doc_id))
            var ring = state.getOption.map(_.recent).getOrElse(Nil)
            val out = sorted.map { s =>
              val best = ring.iterator
                .map { case (id, h) => (id, java.lang.Long.bitCount(h ^ s.simhash)) }
                .foldLeft(("", Int.MaxValue)) { (acc, c) =>
                  if (c._2 < acc._2 || (c._2 == acc._2 && c._1 < acc._1)) c else acc
                }
              ring = ((s.doc_id, s.simhash) :: ring).take(maxStatePerKey)
              if (best._2 <= hammingThreshold)
                NearDupTag(s.doc_id, band, is_near_dup = true, best._1, best._2)
              else NearDupTag(s.doc_id, band, is_near_dup = false, "", -1)
            }
            state.update(BandState(ring))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Keep-first copy numbering of one key's batch (sorted by doc_id):
    * each row is numbered after the key's `copies` so far, and every row
    * but the keeper `firstDocId` is a duplicate.
    */
  private def keepFirst(key: String, sorted: Seq[StreamSig], firstDocId: String,
                        copies: Long): Seq[DupTag] =
    sorted.zipWithIndex.map { case (s, i) =>
      DupTag(s.doc_id, key, s.doc_id != firstDocId, firstDocId, copies + i + 1)
    }

  /** [[tagDuplicates]] with an EVENT-time TTL: a key whose last-seen event
    * time is more than `ttl` behind the WATERMARK is evicted. Unlike the
    * processing-time variant, eviction is a function of the DATA, not the
    * wall clock — replaying the same stream ages state identically on every
    * run (deterministic backfills), and a paused-then-resumed query does not
    * spuriously evict its whole working set while no data flowed.
    *
    * The input must carry a watermark — this method applies one
    * (`watermarkDelay`) on `event_time`. Timeout timestamps must exceed the
    * current watermark, so a key whose events arrive later than
    * watermark − ttl re-arms at watermark + 1 ms (evicted at the next
    * watermark advance) rather than throwing.
    *
    * No trigger caveat: EventTimeTimeout only schedules timeout batches
    * when the watermark ADVANCES, so `processAllAvailable` quiesces and the
    * default trigger is safe (the ProcessingTimeTimeout livelock documented
    * on [[tagDuplicates]] does not apply).
    */
  def tagDuplicatesEventTime(sigs: Dataset[StreamSig],
                             ttl: java.time.Duration = java.time.Duration.ofHours(1),
                             watermarkDelay: String = "10 minutes")(
      implicit spark: SparkSession): Dataset[DupTag] = {
    import spark.implicits._
    val ttlMs = ttl.toMillis
    sigs.withWatermark("event_time", watermarkDelay)
      .groupByKey(_.exact_key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[StreamSig], state: GroupState[SeenStateEv]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.doc_id)
            val st = state.getOption.getOrElse(
              SeenStateEv(sorted.head.doc_id, 0L, Long.MinValue))
            val out = keepFirst(key, sorted, st.firstDocId, st.copies)
            // last-seen is the MAX event time ever observed for this key —
            // carried in state so a late (out-of-order, within-watermark)
            // batch with OLDER events cannot rewind the eviction deadline
            // below lastSeen + ttl
            val lastSeen = math.max(st.lastSeenMs,
              sorted.map(_.event_time.getTime).max)
            state.update(SeenStateEv(st.firstDocId, st.copies + sorted.size, lastSeen))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, lastSeen + ttlMs))
            out.iterator
          }
      }
  }

  /** Keyed streaming dedup with explicit state: the first doc of each
    * exact-content key is the keeper; later arrivals are tagged duplicates
    * (reference keep-first survivorship, `cmd/dedupe/main.go:226-236`,
    * reinterpreted for unbounded input).
    *
    * State is BOUNDED by a processing-time TTL: a key idle for `stateTtl`
    * has its entry evicted, so the state store stays proportional to the
    * active working set, not the stream's lifetime key cardinality — the
    * difference between running for an hour and running for a year. A
    * re-arrival after eviction re-opens the key (its first doc becomes the
    * new keeper): the standard recall/state trade every windowed dedup makes.
    * Pass `stateTtl = None` for the unbounded exact mode.
    *
    * Trigger note: under ProcessingTimeTimeout, Spark's
    * FlatMapGroupsWithStateExec reports shouldRunAnotherBatch = true
    * unconditionally (processing time always advances), so the query MUST
    * run with an interval trigger (e.g. Trigger.ProcessingTime("1 minute")).
    * With the default as-fast-as-possible trigger it spins empty
    * timeout-check batches back-to-back — and
    * StreamingQuery.processAllAvailable never quiesces (livelock).
    */
  def tagDuplicates(sigs: Dataset[StreamSig],
                    stateTtl: Option[String] = Some("1 hour"))(
      implicit spark: SparkSession): Dataset[DupTag] = {
    import spark.implicits._
    val timeoutConf = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    sigs.groupByKey(_.exact_key)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (key: String, rows: Iterator[StreamSig], state: GroupState[SeenState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // idle TTL fired with no new data: evict and emit nothing
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.doc_id)
            val st = state.getOption.getOrElse(
              SeenState(sorted.head.doc_id, 0L))
            val out = keepFirst(key, sorted, st.firstDocId, st.copies)
            state.update(st.copy(copies = st.copies + sorted.size))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }
}
