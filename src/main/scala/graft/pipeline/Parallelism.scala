package graft.pipeline

import org.apache.spark.sql.{Column, Dataset, SparkSession}

/** The one parallelism policy: every relation the engine re-partitions
  * goes to the session's shuffle width — or, where the row count is
  * known, to the width that count needs — never a literal core count,
  * and only through these members.
  *
  * Why re-partition at all (the q_blocking_recall lesson, guide §2.6 idle
  * capacity): a modest parquet table reads as ONE split, so a scan-rooted
  * leg whose downstream operators are compute-heavy (per-doc md5/UDF
  * kernels, broadcast-join pair verifies — BroadcastNestedLoopJoin
  * parallelizes over its left partitions only) runs serially on one core;
  * AQE's post-shuffle coalescing likewise folds byte-small but
  * compute-heavy exchanges down to one partition (event-log evidence:
  * 1-task stages of 1.5-2.6 s inside q_cosine_topk / q_embed_near_dup /
  * q_pprl). Row order downstream changes, so ONLY order-insensitive
  * consumers (sets, sorted aggs, joins, total ORDER BY outputs) may sit
  * above a re-partition.
  *
  * The sizing rule ([[tasksFor]], [[sized]]): a relation of `rows` rows
  * needs one task per [[RowsPerTask]] rows, and never fewer tasks than
  * the cores; a shuffle over it needs no more than the session width.
  * Each partition of a re-partition has a fixed cost (task launch, the
  * per-task framework code and the JIT work it triggers), so on a small
  * corpus the session's 64 tasks per stage cost more than the data;
  * width should follow the data (Hyper Dimension Shuffle, VLDB 2019). At
  * 1,024 docs per task a task holds about 0.4 s of signature work (the
  * traced shingle + minhash + simhash + phash kernels add up to about
  * 0.42 ms per doc). The three lifecycle calls know their row counts:
  * `Pipeline.run`, `Incremental.run`'s batch leg and `Incremental.retract`'s
  * member re-run each run their self-join stages through
  * `Pipeline.selfJoin`, whose one aggregate over the input before any stage
  * work (which also keys a checkpointed pass and decides the pre-collapse)
  * counts the docs. It narrows the input and every stage it persists or
  * writes to the [[sized]] width with [[coalesceTo]], and passes that
  * width to the band persist and to scoring's phase B (a persisted
  * relation keeps the partitioning of the plan it caches: AQE does not
  * coalesce a cached plan's output). A fold's corpus inputs
  * (`Incremental.foldInputs`) are sized with [[atLeast]] from the doc
  * count the generation's `assignments` manifest records, which costs no
  * job. Every other caller keeps [[width]].
  *
  *  - [[widen]] and [[atLeast]] are for EXCHANGE-FREE inputs: scans, pinned relations
  *    (`localCheckpoint`, `SessionCache.pinned`) and stage reads. Counting
  *    their partitions plans them and runs nothing, so the guard is free;
  *    at scale the file count already gives the width and the round-robin
  *    shuffle is skipped. On a post-shuffle input the count would run the
  *    shuffle (AQE materializes the plan's stages to answer it), so such
  *    inputs use [[spread]].
  *  - [[spread]] always re-partitions: for relations whose partition count
  *    AQE only fixes at runtime (the coalesced output of a byte-small
  *    exchange), for a library caller's relation of unknown shape, and —
  *    with keys — for a hash layout a consumer's plan relies on.
  *  - [[coalesceTo]] narrows a relation to a [[sized]] width without a
  *    shuffle. Its guard is arithmetic (it counts no partitions, so it
  *    is safe on a post-shuffle input), and a coalesce never adds
  *    partitions: it only ever cuts a relation whose row count is small
  *    against the session width, never below [[tasksFor]] that count, and
  *    at scale, where the sized width is the session width, it plans
  *    nothing.
  */
private[graft] object Parallelism {

  /** Rows one task of a sized relation holds. */
  val RowsPerTask = 1024L

  /** The session's shuffle width. */
  def width(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** Tasks a relation of `rows` rows needs: one per [[RowsPerTask]] rows,
    * never fewer than `cores`. */
  def tasksFor(rows: Long, cores: Int): Int =
    math.min(math.max(cores.toLong, (rows + RowsPerTask - 1) / RowsPerTask), Int.MaxValue).toInt

  /** Shuffle width for a relation of `rows` rows in a session of `width`
    * shuffle partitions on `cores` cores. */
  def sized(rows: Long, cores: Int, width: Int): Int = math.min(width, tasksFor(rows, cores))

  /** [[sized]] in `spark`'s session. */
  def sized(spark: SparkSession, rows: Long): Int =
    sized(rows, spark.sparkContext.defaultParallelism, width(spark))

  /** Round-robin to [[width]], only when `ds` has fewer partitions. */
  def widen[T](ds: Dataset[T]): Dataset[T] = atLeast(ds, width(ds.sparkSession))

  /** Round-robin to `n`, only when `ds` has fewer partitions. */
  def atLeast[T](ds: Dataset[T], n: Int): Dataset[T] =
    if (ds.rdd.getNumPartitions < n) spreadTo(ds, Some(n)) else ds

  /** Re-partition to [[width]] unconditionally: round-robin without
    * `keys`, hash-partitioned on them otherwise. */
  def spread[T](ds: Dataset[T], keys: Column*): Dataset[T] = spreadTo(ds, None, keys: _*)

  /** [[spread]] to `n` partitions, or to [[width]] when `n` is `None`. */
  def spreadTo[T](ds: Dataset[T], n: Option[Int], keys: Column*): Dataset[T] = {
    val w = n.getOrElse(width(ds.sparkSession))
    if (keys.isEmpty) ds.repartition(w) else ds.repartition(w, keys: _*)
  }

  /** Coalesce `ds` to `n` partitions, without a shuffle, when `n` is
    * below the session width; `ds` itself otherwise. */
  def coalesceTo[T](ds: Dataset[T], n: Int): Dataset[T] =
    if (n < width(ds.sparkSession)) ds.coalesce(n) else ds
}
