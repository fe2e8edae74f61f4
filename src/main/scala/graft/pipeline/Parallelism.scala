package graft.pipeline

import org.apache.spark.sql.{Column, Dataset, SparkSession}

/** The one parallelism policy: every relation the engine re-partitions
  * goes to the session's shuffle width, never a literal core count, and
  * only through these three members.
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
  *  - [[widen]] is for EXCHANGE-FREE inputs: scans, pinned relations
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
  */
private[graft] object Parallelism {

  /** The session's shuffle width. */
  def width(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** Round-robin to [[width]], only when `ds` has fewer partitions. */
  def widen[T](ds: Dataset[T]): Dataset[T] =
    if (ds.rdd.getNumPartitions < width(ds.sparkSession)) spread(ds) else ds

  /** Re-partition to [[width]] unconditionally: round-robin without
    * `keys`, hash-partitioned on them otherwise. */
  def spread[T](ds: Dataset[T], keys: Column*): Dataset[T] = {
    val n = width(ds.sparkSession)
    if (keys.isEmpty) ds.repartition(n) else ds.repartition(n, keys: _*)
  }
}
