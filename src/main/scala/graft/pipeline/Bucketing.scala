package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucket-co-located persistence for join-heavy state.
  *
  * The incremental/retraction legs repeatedly join id-keyed state tables
  * (signatures, assignments, band relations) that were WRITTEN by a
  * previous run — as plain parquet, every such join re-shuffles the
  * old-corpus side on doc_id even though its partitioning never changed
  * between runs. Hash-bucketed catalog tables persist that partitioning:
  * two tables bucketed identically on the join key sort-merge-join with
  * ZERO Exchange on either side (BucketingSpec asserts the plan), so a
  * fold's O(corpus) state joins become shuffle-free and only the O(batch)
  * side moves. This is the parquet-native analog of what an Iceberg
  * bucket-partitioned table would give (no Iceberg jar in this sandbox —
  * see TableIO's scaladoc; same drop-in contract).
  *
  * Spark requires the session catalog for bucket metadata (`bucketBy` is
  * only honored through `saveAsTable`), hence this helper is
  * catalog-backed where [[ParquetTableIO]] is path-based: pass an explicit
  * `path` so the data itself still lives under the caller's state root and
  * the catalog entry is just metadata.
  *
  * Scale note: pick `buckets` ≈ the cluster's target shuffle width for
  * this table (too few buckets under-parallelize the join; too many make
  * small files). Bucket counts that divide evenly can still co-locate
  * (Spark coalesces the larger side since 3.1).
  */
object Bucketing {

  /** Catalog-safe unique table name per directory. */
  private[graft] def tableNameFor(path: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_bkt_$h"
  }

  private def metaPath(path: String) =
    java.nio.file.Paths.get(path, "_graft_buckets.json")

  /** The bucket layout is a property of the FILES, not of whichever session
    * later reads them — a reader registering the directory with its own
    * session's bucket count would silently drop buckets (count shrank) or
    * desync the hash%N co-location contract (count grew). So every bucketed
    * write persists {buckets, keys} as a sidecar, and readers re-register
    * from the sidecar, never from live config.
    */
  def writeBucketMeta(path: String, buckets: Int, keys: Seq[String]): Unit = {
    // the reader's key regex is [A-Za-z0-9_]+ — a key with other characters
    // would be silently DROPPED at read, registering a wrong CLUSTERED BY
    // and desyncing the hash%N co-location contract; fail at write instead
    keys.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
      s"bucket key '$k' has characters the sidecar format cannot round-trip"))
    java.nio.file.Files.writeString(metaPath(path),
      s"""{"buckets":$buckets,"keys":[${keys.map("\"" + _ + "\"").mkString(",")}]}""")
  }

  /** None for a missing OR unparseable sidecar (a corrupt/truncated file
    * must fall back to a plain read, not throw); a sidecar that parses a
    * bucket count but yields ZERO keys is a loud error — registering a
    * keyless CLUSTERED BY would be wrong, and treating it as plain would
    * silently drop co-location that the files actually have.
    */
  def readBucketMeta(path: String): Option[(Int, Seq[String])] = {
    val p = metaPath(path)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val s = java.nio.file.Files.readString(p)
      val b = """"buckets":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      val lb = s.indexOf('[')
      // the key list must be TERMINATED: a sidecar truncated mid-list
      // (disk-full / crash mid-write) can still contain whole key tokens
      // ('{"buckets":64,"keys":["doc_id"' for a (doc_id, block_key)
      // layout) — parsing those would register a wrong CLUSTERED BY, the
      // exact silent desync this sidecar exists to prevent. No ']' after
      // '[' ⇒ unparseable ⇒ plain read.
      val rb = if (lb < 0) -1 else s.indexOf(']', lb)
      if (b.isEmpty || lb < 0 || rb < 0) None
      else {
        val ks = """"([A-Za-z0-9_]+)"""".r
          .findAllMatchIn(s.substring(lb, rb + 1)).map(_.group(1)).toSeq
        // a TERMINATED empty list is not truncation — it is a sidecar that
        // positively claims "bucketed, no keys", which no writer produces
        // (writeBucketed requires keys.nonEmpty): loud, not silent
        require(ks.nonEmpty,
          s"corrupt bucket sidecar at $p: buckets=${b.get} parsed but no keys")
        b.map(n => (n, ks))
      }
    }
  }

  /** Write `df` as a hash-bucketed, per-bucket-sorted parquet table at
    * `path`, registered as `table` in the session catalog (replacing any
    * previous registration), with the bucket layout persisted beside the
    * files so ANY later reader restores co-location from disk.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], path: String): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .option("path", path)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    writeBucketMeta(path, buckets, keys)
  }

  /** Read a bucketed table back WITH its bucket metadata (a plain
    * `spark.read.parquet(path)` would lose it and re-shuffle on join).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Read a parquet directory, restoring bucket co-location when (and only
    * when) the dir self-describes as bucketed: the sidecar's PERSISTED
    * count/keys drive the registration, so a session with a different
    * shuffle-partitions setting cannot corrupt the read, and a dir written
    * plain never gets bucket metadata stamped over it (which would throw
    * 'Invalid bucket file' at scan). A schema recorded in the dir's
    * manifest spares the inferred read's footer-scan job.
    */
  def readMaybeBucketed(spark: SparkSession, path: String): DataFrame =
    readBucketMeta(path) match {
      case Some((buckets, keys)) =>
        registerExisting(spark, tableNameFor(path), path, buckets, keys)
      case None => ParquetTableIO.readParquet(spark, path)
    }

  /** Re-register an existing bucketed parquet directory as an external
    * catalog table (fresh sessions lose the in-memory catalog entry; the
    * files + this DDL restore the co-location metadata). `buckets`/`keys`
    * must be the PERSISTED layout — prefer [[readMaybeBucketed]].
    */
  def registerExisting(spark: SparkSession, table: String, path: String,
                       buckets: Int, keys: Seq[String]): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      val schema = ParquetTableIO.readParquet(spark, path).schema.toDDL
      spark.sql(s"CREATE TABLE $table ($schema) USING PARQUET " +
        s"CLUSTERED BY (${keys.mkString(", ")}) " +
        s"SORTED BY (${keys.mkString(", ")}) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
    }
    spark.table(table)
  }
}

/** [[TableIO]] with hash-bucketed stage tables: stages named in
  * `bucketKeys` are written `CLUSTERED BY` their join key, so every
  * id-keyed consumer join of that stage — this run's or a LATER
  * generation's fold — plans without an Exchange on the state side. The
  * path contract is [[ParquetTableIO]]'s (same dirs, same manifests, and
  * the files remain readable as plain parquet by older readers — they
  * just lose the co-location), so this drops into [[Pipeline.run]]'s
  * `checkpoint` without touching the resume machinery. Catalog entries
  * are per-session metadata only; [[read]] re-registers from the files
  * when a fresh session reads an existing generation.
  */
final class BucketedParquetTableIO(root: String, buckets: Int,
    bucketKeys: Map[String, Seq[String]] = BucketedParquetTableIO.DefaultKeys)
    extends ParquetTableIO(root) {

  override protected def writeData(name: String, df: DataFrame): Unit =
    bucketKeys.get(name) match {
      case Some(keys) =>
        Bucketing.writeBucketed(df, Bucketing.tableNameFor(dir(name)),
          buckets, keys, dir(name))
      case None => super.writeData(name, df)
    }

  // reads inherit ParquetTableIO.read: the dir self-describes via the
  // bucket sidecar, so co-location is restored from the PERSISTED layout
  // (this instance's `buckets` applies to writes only) and a plain dir
  // reads plain instead of crashing on stamped-on bucket metadata.
}

object BucketedParquetTableIO {
  /** The stages whose top-level key column is a join key downstream:
    * per-doc assignment/cluster tables co-locate the fold's id joins; the
    * band relation co-locates its block-key self-join and the linkage
    * equi-join. (The signatures stage nests its columns under a struct —
    * bucketBy needs top-level columns — so it stays plain parquet.)
    */
  val DefaultKeys: Map[String, Seq[String]] = Map(
    "assignments" -> Seq("doc_id"),
    "clusters" -> Seq("doc_id"),
    "bands" -> Seq("block_key"))
}
