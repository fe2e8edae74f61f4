package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths}
import scala.util.Try

/** Stage checkpointing with lineage + metrics manifests (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * No Iceberg runtime jar ships in this sandbox (SURVEY.md preamble), so the
  * abstraction is a partitioned Parquet table plus a `_graft_manifest.json`
  * sidecar carrying {stage, resume key, row count, per-partition row counts,
  * wall time, schema}. `stage()` skips recompute when an existing
  * manifest's resume key (config digest ⊕ input-data digest ⊕ stage
  * ordinal — see Pipeline.run's baseKey) matches — a rerun after a kill
  * resumes at the first missing/mismatched stage with byte-identical results
  * (the pipeline is deterministic end-to-end). An Iceberg-backed TableIO can
  * be dropped in where the runtime exists; the contract is this trait.
  */
trait TableIO extends Serializable {
  def write(name: String, df: DataFrame, resumeKey: Long): Unit
  def read(spark: SparkSession, name: String): DataFrame
  /** resume key of a completed stage, if present and readable. */
  def completedKey(name: String): Option[Long]
}

class ParquetTableIO(root: String) extends TableIO {
  protected def dir(name: String) = s"$root/$name"

  /** The data write alone (manifest handled by [[write]]) — the override
    * point for layouts that keep the same path contract but a different
    * writer (e.g. [[BucketedParquetTableIO]]).
    */
  protected def writeData(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(dir(name))

  def write(name: String, df: DataFrame, resumeKey: Long): Unit = {
    val t0 = System.nanoTime()
    writeData(name, df)
    // per-partition (file) row counts from the written footers = the
    // per-partition lineage/metrics record; read with the frame's schema,
    // which infers nothing (an inferred read costs a footer-scan job)
    val written = df.sparkSession.read.schema(df.schema).parquet(dir(name))
    val perFileCounts = written
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("f").count().collect()
      .map(r => (fileTail(r.getString(0)), r.getLong(1)))
    val perFile = perFileCounts
      .map { case (f, n) => s"""{"file":${jsonStr(f)},"rows":$n}""" }
    val rows = perFileCounts.map(_._2).sum
    val wallMs = (System.nanoTime() - t0) / 1000000
    val json =
      s"""{"stage":${jsonStr(name)},"resume_key":"$resumeKey","rows":$rows,""" +
        s""""wall_ms":$wallMs,"partitions":[${perFile.mkString(",")}],""" +
        s""""schema":${written.schema.json}}"""
    Files.writeString(ParquetTableIO.manifestPath(dir(name)), json)
  }

  /** Reads restore bucket co-location whenever the stage dir self-describes
    * as bucketed (see [[Bucketing.readMaybeBucketed]]) — so a later
    * generation's fold gets shuffle-free state joins no matter which
    * TableIO class reads the checkpoint — and use the manifest's recorded
    * schema when it has one.
    */
  def read(spark: SparkSession, name: String): DataFrame =
    Bucketing.readMaybeBucketed(spark, dir(name))

  def completedKey(name: String): Option[Long] = manifestField(name, """"resume_key":"(-?\d+)"""")

  /** Row count a completed stage's manifest records; reading it runs no job. */
  def completedRows(name: String): Option[Long] =
    manifestField(name, """"resume_key":"-?\d+","rows":(\d+)""")

  private def manifestField(name: String, re: String): Option[Long] =
    ParquetTableIO.manifest(dir(name)).flatMap(re.r.findFirstMatchIn(_).map(_.group(1).toLong))

  private def fileTail(f: String): String = f.split('/').takeRight(1).mkString
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object ParquetTableIO {
  private def manifestPath(dir: String) = Paths.get(dir, "_graft_manifest.json")
  private val RecordedSchema = """"schema":(.*)\}""".r.unanchored

  /** The stage at `dir` as plain parquet, read with the schema
    * [[ParquetTableIO.write]] recorded in its manifest (the written files'
    * own, all columns nullable), so no footer-scan job infers it. A dir
    * whose manifest is missing, predates the field or does not parse (a
    * truncated file) keeps the inferred read.
    */
  private[pipeline] def readParquet(spark: SparkSession, dir: String): DataFrame =
    manifest(dir).collect { case RecordedSchema(json) => json }
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => spark.read.schema(st) }
      .getOrElse(spark.read).parquet(dir)

  /** The manifest text of the stage at `dir`; None if missing or unreadable. */
  private def manifest(dir: String): Option[String] =
    Try(Files.readString(manifestPath(dir))).toOption
}

object Checkpoints {
  /** Compute-or-resume a stage. The returned frame always reads from the
    * materialized table, truncating upstream lineage.
    */
  def stage(spark: SparkSession, io: TableIO, name: String, resumeKey: Long)(
      compute: => DataFrame): DataFrame = {
    if (!io.completedKey(name).contains(resumeKey)) io.write(name, compute, resumeKey)
    io.read(spark, name)
  }
}
