package graft

import graft.pipeline.{BucketedParquetTableIO, Bucketing, ParquetTableIO}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Stage reads use the schema [[ParquetTableIO.write]] records in the
  * stage manifest instead of inferring it (an inferred parquet read runs a
  * footer-scan job), and a manifest without one still reads.
  */
class TableIOSpec extends AnyFunSuite with SparkTestBase {

  private def stageFrame: DataFrame = {
    import spark.implicits._
    (0L until 200L).map(i => (i, s"doc-$i", Seq(i, i + 1), (i % 7, s"k$i")))
      .toDF("doc_id", "name", "ids", "pair")
  }

  private def rows(df: DataFrame) = df.select("doc_id", "name", "ids", "pair").collect().toSet

  test("a written stage reads back with its recorded schema and submits no job") {
    val root = Files.createTempDirectory("graft_tableio").toString
    val io = new ParquetTableIO(root)
    io.write("stage", stageFrame, 7L)
    val inferred = spark.read.parquet(s"$root/stage").schema
    assert(SparkTestBase.jobsDuring(spark)(io.read(spark, "stage")) === 0)
    val read = io.read(spark, "stage")
    assert(read.schema === inferred)
    assert(rows(read) === rows(stageFrame))
    assert(io.completedKey("stage") === Some(7L))
  }

  test("a bucketed stage registers from its recorded schema and submits no job") {
    val root = Files.createTempDirectory("graft_tableio_bkt").toString
    val io = new BucketedParquetTableIO(root, buckets = 4)
    io.write("assignments", stageFrame, 9L)
    // a fresh session's catalog has no entry: the read re-registers
    spark.sql(s"DROP TABLE IF EXISTS ${Bucketing.tableNameFor(s"$root/assignments")}")
    try {
      assert(SparkTestBase.jobsDuring(spark)(io.read(spark, "assignments")) === 0)
      val read = io.read(spark, "assignments")
      assert(read.schema === spark.read.parquet(s"$root/assignments").schema)
      assert(rows(read) === rows(stageFrame))
    } finally spark.sql(s"DROP TABLE IF EXISTS ${Bucketing.tableNameFor(s"$root/assignments")}")
  }

  test("a manifest without a recorded schema still reads (inferred)") {
    val root = Files.createTempDirectory("graft_tableio_old").toString
    val io = new ParquetTableIO(root)
    io.write("stage", stageFrame, 11L)
    val manifest = Paths.get(root, "stage", "_graft_manifest.json")
    val json = Files.readString(manifest)
    val cut = json.indexOf(",\"schema\":")
    assert(cut > 0, json)
    Files.writeString(manifest, json.substring(0, cut) + "}")
    val read = io.read(spark, "stage")
    assert(read.schema === spark.read.parquet(s"$root/stage").schema)
    assert(rows(read) === rows(stageFrame))
    assert(io.completedKey("stage") === Some(11L))
  }
}
