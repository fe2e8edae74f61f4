package graft

import graft.ann.Ivf
import graft.pipeline.Generation
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** IVF coarse-quantizer ANN: determinism, cell partition sanity, and
  * measured recall vs the brute-force top-k on the sf0.01 embeddings.
  */
class IvfSpec extends AnyFunSuite with SparkTestBase {

  private val sf = SparkTestBase.Sf001Dir
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("fit is deterministic and assigns every vector to a valid cell") {
    val m1 = Ivf.fit(emb, "embedding", "vec_id", k = 8)
    val m2 = Ivf.fit(emb, "embedding", "vec_id", k = 8)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    val cells = Ivf.withCell(emb, "embedding", m1)
      .groupBy("cell").count().collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(cells.map(_._2).sum == 500L)
    assert(cells.forall { case (c, n) => c >= 0 && c < 8 && n > 0 })
  }

  test("nprobe=k degenerates to exact brute-force top-k") {
    val m = Ivf.fit(emb, "embedding", "vec_id", k = 8)
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = (0 until 64).map(i =>
        element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
        .reduceLeft(_ + _)
      def nrm(c: org.apache.spark.sql.Column) = sqrt((0 until 64).map { i =>
        val v = element_at(c, i + 1).cast("double"); v * v
      }.reduceLeft(_ + _))
      dot / (nrm(a) * nrm(b))
    }
    val q = emb.filter(col("vec_id") < 20)
    val full = Ivf.topK(q, emb, m, "embedding", "vec_id", k = 3, nprobe = 8, cos)
      .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force ground truth
    val a = q.select(col("vec_id").as("q"), col("embedding").as("qv"))
    val b = emb.select(col("vec_id").as("n"), col("embedding").as("nv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("cos").desc, col("n"))
    val brute = a.join(b, col("q") =!= col("n"))
      .select(col("q"), col("n"), cos(col("qv"), col("nv")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
    // and the measured recall floor at nprobe=4 on ISOTROPIC data (the
    // hardest case for IVF — documented in Ivf's Scaladoc)
    val probed = Ivf.topK(q, emb, m, "embedding", "vec_id", k = 3, nprobe = 4, cos)
      .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probed & brute).size.toDouble / brute.size
    assert(recall >= 0.5, f"nprobe=4/8 recall $recall%.2f below measured floor")
  }

  test("fitOrLoad persists the index as stages and resumes without refitting") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-ivf-spec").toString
    val io = new graft.pipeline.ParquetTableIO(root)
    val (m1, cells1) = Ivf.fitOrLoad(spark, io, emb, "embedding", "vec_id",
      k = 8, dataKey = 42L)
    // the persisted model IS the in-memory fit (exact double round-trip)
    val direct = Ivf.fit(emb, "embedding", "vec_id", k = 8)
    assert(m1.centroids.map(_.toSeq).toSeq == direct.centroids.map(_.toSeq).toSeq)
    // cells stage is the narrow (id, cell) relation, one row per vector
    assert(cells1.columns.toSeq == Seq("vec_id", "cell") && cells1.count() == 500)
    // resume: same key leaves the manifests untouched (no refit, no rewrite)
    val manifests = Seq("ivf_centroids", "ivf_cells")
      .map(st => Paths.get(root, st, "_graft_manifest.json"))
    manifests.foreach(p => assert(Files.exists(p), s"missing manifest $p"))
    val mtimes = manifests.map(p => p -> Files.getLastModifiedTime(p)).toMap
    val (m2, cells2) = Ivf.fitOrLoad(spark, io, emb, "embedding", "vec_id",
      k = 8, dataKey = 42L)
    manifests.foreach(p => assert(Files.getLastModifiedTime(p) == mtimes(p),
      s"stage rewritten on resume: $p"))
    assert(m2.centroids.map(_.toSeq).toSeq == m1.centroids.map(_.toSeq).toSeq)
    // probing the persisted index == probing a fresh in-memory assignment
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (0 until 64).map(i =>
        element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
        .reduceLeft(_ + _)
    val q = emb.filter(col("vec_id") < 20)
    val viaIndex = Ivf.topKWithIndex(q, emb, cells2, m2, "embedding", "vec_id",
        k = 3, nprobe = 4, cos)
      .select("q", "n", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fresh = Ivf.topK(q, emb, m1, "embedding", "vec_id", k = 3, nprobe = 4, cos)
      .select("q", "n", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == fresh)
    // a changed key (new generation) rewrites the stages
    Ivf.fitOrLoad(spark, io, emb, "embedding", "vec_id", k = 8, dataKey = 43L)
    manifests.foreach(p => assert(Files.getLastModifiedTime(p) != mtimes(p),
      s"stage NOT rewritten on key change: $p"))
    // changed FIT PARAMS with the same data key also rewrite: the resume
    // key is built inside fitOrLoad from the parameters actually applied,
    // so a drifted default can never serve an index fit under old params
    val mtimes2 = manifests.map(p => p -> Files.getLastModifiedTime(p)).toMap
    Ivf.fitOrLoad(spark, io, emb, "embedding", "vec_id", k = 8, dataKey = 43L,
      iters = 7)
    manifests.foreach(p => assert(Files.getLastModifiedTime(p) != mtimes2(p),
      s"stage NOT rewritten on param change: $p"))
    Files.walk(Paths.get(root)).iterator().asScala.toList.reverse
      .foreach(Files.deleteIfExists(_))
  }

  // ---- the IVF index behind q_ann_ivf / q_ann_ivfpq / q_ann_recall resumes
  // from its on-disk stages on every call, so what it serves follows the
  // table and the index root, not an in-JVM copy.

  private def annIvf(dir: String): Seq[Seq[Any]] =
    SparkEntry.queries("q_ann_ivf")(spark, dir).collect().toSeq.map(_.toSeq)

  /** Runs `body` over a fresh base dir for throwaway tables, then deletes
    * it and every IVF index root (all generations) built for its tables.
    */
  private def withTableDirs(body: Path => Unit): Unit = {
    val base = Files.createTempDirectory("graft-ivf-table")
    try body(base)
    finally {
      val prefixes = list(base).map { t =>
        val root = SparkEntry.ivfIndexRoot(spark, t.toString)._1
        root.substring(0, root.lastIndexOf('-') + 1)
      }
      list(Paths.get(System.getProperty("java.io.tmpdir")))
        .filter(p => prefixes.exists(p.toString.startsWith))
        .foreach(Generation.deleteRecursively)
      Generation.deleteRecursively(base)
    }
  }
  private def list(d: Path): List[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList finally s.close()
  }

  test("q_ann_ivf over a table overwritten in place follows the new table") {
    withTableDirs { base =>
      val dir = base.resolve("t").toString
      emb.write.parquet(s"$dir/embeddings.parquet")
      val before = annIvf(dir)
      // a non-isometric rewrite (a coordinate permutation or reflection
      // would keep every cosine, centroid cell and neighbour), same ids
      val regen = emb.withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.25f)))
      regen.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val after = annIvf(dir)
      val fresh = base.resolve("fresh").toString
      regen.write.parquet(s"$fresh/embeddings.parquet")
      assert(after == annIvf(fresh))
      assert(after != before)
    }
  }

  test("q_ann_ivf rebuilds an index root deleted between two calls") {
    withTableDirs { base =>
      val dir = base.resolve("t").toString
      emb.write.parquet(s"$dir/embeddings.parquet")
      val first = annIvf(dir)
      val root = Paths.get(SparkEntry.ivfIndexRoot(spark, dir)._1)
      assert(Files.exists(root.resolve("ivf_cells")))
      Generation.deleteRecursively(root)
      assert(annIvf(dir) == first)
      assert(Files.exists(root.resolve("ivf_cells/_graft_manifest.json")))
    }
  }
}
