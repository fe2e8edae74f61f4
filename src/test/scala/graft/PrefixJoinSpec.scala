package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for q_prefix_join (PPJoin-style lossless prefix filter)
  * and q_minhash_err (estimator-calibration report).
  *
  * The DuckDB oracle for q_prefix_join is brute force, so the driver's
  * compare already proves losslessness engine-to-engine; these tests prove
  * it WITHIN Spark (same tokenization, same rounding) on both a planted
  * boundary corpus and the real sf0.01 table, so a regression is caught at
  * `sbt test` time rather than at driver time.
  */
class PrefixJoinSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = SparkTestBase.Sf001Dir

  private def plantedDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-prefixjoin").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  /** Brute-force all-pairs Jaccard >= 0.8 with the query's exact
    * tokenization (8-char character shingles, the MinHash set family) and
    * rounding.
    */
  private def brute(dir: String) = {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
      SparkEntry.shingleSet(col("text")).as("toks"))
    d.select(col("doc_id").as("a"), col("toks").as("tA"))
      .join(d.select(col("doc_id").as("b"), col("toks").as("tB")), col("a") < col("b"))
      .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (size(col("tA")) + size(col("tB")) - col("inter")), 6))
      .filter(col("jac") >= 0.8)
      .select("a", "b", "jac")
  }

  test("q_prefix_join: planted boundary cases (above, exactly-at, below threshold)") {
    // 16-char texts have 9 8-char shingle windows, all distinct below.
    // doc2 differs from doc1 in the LAST char only: windows 1-8 shared,
    // window 9 differs on each side -> jac = 8 / (9+9-8) = 0.8 EXACTLY
    // (inclusive boundary). doc3 differs in the last TWO chars: windows
    // 8-9 differ -> jac(1,3) = 7/11 = 0.636 -> no pair. doc4 is a single
    // repeated char (one distinct shingle, disjoint). doc5 == doc1 ->
    // jac(1,5) = 1.0 and jac(2,5) = 0.8.
    val dir = plantedDir(Seq(
      (1L, "abcdefghijklmnop"),
      (2L, "abcdefghijklmnoQ"),
      (3L, "abcdefghijklmnQR"),
      (4L, "zzzzzzzzzzzzzzzz"),
      (5L, "abcdefghijklmnop")))
    val got = SparkEntry.queries("q_prefix_join")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.8), (1L, 5L, 1.0), (2L, 5L, 0.8)))
  }

  test("q_prefix_join: lossless vs brute force on sf0.01") {
    val got = SparkEntry.queries("q_prefix_join")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = brute(sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(want.nonEmpty) // the corpus actually exercises the join
  }

  test("q_minhash_err: bucket counts partition the banded candidate set; est/jac in [0,1]") {
    val rep = SparkEntry.queries("q_minhash_err")(spark, sfDir).collect()
    val nPairs = rep.map(_.getLong(1)).sum
    val nCand = SparkEntry.sBandCandidates(spark, sfDir).count()
    assert(nPairs == nCand)
    rep.foreach { r =>
      val (n, sumEst, sumJac, sumErr) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(sumEst >= 0.0 && sumEst <= n.toDouble + 1e-9)
      assert(sumJac >= 0.0 && sumJac <= n.toDouble + 1e-9)
      assert(sumErr >= 0.0 && sumErr <= n.toDouble + 1e-9)
    }
  }

  test("q_er_f1: counts coherent and flagship clustering reaches the north-rule F1 bar") {
    val r = SparkEntry.queries("q_er_f1")(spark, sfDir).collect().head
    val (nTrue, nPred, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (p, rec, f1) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(nHit <= math.min(nTrue, nPred))
    assert(p >= 0.0 && p <= 1.0 && rec >= 0.0 && rec <= 1.0)
    // harmonic mean of the recomputed ratios matches the reported f1
    val (pe, re) = (nHit.toDouble / nPred, nHit.toDouble / nTrue)
    assert(math.abs(f1 - 2 * pe * re / (pe + re)) < 1e-6)
    // the north rule's acceptance criterion, on this corpus
    assert(f1 >= 0.99, s"pairwise F1 $f1 below the north-rule bar")
  }

  test("q_bcubed: per-doc B3 metrics bounded and consistent with the F1-perfect corpus") {
    val r = SparkEntry.queries("q_bcubed")(spark, sfDir).collect().head
    val (n, p3, r3, f3) = (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(n == 500L)
    assert(p3 >= 0.0 && p3 <= 1.0 && r3 >= 0.0 && r3 <= 1.0)
    // q_er_f1 shows pairwise-perfect clustering on this corpus; B3 must
    // then be perfect too (identical contingency cells)
    assert(f3 >= 0.99, s"B3 F1 $f3 below the bar")
  }

  test("q_ari: counts reconcile with q_er_f1 and the truth-perfect corpus pins ari at 1") {
    val r = SparkEntry.queries("q_ari")(spark, sfDir).collect().head
    val (n, sij, sa, sb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n == 500L)
    assert(sij <= math.min(sa, sb), "same-cell pairs exceed a marginal")
    // sum_pred_c2 IS the number of predicted same-cluster pairs — q_er_f1's n_pred
    val f1Row = SparkEntry.queries("q_er_f1")(spark, sfDir).collect().head
    assert(sa == f1Row.getLong(1), s"sum_pred_c2 $sa != q_er_f1 n_pred ${f1Row.getLong(1)}")
    assert(r.getDouble(4) == 1.0, "clustering equals truth on this corpus, ARI must be 1")
  }

  test("ariOf: chance-corrected arithmetic on constructed disagreeing partitions") {
    import spark.implicits._
    // Hubert-Arabie textbook shape: truth {a,b,c|d,e,f}, pred {a,b|c,d|e,f}
    // T2=15, Sij=2, SA=3, SB=6 -> ARI = 2*(15*2-18)/(15*9-36) = 24/99
    val assign = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L),
      (4L, 2L, 2L), (5L, 3L, 2L), (6L, 3L, 2L)).toDF("doc_id", "c", "tt")
    val row = SparkEntry.ariOf(assign).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) == ((6L, 2L, 3L, 6L)))
    assert(row.getDouble(4) == BigDecimal(24.0 / 99.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"ari ${row.getDouble(4)}")
    // identical all-singleton partitions: den = 0 -> defined as 1
    val trivial = Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L)).toDF("doc_id", "c", "tt")
    assert(SparkEntry.ariOf(trivial).collect().head.getDouble(4) == 1.0)
    // perfect disagreement floor: one pred cluster vs all-singleton truth -> ari 0
    val anti = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L)).toDF("doc_id", "c", "tt")
    assert(SparkEntry.ariOf(anti).collect().head.getDouble(4) == 0.0)
  }

  test("q_nmi: corpus pins nmi at 1; nmiOf matches sequential entropy rederivation") {
    val r = SparkEntry.queries("q_nmi")(spark, sfDir).collect().head
    assert(r.getLong(0) == 500L && r.getDouble(4) == 1.0)
    import spark.implicits._
    def seqNmi(rows: Seq[(Long, Long, Long)]): (Long, Long, Long, Double) = {
      val n = rows.size.toDouble
      def h(key: ((Long, Long, Long)) => Any): Long =
        rows.groupBy(key).values.map { g =>
          g.size * math.floor(1000.0 * math.log(n / g.size)).toLong
        }.sum
      val (hp, ht, hj) = (h(_._2), h(_._3), h(t => (t._2, t._3)))
      val nmi = if (hp + ht == 0L) 1.0
        else BigDecimal(2.0 * (hp + ht - hj).toDouble / (hp + ht).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (hp, ht, hj, nmi)
    }
    // textbook disagreeing partitions + degenerate shapes + random fuzz
    val cases = Seq(
      Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L), (4L, 2L, 2L), (5L, 3L, 2L), (6L, 3L, 2L)),
      Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L)),   // identical singletons -> 1
      Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L)),   // one cluster vs singletons -> 0
      Seq((1L, 9L, 9L), (2L, 9L, 9L), (3L, 9L, 9L)))      // both single-cluster: h=0 -> 1
    val rnd = new scala.util.Random(42L)
    val fuzz = (1 to 10).map(_ => (1 to (5 + rnd.nextInt(30))).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(5).toLong)))
    (cases ++ fuzz).zipWithIndex.foreach { case (rows, i) =>
      val got = SparkEntry.nmiOf(rows.toDF("doc_id", "c", "tt")).collect().head
      val (hp, ht, hj, nmi) = seqNmi(rows)
      assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((hp, ht, hj)), s"case $i entropies")
      assert(got.getDouble(4) == nmi, s"case $i nmi: ${got.getDouble(4)} vs $nmi")
    }
  }

  test("q_purity: corpus pins both purities at 10^6; purityOf matches sequential rederivation") {
    val r = SparkEntry.queries("q_purity")(spark, sfDir).collect().head
    assert(r.getLong(0) == 500L && r.getLong(3) == 1000000L && r.getLong(4) == 1000000L)
    assert(r.getDouble(5) == 1000000.0)
    import spark.implicits._
    def seqPurity(rows: Seq[(Long, Long, Long)]): (Long, Long, Long, Long, Double) = {
      val n = rows.size.toLong
      val cells = rows.groupBy(t => (t._2, t._3)).map { case (k, v) => k -> v.size.toLong }
      def sumMax(key: ((Long, Long)) => Long): Long =
        cells.groupBy { case (k, _) => key(k) }.values.map(_.values.max).sum
      val (sp, st) = (sumMax(_._1), sumMax(_._2))
      val (pm, im) = (1000000L * sp / n, 1000000L * st / n)
      val f = if (pm + im == 0L) 0.0
        else BigDecimal(2.0 * pm.toDouble * im.toDouble / (pm + im).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (sp, st, pm, im, f)
    }
    val rnd = new scala.util.Random(7L)
    val cases = Seq(
      Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L), (4L, 2L, 2L), (5L, 3L, 2L), (6L, 3L, 2L)),
      Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L))) ++
      (1 to 10).map(_ => (1 to (5 + rnd.nextInt(30))).map(i =>
        (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(5).toLong)))
    cases.zipWithIndex.foreach { case (rows, i) =>
      val got = SparkEntry.purityOf(rows.toDF("doc_id", "c", "tt")).collect().head
      val (sp, st, pm, im, f) = seqPurity(rows)
      assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4)) ==
        ((sp, st, pm, im)), s"case $i counts")
      assert(got.getDouble(5) == f, s"case $i f: ${got.getDouble(5)} vs $f")
    }
  }

  test("ariOf: randomized partitions match a sequential pair-counting rederivation") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    (1 to 20).foreach { trial =>
      val n = 5 + rnd.nextInt(40)
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(6).toLong))
      val got = SparkEntry.ariOf(rows.toDF("doc_id", "c", "tt")).collect().head
      def c2(x: Long) = x * (x - 1) / 2
      val sij = rows.groupBy(r => (r._2, r._3)).values.map(g => c2(g.size.toLong)).sum
      val sa = rows.groupBy(_._2).values.map(g => c2(g.size.toLong)).sum
      val sb = rows.groupBy(_._3).values.map(g => c2(g.size.toLong)).sum
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
        ((n.toLong, sij, sa, sb)), s"trial $trial counts")
      val t2 = n.toDouble * (n - 1).toDouble / 2.0
      val den = t2 * (sa.toDouble + sb.toDouble) - 2.0 * sa.toDouble * sb.toDouble
      val want =
        if (den == 0.0) 1.0
        else BigDecimal(2.0 * (t2 * sij.toDouble - sa.toDouble * sb.toDouble) / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.getDouble(4) == want, s"trial $trial ari: ${got.getDouble(4)} vs $want")
    }
  }

  test("exactShinglePairs: randomized corpora match brute force at every threshold (property fuzz)") {
    // Docs are MUTATIONS of a few shared base strings (substitutions +
    // truncations), so shingle overlap actually spans every threshold
    // band — independent random texts share 8-char shingles essentially
    // never, which would make this test vacuous.
    val rnd = new scala.util.Random(20260817L)
    def baseText(): String =
      (0 until 40 + rnd.nextInt(40)).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    def mutate(t: String): String = {
      val chars = t.toCharArray
      (0 until rnd.nextInt(6)).foreach { _ =>
        chars(rnd.nextInt(chars.length)) = ('a' + rnd.nextInt(6)).toChar
      }
      new String(chars).take(8 + rnd.nextInt(chars.length))
    }
    var sawPairs = 0
    (1 to 3).foreach { trial =>
      val bases = Array.fill(5)(baseText())
      val docs = (1L to 40L).map(i => (i, mutate(bases(rnd.nextInt(5)))))
      val dir = plantedDir(docs)
      Seq(0.5, 0.7, 0.9).foreach { t =>
        val got = SparkEntry.exactShinglePairs(spark, dir, t).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
          SparkEntry.shingleSet(col("text")).as("toks"))
        val want = d.select(col("doc_id").as("a"), col("toks").as("tA"))
          .join(d.select(col("doc_id").as("b"), col("toks").as("tB")), col("a") < col("b"))
          .withColumn("inter", size(array_intersect(col("tA"), col("tB"))))
          .withColumn("jac", round(col("inter").cast("double") /
            (size(col("tA")) + size(col("tB")) - col("inter")), 6))
          .filter(col("jac") >= t)
          .select("a", "b", "jac")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        sawPairs += want.size
        assert(got == want, s"trial $trial t=$t: lossy or over-emitting prefix filter")
      }
    }
    assert(sawPairs > 0, "fuzz corpus produced no qualifying pairs — test is vacuous")
  }
}
