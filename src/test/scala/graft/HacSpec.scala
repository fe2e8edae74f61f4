package graft

import graft.pipeline.Hac
import graft.text.JaroWinkler.levenshtein
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Directed semantics + determinism tests for [[graft.pipeline.Hac]], plus
  * a from-scratch sequential rederivation of the full q_hac_clusters output
  * on the sf0.01 corpus (the golden-oracle cross-check: the naive
  * implementation recomputes every cluster-pair average from raw member
  * distances each round — no Lance-Williams update, no shared code path).
  */
class HacSpec extends AnyFunSuite with SparkTestBase {

  test("average-linkage cut splits a chained component that CC would merge") {
    // d(a,b) = 4, d(b,c) = 4, d(a,c) = 8; cut = 5.
    // CC over edges (d < 5) chains all three; HAC merges {a,b} (avg 4),
    // then stops: avg({a,b}, {c}) = (4+8)/2 = 6 > 5.
    val a = (1L, "aaaaaaaaaaaa")
    val b = (2L, "aaaaaaaabbbb")
    val c = (3L, "aaaabbbbbbbb")
    assert(levenshtein(a._2, b._2) == 4 && levenshtein(b._2, c._2) == 4 &&
      levenshtein(a._2, c._2) == 8)
    val out = Hac.cluster(Seq(a, b, c), cut = 5).sortBy(_._1)
    assert(out == Seq((1L, 1L, 2), (2L, 1L, 2), (3L, 3L, 1)))
  }

  test("everything merges when the cut admits the full component") {
    val ms = Seq((10L, "xxxxxyyyyy"), (11L, "xxxxxyyyyz"), (12L, "xxxxxyyyzz"))
    val out = Hac.cluster(ms, cut = 3).sortBy(_._1)
    assert(out.forall(_._2 == 10L) && out.forall(_._3 == 3))
  }

  test("input order does not affect the dendrogram (tie-break determinism)") {
    val ms = Seq(
      (5L, "qqqqwwwwrrrr"), (7L, "qqqqwwwwrrxx"), (2L, "qqqqwwwwyyyy"),
      (9L, "zzzzwwwwrrrr"), (4L, "qqqqwwzzrrrr"))
    val o1 = Hac.cluster(ms, cut = 4).sortBy(_._1)
    val o2 = Hac.cluster(ms.reverse, cut = 4).sortBy(_._1)
    val o3 = Hac.cluster(scala.util.Random.shuffle(ms), cut = 4).sortBy(_._1)
    assert(o1 == o2 && o2 == o3)
  }

  test("fuzz: partition invariants + cut monotonicity (dendrogram prefix property)") {
    // the merge ORDER is cut-independent (argmin each round); the cut only
    // stops the sequence earlier — so clustering at a smaller cut must be
    // an exact refinement of clustering at any larger cut
    val rnd = new scala.util.Random(20260818L)
    for (_ <- 1 to 200) {
      val k = 2 + rnd.nextInt(10)
      val members = (0 until k).map { i =>
        val len = 5 + rnd.nextInt(10)
        (i * 3 + rnd.nextInt(3).toLong + i * 10,
          (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      }.distinctBy(_._1)
      val c1 = rnd.nextInt(6)
      val c2 = c1 + 1 + rnd.nextInt(6)
      val lo = Hac.cluster(members, c1)
      val hi = Hac.cluster(members, c2)
      // partition: every member exactly once, hac_id = min of its group,
      // n_sub = true group size
      for (out <- Seq(lo, hi)) {
        assert(out.map(_._1).sorted == members.map(_._1).sorted)
        out.groupBy(_._2).foreach { case (h, g) =>
          assert(g.map(_._1).min == h)
          assert(g.forall(_._3 == g.length))
        }
      }
      // refinement: each low-cut cluster maps into ONE high-cut cluster
      val hiOf = hi.map(t => t._1 -> t._2).toMap
      lo.groupBy(_._2).values.foreach { g =>
        assert(g.map(t => hiOf(t._1)).distinct.length == 1,
          s"low-cut cluster split across high-cut clusters: $g")
      }
    }
  }

  test("run() caps members per component; overflow rows become singletons") {
    import spark.implicits._
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val t = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "aabb")).toDF("doc_id", "t")
    val out = Hac.run(cc, t, cut = 4, cap = 2)(spark)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    // docs 1,2 clustered (cap 2), doc 3 passes through as its own singleton
    assert(out.toSeq == Seq((1L, 1L, 2), (2L, 1L, 2), (3L, 3L, 1)))
  }

  test("q_hac_clusters equals a from-scratch naive HAC over the flagship CC (sf0.01)") {
    val dir = SparkTestBase.Sf001Dir
    val got = SparkEntry.queries("q_hac_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

    // independent inputs: the flagship CC assignment + raw 60-char prefixes
    val cc = SparkEntry.sFlagshipCC(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 60).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // naive HAC: recompute every cluster-pair average from RAW pair
    // distances each round (exact BigInt fractions), first-lexicographic
    // tie-break on (minA, minB)
    def naive(members: Seq[Long], cut: Int): Seq[(Long, Long, Int)] = {
      val d = scala.collection.mutable.Map[(Long, Long), Int]()
      for (a <- members; b <- members if a < b)
        d((a, b)) = levenshtein(texts(a), texts(b))
      var clusters: List[Set[Long]] = members.map(Set(_)).toList
      var go = true
      while (go && clusters.length > 1) {
        val cand = for {
          ca <- clusters; cb <- clusters
          if ca.min < cb.min
        } yield {
          val s = (for (a <- ca.toSeq; b <- cb.toSeq)
            yield d(if (a < b) (a, b) else (b, a))).map(BigInt(_)).sum
          val c = BigInt(ca.size) * cb.size
          (ca, cb, s, c)
        }
        // exact argmin: fractions compared by cross-multiplication (never
        // a lossy scaled key), ties by (minA, minB) — the main
        // implementation's first-found-strictly-smaller scan order
        val best = cand.reduceLeft { (x, y) =>
          val cmp = (y._3 * x._4).compare(x._3 * y._4)
          if (cmp < 0) y
          else if (cmp > 0) x
          else if (Ordering[(Long, Long)].lt((y._1.min, y._2.min), (x._1.min, x._2.min))) y
          else x
        }
        if (best._3 <= BigInt(cut) * best._4) {
          clusters = (best._1 ++ best._2) :: clusters.filterNot(x => x == best._1 || x == best._2)
          go = true
        } else go = false
      }
      clusters.flatMap(s => s.toSeq.map(dd => (dd, s.min, s.size)))
    }

    val expected = cc.groupBy(_._2).toSeq.flatMap { case (cid, ms) =>
      val ids = ms.map(_._1).sorted.take(32).toIndexedSeq
      val over = ms.map(_._1).sorted.drop(32).toIndexedSeq
      naive(ids, cut = 9).map { case (dd, h, n) => (dd, cid, h, n) } ++
        over.map(dd => (dd, cid, dd, 1))
    }.sortBy(_._1)

    assert(got.nonEmpty)
    assert(got == expected)
    // and the cut is doing real work on this corpus OR the components are
    // already tight — assert structure either way: every subcluster is a
    // subset of its component
    val compOf = cc.toMap
    got.foreach { case (dd, cid, h, _) =>
      assert(compOf(dd) == cid && compOf(h) == cid)
    }
  }
}
