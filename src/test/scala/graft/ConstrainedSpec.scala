package graft

import graft.pipeline.Constrained
import org.scalatest.funsuite.AnyFunSuite

/** Directed semantics + determinism tests for
  * [[graft.pipeline.Constrained]], plus a from-scratch sequential
  * rederivation of the full q_constrained_cc output on the sf0.01 corpus
  * (the golden-oracle cross-check: the naive solver keeps explicit cluster
  * SETS and re-scans constraints against full member sets — no union-find,
  * no shared code path with the main implementation).
  */
class ConstrainedSpec extends AnyFunSuite with SparkTestBase {

  test("a cannot-link splits the chain; the bridge follows its best edge") {
    // edges a-b (d=2), b-c (d=3); a ⊥ c. Greedy takes a-b first (smaller
    // d), then refuses b-c because it would join a and c: {a,b} | {c}.
    val out = Constrained.cluster(Seq(1L, 2L, 3L),
      Seq((1L, 2L, 2), (2L, 3L, 3)), Seq((1L, 3L))).sortBy(_._1)
    assert(out == Seq((1L, 1L, 2), (2L, 1L, 2), (3L, 3L, 1)))
    // flip the scores and the bridge flips sides: {a} | {b,c}
    val out2 = Constrained.cluster(Seq(1L, 2L, 3L),
      Seq((1L, 2L, 3), (2L, 3L, 2)), Seq((1L, 3L))).sortBy(_._1)
    assert(out2 == Seq((1L, 1L, 1), (2L, 2L, 2), (3L, 2L, 2)))
  }

  test("a must-link outranks scored order but never a cannot-link") {
    // edge b-c (d=1); must a-b; cannot a-c. The must unions {a,b} FIRST,
    // so b-c is then refused (would join a and c): {a,b} | {c}.
    val out = Constrained.cluster(Seq(1L, 2L, 3L),
      Seq((2L, 3L, 1)), Seq((1L, 3L)), Seq((1L, 2L))).sortBy(_._1)
    assert(out == Seq((1L, 1L, 2), (2L, 1L, 2), (3L, 3L, 1)))
    // without the must-link the scored edge wins the race: {a} | {b,c}
    val without = Constrained.cluster(Seq(1L, 2L, 3L),
      Seq((2L, 3L, 1)), Seq((1L, 3L))).sortBy(_._1)
    assert(without == Seq((1L, 1L, 1), (2L, 2L, 2), (3L, 2L, 2)))
  }

  test("a must-link directly contradicting a cannot-link is dropped") {
    val out = Constrained.cluster(Seq(1L, 2L), Nil, Seq((1L, 2L)), Seq((1L, 2L)))
      .sortBy(_._1)
    assert(out == Seq((1L, 1L, 1), (2L, 2L, 1)))
  }

  test("must-links connect members no scored edge reaches") {
    val out = Constrained.cluster(Seq(1L, 2L, 3L),
      Seq((1L, 2L, 5)), Nil, Seq((2L, 3L)))
    assert(out.forall(_._2 == 1L) && out.forall(_._3 == 3))
  }

  test("zero constraints degenerate to plain connected components") {
    val out = Constrained.cluster(Seq(4L, 7L, 9L, 11L),
      Seq((4L, 7L, 5), (7L, 9L, 14), (9L, 11L, 1)), Nil).sortBy(_._1)
    assert(out.forall(_._2 == 4L) && out.forall(_._3 == 4))
  }

  test("input order does not affect the result (total edge sort)") {
    val ms = Seq(1L, 2L, 3L, 4L, 5L)
    val es = Seq((1L, 2L, 4), (2L, 3L, 4), (3L, 4L, 2), (4L, 5L, 4), (1L, 5L, 9))
    val cl = Seq((1L, 4L), (2L, 5L))
    val o1 = Constrained.cluster(ms, es, cl).sortBy(_._1)
    val o2 = Constrained.cluster(ms.reverse, es.reverse, cl.reverse).sortBy(_._1)
    val o3 = Constrained.cluster(scala.util.Random.shuffle(ms),
      scala.util.Random.shuffle(es), scala.util.Random.shuffle(cl)).sortBy(_._1)
    assert(o1 == o2 && o2 == o3)
  }

  test("fuzz: constraints always hold, partition invariants, CC refinement") {
    val rnd = new scala.util.Random(20260820L)
    for (_ <- 1 to 300) {
      val k = 2 + rnd.nextInt(12)
      val ms = (0 until k).map(i => i * 7 + rnd.nextInt(3).toLong).distinct
      val es = (0 until k * 2).map { _ =>
        val a = ms(rnd.nextInt(ms.length)); val b = ms(rnd.nextInt(ms.length))
        (math.min(a, b), math.max(a, b), 1 + rnd.nextInt(14))
      }.filter(e => e._1 != e._2)
      val cl = (0 until rnd.nextInt(4)).map { _ =>
        val a = ms(rnd.nextInt(ms.length)); val b = ms(rnd.nextInt(ms.length))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val must = (0 until rnd.nextInt(4)).map { _ =>
        val a = ms(rnd.nextInt(ms.length)); val b = ms(rnd.nextInt(ms.length))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val out = Constrained.cluster(ms, es, cl, must)
      // partition: every member exactly once; root = min; n_sub = size
      assert(out.map(_._1).sorted == ms.sorted)
      val byRoot = out.groupBy(_._2)
      byRoot.foreach { case (r, g) =>
        assert(g.map(_._1).min == r)
        assert(g.forall(_._3 == g.length))
      }
      // hard constraints: no cannot-link pair shares a subcluster — even
      // when a must-link contradicts it (cannot outranks must)
      val rootOf = out.map(t => t._1 -> t._2).toMap
      cl.foreach { case (a, b) => assert(rootOf(a) != rootOf(b)) }
      // with no cannot-links every must pair lands in one subcluster
      val freeMust = Constrained.cluster(ms, es, Nil, must)
      val fmOf = freeMust.map(t => t._1 -> t._2).toMap
      must.foreach { case (a, b) => assert(fmOf(a) == fmOf(b)) }
      // refinement: the constrained partition refines the one where every
      // applied union (edges AND must-links) is unconstrained
      val free = Constrained.cluster(ms,
        es ++ must.map(p => (p._1, p._2, 0)), Nil)
      val freeOf = free.map(t => t._1 -> t._2).toMap
      byRoot.values.foreach { g =>
        assert(g.map(t => freeOf(t._1)).distinct.length == 1)
      }
    }
  }

  test("run() caps members, passes overflow through, drops vacuous constraints") {
    import spark.implicits._
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val edges = Seq((1L, 2L, 2), (2L, 3L, 3), (10L, 11L, 1))
      .toDF("src", "dst", "d")
    // (1,3) binds inside component 1; (2,10) crosses components (vacuous);
    // (1,3) would also be dropped if 3 overflowed the cap
    val cannot = Seq((1L, 3L), (2L, 10L)).toDF("a", "b")
    val out = Constrained.run(cc, edges, cannot, cap = 64)(spark)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out == Seq((1L, 1L, 1L, 2), (2L, 1L, 1L, 2), (3L, 1L, 3L, 1),
      (10L, 10L, 10L, 2), (11L, 10L, 10L, 2)))
    // cap = 2: doc 3 overflows to a singleton and its edges/constraints
    // leave with it — docs 1,2 still union
    val capped = Constrained.run(cc, edges, cannot, cap = 2)(spark)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(capped == Seq((1L, 1L, 1L, 2), (2L, 1L, 1L, 2), (3L, 1L, 3L, 1),
      (10L, 10L, 10L, 2), (11L, 10L, 10L, 2)))
  }

  test("q_constrained_cc equals a from-scratch sequential solver (sf0.01)") {
    val dir = SparkTestBase.Sf001Dir
    val got = SparkEntry.queries("q_constrained_cc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

    val cc = SparkEntry.sFlagshipCC(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sourceOf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = SparkEntry.levEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val compOf = cc.toMap
    // reviewer pairs: one rep (min doc) per (component, source), capped at
    // the 16 smallest reps per component, all pairs
    val reps = cc
      .groupBy(m => (m._2, sourceOf(m._1))).toSeq
      .map { case (_, g) => (g.head._2, g.map(_._1).min) }
      .groupBy(_._1).toSeq.flatMap { case (cid, rs) =>
        rs.map(_._2).sorted.take(16).map(cid -> _)
      }
    val cannot = reps.groupBy(_._1).values.flatMap { rs =>
      val ids = rs.map(_._2).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

    // naive solver: explicit cluster sets, constraint check against FULL
    // member sets (not roots), edges ascending (d, src, dst)
    val expected = cc.groupBy(_._2).toSeq.flatMap { case (cid, ms) =>
      val sortedIds = ms.map(_._1).sorted
      val capped = sortedIds.take(64).toSet
      val over = sortedIds.drop(64)
      val inEdges = edges.filter(e =>
          compOf.get(e._1).contains(cid) && capped(e._1) && capped(e._2))
        .sortBy(e => (e._3, e._1, e._2))
      val inCl = cannot.filter(p => capped(p._1) && capped(p._2))
      var clusters: List[Set[Long]] = capped.toList.sorted.map(Set(_))
      inEdges.foreach { case (a, b, _) =>
        val ca = clusters.find(_.contains(a)).get
        val cb = clusters.find(_.contains(b)).get
        if (ca != cb) {
          val merged = ca ++ cb
          val ok = !inCl.exists(p => merged(p._1) && merged(p._2))
          if (ok) clusters = merged :: clusters.filterNot(x => x == ca || x == cb)
        }
      }
      clusters.flatMap(s => s.toSeq.map(d => (d, cid, s.min, s.size))) ++
        over.map(d => (d, cid, d, 1))
    }.sortBy(_._1)

    assert(got.nonEmpty)
    assert(got == expected)
    // the constraints did real work on this corpus: at least one component
    // holds ≥ 2 constrained subclusters (loose ≠ strict at sf0.01)
    assert(got.groupBy(_._2).values.exists(g => g.map(_._3).distinct.length > 1))
    // and no cannot-link pair shares a subcluster
    val rootOf = got.map(t => t._1 -> t._3).toMap
    cannot.foreach { case (a, b) =>
      if (rootOf.contains(a) && rootOf.contains(b) &&
          compOf(a) == compOf(b)) {
        val aCapped = cc.filter(_._2 == compOf(a)).map(_._1).sorted.take(64).contains(a)
        val bCapped = cc.filter(_._2 == compOf(b)).map(_._1).sorted.take(64).contains(b)
        if (aCapped && bCapped) assert(rootOf(a) != rootOf(b))
      }
    }
  }

  test("q_constrained_must equals a from-scratch sequential solver (sf0.01)") {
    val dir = SparkTestBase.Sf001Dir
    val got = SparkEntry.queries("q_constrained_must")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

    val cc = SparkEntry.sFlagshipCC(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docMeta = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "lang").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val edges = SparkEntry.levEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val compOf = cc.toMap
    // rep per (component, source) = min doc_id; resolved queue = all rep
    // pairs among the 16 smallest reps: same lang => must, else cannot
    val reps = cc
      .groupBy(m => (m._2, docMeta(m._1)._1)).toSeq
      .map { case (_, g) => (g.head._2, g.map(_._1).min) }
      .groupBy(_._1).toSeq.flatMap { case (cid, rs) =>
        rs.map(_._2).sorted.take(16).map(cid -> _)
      }
    val queue = reps.groupBy(_._1).values.flatMap { rs =>
      val ids = rs.map(_._2).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val cannot = queue.filter(p => docMeta(p._1)._2 != docMeta(p._2)._2)
    val must = queue.filter(p => docMeta(p._1)._2 == docMeta(p._2)._2)

    // both label kinds are non-vacuous on this corpus
    assert(must.nonEmpty, "no same-lang cross-source rep pair at sf0.01")
    assert(cannot.nonEmpty, "no cross-lang cross-source rep pair at sf0.01")

    val expected = cc.groupBy(_._2).toSeq.flatMap { case (cid, ms) =>
      val sortedIds = ms.map(_._1).sorted
      val capped = sortedIds.take(64).toSet
      val over = sortedIds.drop(64)
      val inEdges = edges.filter(e =>
          compOf.get(e._1).contains(cid) && capped(e._1) && capped(e._2))
        .sortBy(e => (e._3, e._1, e._2))
      val inCl = cannot.filter(p => capped(p._1) && capped(p._2))
      val inMust = must.filter(p =>
        compOf.get(p._1).contains(cid) && capped(p._1) && capped(p._2))
        .toSeq.sorted
      var clusters: List[Set[Long]] = capped.toList.sorted.map(Set(_))
      def union(a: Long, b: Long): Unit = {
        val ca = clusters.find(_.contains(a)).get
        val cb = clusters.find(_.contains(b)).get
        if (ca != cb) {
          val merged = ca ++ cb
          val ok = !inCl.exists(p => merged(p._1) && merged(p._2))
          if (ok) clusters = merged :: clusters.filterNot(x => x == ca || x == cb)
        }
      }
      inMust.foreach { case (a, b) => union(a, b) }
      inEdges.foreach { case (a, b, _) => union(a, b) }
      clusters.flatMap(s => s.toSeq.map(d => (d, cid, s.min, s.size))) ++
        over.map(d => (d, cid, d, 1))
    }.sortBy(_._1)

    assert(got.nonEmpty)
    assert(got == expected)
    // the confirmed pairs did real work: the partition differs from the
    // cannot-only variant (a must-link bridged a split greedy order made)
    val cannotOnly = SparkEntry.queries("q_constrained_cc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got != cannotOnly)
    // and every cannot pair still holds
    val rootOf = got.map(t => t._1 -> t._3).toMap
    val cappedOf = cc.groupBy(_._2).map { case (cid, ms) =>
      cid -> ms.map(_._1).sorted.take(64).toSet
    }
    cannot.foreach { case (a, b) =>
      if (compOf(a) == compOf(b) && cappedOf(compOf(a))(a) && cappedOf(compOf(a))(b))
        assert(rootOf(a) != rootOf(b))
    }
  }
}
