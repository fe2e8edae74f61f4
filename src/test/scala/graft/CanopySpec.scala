package graft

import graft.pipeline.Canopy
import org.scalatest.funsuite.AnyFunSuite

/** Canopy blocking vs the sequential greedy definition (McCallum et al.,
  * KDD 2000): smallest pooled doc becomes a center, loose neighbors join
  * its canopy, tight neighbors leave the pool. The library derives the
  * center set order-free (lex-first MIS of the tight graph); these tests
  * pin that derivation to the sequential loop on randomized graphs, prove
  * the distributed MIS path equals the driver fast path, and exercise the
  * overlap semantics single-threshold blocking cannot express.
  */
class CanopySpec extends AnyFunSuite with SparkTestBase {

  private def seqCanopy[T: Ordering](loose: Seq[(T, T)], tight: Seq[(T, T)],
                                     universe: Seq[T]): Set[(T, T)] = {
    def adj(es: Seq[(T, T)]): Map[T, Set[T]] =
      (es.flatMap { case (a, b) => Seq(a -> b, b -> a) })
        .filter { case (a, b) => a != b }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val la = adj(loose)
    val ta = adj(tight)
    val pool = scala.collection.mutable.SortedSet(universe: _*)
    val out = scala.collection.mutable.Set.empty[(T, T)]
    while (pool.nonEmpty) {
      val c = pool.head
      out += ((c, c))
      la.getOrElse(c, Set.empty).foreach(v => out += ((c, v)))
      pool -= c
      ta.getOrElse(c, Set.empty).foreach(pool -= _)
    }
    out.toSet
  }

  private def run(loose: Seq[(String, String)], tight: Seq[(String, String)],
                  universe: Seq[String], cutoff: Long = 200000): Set[(String, String)] = {
    implicit val s = spark
    import s.implicits._
    Canopy.canopies(loose.toDF("src", "dst"), tight.toDF("src", "dst"),
        universe.toDF("doc_id"), driverCutoff = cutoff)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
  }

  /** Seeded random two-threshold graph: weighted pairs, weight 2 = tight. */
  private def randomCase(seed: Int, n: Int, m: Int):
      (Seq[(String, String)], Seq[(String, String)], Seq[String]) = {
    val rnd = new scala.util.Random(seed)
    def node() = f"n${rnd.nextInt(n)}%03d"
    val weighted = Seq.fill(m)((node(), node(), 1 + rnd.nextInt(2)))
      .filter { case (a, b, _) => a != b }
    val loose = weighted.map { case (a, b, _) => (a, b) }
    val tight = weighted.collect { case (a, b, 2) => (a, b) }
    val universe = (0 until n).map(i => f"n$i%03d")
    (loose, tight, universe)
  }

  test("canopies equal the sequential greedy on randomized two-threshold graphs") {
    for (seed <- 1 to 8) {
      val (loose, tight, universe) = randomCase(seed, n = 40, m = 60)
      assert(run(loose, tight, universe) === seqCanopy(loose, tight, universe),
        s"seed $seed")
    }
  }

  test("distributed MIS path equals the driver fast path") {
    val (loose, tight, universe) = randomCase(99, n = 30, m = 45)
    assert(run(loose, tight, universe, cutoff = 0) ===
      run(loose, tight, universe))
  }

  test("overlap: a doc loose-close to two tight-separated centers joins both canopies") {
    // tight: (a,b) → centers {a, c, d}; loose adds c−b and d−b: b sits in
    // THREE canopies (a's via tight⊆loose, c's and d's via loose-only).
    val tight = Seq(("a", "b"))
    val loose = tight ++ Seq(("c", "b"), ("d", "b"))
    val got = run(loose, tight, Seq("a", "b", "c", "d"))
    assert(got === Set(("a", "a"), ("a", "b"), ("c", "c"), ("c", "b"),
      ("d", "d"), ("d", "b")))
    assert(got === seqCanopy(loose, tight, Seq("a", "b", "c", "d")))
  }

  test("q_canopy equals the sequential greedy over independently derived band edges (sf0.01)") {
    val dir = SparkTestBase.Sf001Dir
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> BandMirror.bandsOf(
        BandMirror.minsOf(BandMirror.shingles(r.getString(1))))).toMap
    // pair → number of shared position-tagged band keys, via bucket expansion
    val buckets = docs.toSeq.flatMap { case (id, bks) => bks.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    buckets.foreach { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        shared((ids(i), ids(j))) += 1
    }
    val loose = shared.keys.toSeq
    // iterator first: .collect on a Map yielding tuples would REBUILD a
    // map and silently collapse edges sharing a first endpoint
    val tight = shared.iterator.collect { case (p, n) if n >= 2 => p }.toSeq
    val expected = seqCanopy(loose, tight, docs.keys.toSeq)
      .groupBy(_._1).map { case (c, ms) =>
        val sorted = ms.map(_._2).toSeq.sorted
        (c, sorted.size.toLong, sorted.mkString(","))
      }.filter(_._2 > 1L).toSet
    val got = SparkEntry.queries("q_canopy")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === expected)
  }

  test("tight-isolated universe docs become singleton canopies") {
    val got = run(loose = Seq(("x", "y")), tight = Seq.empty,
      universe = Seq("x", "y", "z"))
    assert(got === Set(("x", "x"), ("x", "y"), ("y", "y"), ("y", "x"),
      ("z", "z")))
  }
}
