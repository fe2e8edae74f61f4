package graft

import graft.pipeline.Swoosh
import org.scalatest.funsuite.AnyFunSuite

/** Iterative match-merge (R-Swoosh family) vs (1) the canonical witness
  * separating merge-closure from one-shot CC, and (2) a sequential
  * rederivation of the whole fixpoint on the sf0.01 corpus — independent
  * JVM code modeling the same definition (shingle sets, md5-affine MinHash
  * mins recomputed from the MERGED profile, banded candidacy, exact
  * Jaccard), which also proves the library's signature FOLD (elementwise
  * min over member docs) equals re-hashing the union.
  */
class SwooshSpec extends AnyFunSuite with SparkTestBase {

  import BandMirror.{bandsOf, jac, minsOf, shingles}

  /** Sequential match-merge fixpoint with the SAME banded candidacy, mins
    * recomputed from each merged profile (not folded — the independent
    * side of the fold-equals-rehash equality).
    */
  private def seqSwoosh(toks: Map[Long, Set[String]], thr: Double): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var changed = true
    while (changed) {
      changed = false
      val profiles = toks.keys.groupBy(find).map { case (e, members) =>
        e -> members.map(toks).reduce(_ ++ _)
      }
      val buckets = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      profiles.foreach { case (e, p) =>
        bandsOf(minsOf(p)).foreach(bk =>
          buckets.getOrElseUpdate(bk, scala.collection.mutable.ArrayBuffer.empty) += e)
      }
      val cand = buckets.values.flatMap(es =>
        for (i <- es.indices; j <- (i + 1) until es.size)
          yield (math.min(es(i), es(j)), math.max(es(i), es(j)))).toSet
      // score ALL candidates on round-start profiles FIRST, then merge —
      // mutating the union-find while scoring would make the oracle
      // iteration-order-dependent and unfaithful to the library's
      // CC-over-round-matches semantics
      val matched = cand.filter { case (a, b) =>
        jac(profiles(a), profiles(b)) >= thr
      }
      matched.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
          changed = true
        }
      }
    }
    toks.keys.map(k => k -> find(k)).toMap
  }

  test("merge-closure witness: C joins only through the merged A|B profile") {
    val shared = (0 until 60).map(i => f"sh$i%02d")
    val aOnly = (0 until 20).map(i => f"ax$i%02d")
    val bOnly = (0 until 20).map(i => f"bx$i%02d")
    val A = (shared ++ aOnly).toSet
    val B = (shared ++ bOnly).toSet
    val C = (aOnly ++ bOnly ++ shared.take(39)).toSet
    val U = A ++ B
    val thr = 0.6
    // the arithmetic that makes this the differentiating case:
    assert(jac(A, B) >= thr, "A and B must match pairwise")
    assert(jac(A, C) < thr && jac(B, C) < thr,
      "C must match NEITHER base record — CC over one-shot edges leaves it out")
    assert(jac(U, C) >= thr, "C must match the merged profile")
    // banded candidacy must surface both the round-1 and the round-2 pair
    // (deterministic given the fixed token strings; loud if the fixture drifts)
    assert((bandsOf(minsOf(A)) & bandsOf(minsOf(B))).nonEmpty,
      "fixture: A-B must share a MinHash band")
    assert((bandsOf(minsOf(U)) & bandsOf(minsOf(C))).nonEmpty,
      "fixture: (A|B)-C must share a MinHash band")

    implicit val s = spark
    import s.implicits._
    val docToks = Seq(1L -> A, 2L -> B, 3L -> C)
      .map { case (id, t) => (id, t.toSeq.sorted) }.toDF("doc_id", "toks")
    val docMins = Seq(1L -> A, 2L -> B, 3L -> C)
      .map { case (id, t) => (id, minsOf(t)) }.toDF("doc_id", "mins")
    val got = Swoosh.resolve(docToks, docMins, thr)(s)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "the fixpoint must pull C into the merged entity")
    assert(got === seqSwoosh(Map(1L -> A, 2L -> B, 3L -> C), thr))
  }

  test("three-round chain: each merge unlocks exactly the next match") {
    // D1–D2 match pairwise; D3 matches only U12 = D1∪D2; D4 matches only
    // U123 (it needs D3's c1 token to clear the bound) — so the fixpoint
    // takes three merge rounds, exercising the delta-round state updates
    // (anti-join + re-derive) repeatedly, and every pairwise base
    // comparison other than D1–D2 fails.
    // the "s9" prefix is a searched seed: it makes all three rounds'
    // band-candidacy assertions below hold for these fixed token strings
    val a = (1 to 10).map(i => f"s9-a$i%02d")
    val b = (1 to 3).map(i => f"s9-b$i%02d")
    val c1 = "s9-c01"
    val D1 = a.toSet
    val D2 = (a.take(7) ++ b).toSet
    val D3 = (a.drop(4) ++ b ++ Seq(c1)).toSet // a5..a10, b1..b3, c1
    val D4 = Set(c1, a(0), a(1), a(6), a(7), b(0), b(1))
    val U12 = D1 ++ D2
    val U123 = U12 ++ D3
    val thr = 0.5
    // the round structure this fixture encodes:
    assert(jac(D1, D2) >= thr)
    for ((x, y) <- Seq((D1, D3), (D2, D3), (D1, D4), (D2, D4), (D3, D4)))
      assert(jac(x, y) < thr, "pairwise base comparisons must fail")
    assert(jac(U12, D3) >= thr, "round 2: D3 joins the merged U12")
    assert(jac(U12, D4) < thr, "D4 must NOT match before D3's merge")
    assert(jac(U123, D4) >= thr, "round 3: D4 joins U123")
    // banded candidacy must surface each round's pair (deterministic for
    // the fixed token strings; loud if the fixture drifts)
    assert((bandsOf(minsOf(D1)) & bandsOf(minsOf(D2))).nonEmpty, "r1 candidacy")
    assert((bandsOf(minsOf(U12)) & bandsOf(minsOf(D3))).nonEmpty, "r2 candidacy")
    assert((bandsOf(minsOf(U123)) & bandsOf(minsOf(D4))).nonEmpty, "r3 candidacy")

    implicit val s = spark
    import s.implicits._
    val sets = Seq(1L -> D1, 2L -> D2, 3L -> D3, 4L -> D4)
    val docToks = sets.map { case (id, t) => (id, t.toSeq.sorted) }.toDF("doc_id", "toks")
    val docMins = sets.map { case (id, t) => (id, minsOf(t)) }.toDF("doc_id", "mins")
    val got = Swoosh.resolve(docToks, docMins, thr)(s)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(got === seqSwoosh(sets.toMap, thr))
  }

  test("q_swoosh equals the sequential banded fixpoint on sf0.01") {
    val dir = SparkTestBase.Sf001Dir
    val got = SparkEntry.queries("q_swoosh")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    assert(got === seqSwoosh(toks, 0.8))
  }
}
