package graft

import graft.pipeline.GraphAudit
import org.scalatest.funsuite.AnyFunSuite

/** GraphAudit kernels + the two audit queries: the cut-vertex set is
  * checked against the DEFINITION (remove each vertex, recount connected
  * components of the remainder), the spanning forest against an
  * independently written Prim's, and both queries against sequential
  * rederivations over the collected pinned relations at sf0.01. A 300-case
  * fuzz pins the kernels on random graphs.
  */
class GraphAuditSpec extends AnyFunSuite with SparkTestBase {

  private val dir = SparkTestBase.Sf001Dir

  /** Connected-component count of the graph over `members` minus `drop`. */
  private def nComponents(members: Seq[Long], edges: Seq[(Long, Long)],
                          drop: Option[Long] = None): Int = {
    val ms = members.filterNot(drop.contains)
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      if (!drop.contains(a) && !drop.contains(b) && a != b) {
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
    }
    val seen = scala.collection.mutable.Set.empty[Long]
    var n = 0
    ms.foreach { m =>
      if (!seen.contains(m)) {
        n += 1
        var frontier = List(m); seen += m
        while (frontier.nonEmpty) {
          val u = frontier.head; frontier = frontier.tail
          adj(u).foreach { v => if (!seen.contains(v)) { seen += v; frontier = v :: frontier } }
        }
      }
    }
    n
  }

  /** Prim's MST weight per component (total weight is unique even when the
    * tree is not; with the total (d, a, b) order the tree IS unique, so we
    * also compare edge sets via weights + counts per component).
    */
  private def primWeight(members: Seq[Long], edges: Seq[(Long, Long, Int)]): (Int, Long) = {
    val adj = scala.collection.mutable.Map
      .empty[Long, List[(Long, Int)]].withDefaultValue(Nil)
    edges.foreach { case (a, b, d) =>
      if (a != b) { adj(a) = (b, d) :: adj(a); adj(b) = (a, d) :: adj(b) }
    }
    val inTree = scala.collection.mutable.Set.empty[Long]
    var nEdges = 0; var weight = 0L
    members.foreach { root =>
      if (!inTree.contains(root)) {
        inTree += root
        val pq = scala.collection.mutable.PriorityQueue
          .empty[(Int, Long, Long)](Ordering.by(t => (-t._1, -t._2, -t._3)))
        adj(root).foreach { case (v, d) => pq.enqueue((d, root, v)) }
        while (pq.nonEmpty) {
          val (d, _, v) = pq.dequeue()
          if (!inTree.contains(v)) {
            inTree += v; nEdges += 1; weight += d
            adj(v).foreach { case (w, dw) => if (!inTree.contains(w)) pq.enqueue((dw, v, w)) }
          }
        }
      }
    }
    (nEdges, weight)
  }

  private def fuzzGraph(seed: Int): (Seq[Long], Seq[(Long, Long, Int)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 2 + rnd.nextInt(12)
    val members = (0L until n).map(identity)
    val edges = (for {
      a <- 0L until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.3
    } yield (a, b, 1 + rnd.nextInt(9))).toSeq
    (members, edges)
  }

  test("cutVertices equals the remove-and-recount definition on 300 fuzz graphs") {
    (0 until 300).foreach { seed =>
      val (members, edges) = fuzzGraph(seed)
      val got = GraphAudit.cutVertices(members, edges.map(e => (e._1, e._2)))
      val base = nComponents(members, edges.map(e => (e._1, e._2)))
      val want = members.filter { v =>
        nComponents(members, edges.map(e => (e._1, e._2)), Some(v)) > base
      }.toSet
      assert(got == want, s"seed=$seed edges=$edges")
    }
  }

  test("spanningForest: per-fuzz-graph forest size and weight match Prim's; edges are acyclic and spanning") {
    (0 until 300).foreach { seed =>
      val (members, edges) = fuzzGraph(seed)
      val forest = GraphAudit.spanningForest(members, edges)
      val (nP, wP) = primWeight(members, edges)
      assert(forest.size == nP, s"seed=$seed")
      assert(forest.map(_._3.toLong).sum == wP, s"seed=$seed")
      // forest edges connect exactly what the full graph connects
      val fullCc = nComponents(members, edges.map(e => (e._1, e._2)))
      val forestCc = nComponents(members, forest.map(e => (e._1, e._2)))
      assert(fullCc == forestCc, s"seed=$seed")
      assert(forest.size == members.size - fullCc, s"seed=$seed") // acyclic
    }
  }

  test("q_bridge_docs: equals the sequential per-component definition at sf0.01") {
    val cc = SparkEntry.sFlagshipCC(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = SparkEntry.levEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byComp = cc.groupBy(_._2)
    val compOf = cc.toMap
    val want = byComp.flatMap { case (cid, ms) =>
      val members = ms.map(_._1).sorted.take(64) // cap
      val inCap = members.toSet
      val es = edges.filter(e => inCap.contains(e._1) && inCap.contains(e._2) &&
        compOf(e._1) == cid && compOf(e._2) == cid)
      val base = nComponents(members, es)
      val cuts = members.filter(v => nComponents(members, es, Some(v)) > base).toSet
      val overflow = ms.map(_._1).sorted.drop(64)
      members.map(m => (m, cid, cuts.contains(m))) ++
        overflow.map(m => (m, cid, false))
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q_bridge_docs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // sf0.01's components are dense banded near-cliques, so the corpus
    // legitimately has NO cut vertices (asserted by the equality above);
    // the positive path is pinned by the constructed-component test below
  }

  test("bridges flags chain-merge culprits end-to-end on a constructed component") {
    import spark.implicits._
    // triangle {1,2,3} — 3 — 4 — 5 chain: removing 3 or 4 disconnects
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("doc_id", "cluster_id")
    val edges = Seq((1L, 2L, 3), (2L, 3L, 4), (1L, 3L, 5), (3L, 4L, 2), (4L, 5L, 1))
      .toDF("src", "dst", "d")
    val out = GraphAudit.bridges(cc, edges)(spark).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true, 5L -> false))
    // the evidence chain drops exactly the redundant triangle edge (1,3,5)
    val chain = GraphAudit.mstEdges(cc, edges)(spark).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(chain == Set((1L, 2L, 3), (2L, 3L, 4), (3L, 4L, 2), (4L, 5L, 1)))
    // bounded-state contract: cap=2 keeps {1,2}; 3,4,5 pass through non-cut
    val capped = GraphAudit.bridges(cc, edges, cap = 2)(spark).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
  }

  test("q_evidence_mst: spanning, acyclic, minimal vs Prim's, and edge subset at sf0.01") {
    val cc = SparkEntry.sFlagshipCC(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allEdges = SparkEntry.levEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val edgeSet = allEdges.map(e => (e._1, e._2)).toSet
    val got = SparkEntry.queries("q_evidence_mst")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got.nonEmpty)
    // every chain edge is a real scored edge
    assert(got.forall(e => edgeSet.contains((e._2, e._3))))
    val byComp = cc.groupBy(_._2)
    got.groupBy(_._1).foreach { case (cid, chain) =>
      val members = byComp(cid).map(_._1).sorted.take(64)
      val inCap = members.toSet
      val es = allEdges.filter(e => inCap.contains(e._1) && inCap.contains(e._2))
      val (nP, wP) = primWeight(members, es)
      assert(chain.size == nP, s"cluster $cid")
      assert(chain.map(_._4.toLong).sum == wP, s"cluster $cid")
      // spanning: chain connects the capped slice exactly like the full edges
      assert(nComponents(members, chain.map(e => (e._2, e._3))) ==
        nComponents(members, es.map(e => (e._1, e._2))), s"cluster $cid")
    }
    // every multi-member component with at least one in-cap edge emits a chain
    val compsWithChain = got.map(_._1).toSet
    byComp.foreach { case (cid, ms) =>
      val inCap = ms.map(_._1).sorted.take(64).toSet
      val hasEdge = allEdges.exists(e => inCap.contains(e._1) && inCap.contains(e._2))
      if (hasEdge) assert(compsWithChain.contains(cid), s"cluster $cid missing")
    }
  }
}
