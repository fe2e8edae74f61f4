package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-graph explainability audits over connected components — the
  * "WHY did these records merge?" reports an ER reviewer reads before
  * trusting (or repairing) a cluster:
  *
  *  - '''Articulation docs''' ([[bridges]]): the members whose removal
  *    disconnects their component (Hopcroft–Tarjan cut vertices). These are
  *    the chain-merge culprits — a cluster glued together solely through
  *    one noisy doc is precisely the over-merge [[Hac]] splits and a
  *    retraction ([[Incremental.retract]]) legitimately breaks apart; the
  *    flag tells a reviewer which member to inspect first. Being a graph
  *    property, the cut-vertex set is independent of any traversal order —
  *    determinism is free.
  *  - '''Evidence chain''' ([[mstEdges]]): the minimum spanning forest of
  *    each component under (distance, src, dst) order — the minimal set of
  *    scored pairs that justifies the whole merge (Kruskal; every non-MST
  *    edge is redundant evidence). The review UI shows these |C|−1 pairs
  *    instead of all O(|C|²) edges, and the chain's worst edge is the
  *    cluster's weakest link (the q_cluster_cohesion min_sim, now with the
  *    WITNESS pair attached).
  *
  * Spark shape (the [[Hac]]/[[Constrained]] precedent): both audits are
  * embarrassingly parallel across components via one
  * `groupByKey.flatMapGroups`; members cap (row_number over doc_id) BEFORE
  * the group shuffle and edges inner-join the capped member set on both
  * endpoints (plus component equality) BEFORE the shuffle, so a task holds
  * O(cap²) state however large the component. Overflow members pass
  * through labeled non-cut (bridges) / contribute no chain edge (MST) —
  * the shared bounded-state contract, documented per query.
  *
  * Determinism (golden-oracle contract): the cut-vertex set is
  * order-independent; the MST is unique under the total edge order
  * (d, src, dst) with min-root union, so independent rederivations match
  * bit-for-bit (GraphAuditSpec runs a remove-one-vertex-and-recount naive
  * cut check and an independently written Prim's).
  */
object GraphAudit {

  /** Cut vertices of the graph over `members` with `edges`, via iterative
    * Hopcroft–Tarjan DFS (disc/low arrays; a root is a cut vertex iff it
    * has ≥ 2 DFS children, a non-root iff some child's low ≥ its disc).
    * Neighbor order does not affect the result; it is fixed (ascending)
    * anyway so traversal is reproducible under debugging.
    */
  private[graft] def cutVertices(members: Seq[Long],
                                 edges: Seq[(Long, Long)]): Set[Long] = {
    val idx = members.sorted.zipWithIndex.toMap
    val n = idx.size
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) =>
      (idx.get(a), idx.get(b)) match {
        case (Some(i), Some(j)) if i != j =>
          adj(i) = j :: adj(i); adj(j) = i :: adj(j)
        case _ =>
      }
    }
    for (i <- 0 until n) adj(i) = adj(i).distinct.sorted
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val cut = Array.fill(n)(false)
    var timer = 0
    // iterative DFS: stack frames of (node, parent, remaining neighbors)
    for (root <- 0 until n if disc(root) == -1) {
      var rootChildren = 0
      var stack = List((root, -1, adj(root)))
      disc(root) = timer; low(root) = timer; timer += 1
      while (stack.nonEmpty) {
        val (u, parent, rest) = stack.head
        rest match {
          case v :: more =>
            stack = (u, parent, more) :: stack.tail
            if (disc(v) == -1) {
              if (u == root) rootChildren += 1
              disc(v) = timer; low(v) = timer; timer += 1
              stack = (v, u, adj(v)) :: stack
            } else if (v != parent) {
              low(u) = math.min(low(u), disc(v))
            }
          case Nil =>
            stack = stack.tail
            if (parent != -1) {
              low(parent) = math.min(low(parent), low(u))
              if (parent != root && low(u) >= disc(parent)) cut(parent) = true
            }
        }
      }
      if (rootChildren >= 2) cut(root) = true
    }
    val rev = idx.map(_.swap)
    (0 until n).filter(cut).map(rev).toSet
  }

  /** Minimum spanning forest of the graph over `members` under the total
    * edge order (d, a, b): Kruskal with min-root union. Unique for a given
    * order, so deterministic. Returns kept edges in that order.
    */
  private[graft] def spanningForest(members: Seq[Long],
                                    edges: Seq[(Long, Long, Int)]): Seq[(Long, Long, Int)] = {
    val uf = new UnionFind[Long]
    members.foreach(uf.add)
    edges.filter(e => uf.contains(e._1) && uf.contains(e._2))
      .sortBy(e => (e._3, e._1, e._2))
      .filter { case (a, b, _) => uf.union(a, b) }
  }

  /** The shared capped slice ([[CappedSlices]], the group-size-bound
    * contract shared with [[Constrained.run]]): kind-0 member rows + kind-1
    * edge rows as one tagged relation keyed by component, plus the
    * overflow rows.
    */
  private def slices(cc: DataFrame, edges: DataFrame, cap: Int) = {
    val (capped, overflow) = CappedSlices.membership(cc, cap)
    val memK = CappedSlices.memberRows(capped)
    val eK = CappedSlices.tagged(edges.select(col("src"), col("dst"), col("d")),
      capped, "src", "dst", 1, Some("d"))
    (memK.unionByName(eK), overflow)
  }

  /** One row per member of a multi-member component: (doc_id, cluster_id,
    * is_cut) — is_cut = removal disconnects the component's capped graph.
    * Overflow members (rank > cap) pass through is_cut = false.
    */
  def bridges(cc: DataFrame, edges: DataFrame, cap: Int = 64)(
      spark: SparkSession): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    import spark.implicits._
    val (tagged, overflow) = slices(cc, edges, cap)
    tagged.as[(Long, Int, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.toVector
        val members = rows.collect { case (_, 0, m, _, _) => m }
        val es = rows.collect { case (_, 1, a, b, _) => (a, b) }
        val cuts = cutVertices(members, es)
        members.iterator.map(m => (m, cid, cuts.contains(m)))
      }
      .toDF("doc_id", "cluster_id", "is_cut")
      .unionByName(overflow.select(col("doc_id"), col("cluster_id"),
        lit(false).as("is_cut")))
  }

  /** The evidence chain: per component, the minimum-spanning-forest edges
    * under (d, src, dst) order — (cluster_id, src, dst, d), |C|−1 rows for
    * a connected capped slice. Overflow members contribute no edge.
    */
  def mstEdges(cc: DataFrame, edges: DataFrame, cap: Int = 64)(
      spark: SparkSession): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    import spark.implicits._
    val (tagged, _) = slices(cc, edges, cap)
    tagged.as[(Long, Int, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.toVector
        val members = rows.collect { case (_, 0, m, _, _) => m }
        val es = rows.collect { case (_, 1, a, b, d) => (a, b, d) }
        spanningForest(members, es).iterator.map { case (a, b, d) => (cid, a, b, d) }
      }
      .toDF("cluster_id", "src", "dst", "d")
  }
}
