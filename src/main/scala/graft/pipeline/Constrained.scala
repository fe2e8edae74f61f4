package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pairwise-constrained clustering within connected components — the
  * labeled-feedback primitive of interactive entity resolution
  * (dedupe.io-style active labeling, Wagstaff & Cardie's COP constraint
  * semantics): a reviewer labels pairs "same entity" (must-link) or "not
  * the same entity" (cannot-link), and the clusterer must keep every
  * cannot pair in different clusters and pull every must pair together
  * ahead of any scored evidence, while still merging everything the
  * scored edges justify.
  *
  * Semantics: greedy constrained single-linkage. Within each component,
  * must-links are processed FIRST (ascending by (a, b)), then scored edges
  * ascending by (distance, src, dst); a union is applied unless it would
  * place some cannot-link pair in one cluster — then it is skipped
  * (cannot-links are HARD and outrank must-links: a must pair whose union
  * would violate a cannot constraint is dropped, the graceful resolution
  * of contradictory labels; the chain a–b–c with a⊥c resolves to
  * {a,b}|{c} or {a}|{b,c} by whichever of a–b / b–c binds first — a
  * must-link always beats a scored edge, otherwise the better score wins,
  * which is exactly the reviewer-override behavior wanted). With zero
  * constraints this degenerates to plain connected components over the
  * same edges (asserted in ConstrainedSpec), so the operator is a strict
  * generalization of [[Components.connectedComponents]] for the
  * labeled-feedback case.
  *
  * Spark shape (the [[Hac]] precedent): clustering is embarrassingly
  * parallel ACROSS components — members, edges, and constraints are keyed by
  * component id and one `groupByKey.flatMapGroups` runs an exact sequential
  * union-find per group. Members are capped (row_number over doc_id) BEFORE
  * the group shuffle and edges/constraints are semi-joined against the
  * capped member set BEFORE the shuffle too, so a group never holds more
  * than cap members + cap² edges — an adversarial million-member component
  * costs O(cap²) state per task, never O(k²). Overflow members pass through
  * as their own subclusters (the bounded-state contract shared with
  * [[Hac.run]] and q_cluster_cohesion). At 100 TB constraints are a tiny
  * labeled relation and components spread over all executors; nothing here
  * is driver-side.
  *
  * Determinism (golden-oracle contract): the edge order is a total sort on
  * (d, src, dst); union always folds the larger root id into the smaller, so
  * a subcluster's id IS its minimum doc_id with no separate pass. (The
  * violation check is order-independent — an existence test over the
  * cannot set.) Independent sequential rederivations match bit-for-bit
  * (ConstrainedSpec).
  */
object Constrained {

  /** Run greedy constrained single-linkage over one component's capped
    * slice. `members` are the capped doc_ids; `edges` (a, b, d), `cannot`
    * (x, y), and `must` (x, y) reference only capped members (run()
    * guarantees it). Must-links union before any scored edge but never
    * through a cannot-link violation.
    * Returns (doc_id, ccl_id = min doc_id of its subcluster, n_sub).
    */
  private[graft] def cluster(members: Seq[Long], edges: Seq[(Long, Long, Int)],
                             cannot: Seq[(Long, Long)],
                             must: Seq[(Long, Long)] = Nil): Seq[(Long, Long, Int)] = {
    val uf = new UnionFind[Long]
    members.foreach(uf.add)
    // drop dangling references defensively (run() already filters both
    // endpoints against the capped set; a caller wiring raw relations
    // should not corrupt the union-find)
    val cl = cannot.filter(p => uf.contains(p._1) && uf.contains(p._2))
    // must-links lead the union order as pseudo-edges: ordering comes from
    // the CONCATENATION below (lead ++ sorted scored edges), not from the
    // sentinel distance — the Int.MinValue is decorative padding for the
    // shared tuple shape; must pairs order among themselves by (a, b)
    val lead = must.filter(p => uf.contains(p._1) && uf.contains(p._2))
      .sorted.map(p => (p._1, p._2, Int.MinValue))
    val ordered = lead ++ edges
      .filter(e => uf.contains(e._1) && uf.contains(e._2))
      .sortBy(e => (e._3, e._1, e._2))
    ordered.foreach { case (a, b, _) =>
      val ra = uf.find(a); val rb = uf.find(b)
      if (ra != rb) {
        val violates = cl.exists { case (x, y) =>
          val rx = uf.find(x); val ry = uf.find(y)
          (rx == ra && ry == rb) || (rx == rb && ry == ra)
        }
        // min-root union keeps every root the min doc_id of its subcluster
        if (!violates) uf.union(ra, rb)
      }
    }
    val size = scala.collection.mutable.HashMap.empty[Long, Int]
    members.foreach { m => val r = uf.find(m); size(r) = size.getOrElse(r, 0) + 1 }
    members.map { m => val r = uf.find(m); (m, r, size(r)) }
  }

  /** Constrained subclusters for every member of a multi-member component.
    *
    * @param cc     (doc_id, cluster_id) component membership — typically
    *               [[Components.connectedComponents]] over `edges`
    * @param edges  (src, dst, d) scored must-link candidate edges; an edge's
    *               endpoints always share a component when `cc` was built
    *               from the same relation
    * @param cannot (a, b) reviewer cannot-link pairs; pairs crossing two
    *               components are vacuous and dropped (they are already
    *               satisfied), as are pairs touching an overflow member
    * @param must   (a, b) reviewer must-link pairs, same component/cap
    *               filtering as `cannot`; unioned before any scored edge,
    *               skipped if the union would violate a cannot-link
    * @param cap    members per component entering the exact solver; the rest
    *               pass through as singleton subclusters
    * @return (doc_id, cluster_id, ccl_id, n_sub) — one row per member of a
    *         multi-member component; ccl_id is the min doc_id of the
    *         constrained subcluster
    */
  def run(cc: DataFrame, edges: DataFrame, cannot: DataFrame,
          must: Option[DataFrame] = None, cap: Int = 64)(
      spark: SparkSession): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    import spark.implicits._
    val (capped, overflow0) = CappedSlices.membership(cc, cap)
    val overflow = overflow0
      .select(col("doc_id"), col("cluster_id"),
        col("doc_id").as("ccl_id"), lit(1).as("n_sub"))
    // kind legend for the tagged relation: 0 = member, 1 = edge,
    // 2 = cannot-link, 3 = must-link (endpoint-filter contract in
    // [[CappedSlices.tagged]])
    val memK = CappedSlices.memberRows(capped)
    val eK = CappedSlices.tagged(edges.select(col("src"), col("dst"), col("d")),
      capped, "src", "dst", 1, Some("d"))
    val cK = CappedSlices.tagged(cannot.select(col("a"), col("b")),
      capped, "a", "b", 2, None)
    val mK = must.map(ml => CappedSlices.tagged(ml.select(col("a"), col("b")),
      capped, "a", "b", 3, None))
    val relation = mK.foldLeft(memK.unionByName(eK).unionByName(cK))(_ unionByName _)
    val solved = relation
      .as[(Long, Int, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.toVector
        val members = rows.collect { case (_, 0, m, _, _) => m }
        val es = rows.collect { case (_, 1, a, b, d) => (a, b, d) }
        val cls = rows.collect { case (_, 2, a, b, _) => (a, b) }
        val mls = rows.collect { case (_, 3, a, b, _) => (a, b) }
        cluster(members, es, cls, mls).iterator
          .map { case (m, r, n) => (m, cid, r, n) }
      }
      .toDF("doc_id", "cluster_id", "ccl_id", "n_sub")
    solved.unionByName(overflow)
  }
}
