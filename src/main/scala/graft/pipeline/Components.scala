package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative DataFrame connected components: alternating large-star /
  * small-star (Kiveris et al. 2014, "Connected Components in MapReduce and
  * Beyond"). Replaces the reference's serial greedy seed loop
  * (`dedupe.go:101-123`) with transitive clustering — SURVEY.md §2.5
  * documents why the semantics deviation is the intended one under the
  * pairwise-F1 north rule.
  *
  * Implementation notes for scale:
  *  - per-node neighborhood minima via window `min` — no collect_list, so a
  *    10⁸-degree hub never materializes an array;
  *  - every iteration ends in localCheckpoint to truncate lineage;
  *  - convergence = (edge count, order-independent XOR digest) fixpoint;
  *  - node ids stay strings (doc_id): 64-bit hashing would risk birthday
  *    collisions at the 10¹²-doc design point. cluster_id = min(doc_id)
  *    in the component.
  */
object Components {

  /** Undirected-edge normal form: (min, max) endpoints, self-loops
    * dropped, deduped — the shared head of every graph operator here.
    */
  private[pipeline] def normEdges(e: DataFrame): DataFrame = e
    .select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
    .filter(col("src") =!= col("dst"))
    .distinct()

  /** Both orientations of a normalized edge set, as (u, v). */
  private[pipeline] def symmetrize(e: DataFrame): DataFrame =
    e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))

  /** edges: (src, dst) string columns, undirected, self-loops tolerated.
    * Returns (doc_id, cluster_id) for every node that appears in an edge.
    *
    * Tiny edge sets (≤ driverCutoff rows after dedup) short-circuit to a
    * driver-local union-find: identical result, none of the per-iteration
    * shuffle/checkpoint fixed costs, which otherwise dominate when the
    * duplicate graph is a few thousand edges. At the 10¹²-doc design point
    * the distributed star iterations below are the path taken.
    */
  def connectedComponents(edges: DataFrame, maxIterations: Int = 50,
                          driverCutoff: Long = 200000)(
      implicit spark: SparkSession): DataFrame = {
    // lazy checkpoint: the count() below materializes and pins it in the
    // same job — the eager form paid a separate materialization job per
    // CC call (CC runs 10+ times per bench sweep)
    var e = normEdges(edges).localCheckpoint(false)

    if (e.count() <= driverCutoff) return driverUnionFind(e)

    var digest = edgeDigest(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      // lazy: edgeDigest's aggregate materializes + pins it
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextDigest = edgeDigest(next)
      converged = nextDigest == digest
      digest = nextDigest
      e = next
      it += 1
    }
    // Loud, not silent: reading a NON-fixpoint edge set as a union of
    // stars would emit several cluster_ids for one true component — the
    // same contract centerClusters and Swoosh.resolve already enforce.
    // (Alternating star rounds converge in O(log n) on real graphs; 50
    // covers components of ~2^50 nodes, so tripping this means a
    // too-small maxIterations, not a big input.)
    require(converged,
      s"connected components did not converge after $maxIterations " +
        "large-star/small-star rounds; pass a larger maxIterations")
    // At the fixpoint the edge set is a union of stars (child → component
    // min); roots appear only on the dst side.
    e.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(e.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
  }

  /** Center clustering (Haveliwala et al. 2000 "Scalable techniques for
    * clustering the web"; evaluated for dedup by Hassanzadeh & Miller,
    * VLDB'09): the radius-1 alternative to transitive CC — a chain
    * a−b−c−d yields ONE component under CC but centers {a, c} here, so
    * drifting near-dup chains cannot over-merge. Semantics = the
    * sequential greedy by ascending node id: an unassigned node becomes a
    * CENTER; its unassigned neighbors join it.
    *
    * Parallel derivation (provably equal to the greedy):
    *  - the center set is exactly the lexicographically-first maximal
    *    independent set (u is a center iff no adjacent center < u);
    *    round k peels the local minima of the ACTIVE subgraph — a peeled
    *    local min u has no remaining smaller neighbor, and every removed
    *    smaller neighbor was either a center (then u would have been
    *    removed as claimed) or claimed (non-center, final), so u is a
    *    true MIS member; nodes that lose all neighbors without being
    *    claimed have no adjacent center and join the MIS by maximality;
    *  - claims are NOT finalized during the rounds: a node adjacent to a
    *    round-1 center may belong to a SMALLER round-2 center (e.g.
    *    1−2, 2−3, 3−6, 5−6: node 6 touches round-1 center 5 but the
    *    greedy assigns it to center 3). After the MIS converges, one
    *    join assigns every non-center to its MIN adjacent center — the
    *    first center the sequential greedy would have processed. Two
    *    centers are never adjacent, so the assignment covers exactly
    *    the non-centers.
    *
    * Scale shape: per round one groupBy-min plus two anti-joins, all on
    * the shrinking active edge set, localCheckpoint-truncated like the
    * star iterations. Round count = the longest strictly-increasing id
    * path in the graph — O(1)-ish on blocked near-dup components (tiny
    * diameter by construction), adversarially O(n) on a sorted path
    * graph, hence the loud maxIterations failure rather than a silent
    * partial result. Tiny edge sets short-circuit to the sequential
    * greedy itself on the driver.
    */
  def centerClusters(edges: DataFrame, maxIterations: Int = 100,
                     driverCutoff: Long = 200000)(
      implicit spark: SparkSession): DataFrame = {
    // lazy: count() materializes (the connectedComponents treatment)
    val norm = normEdges(edges).localCheckpoint(false)
    if (norm.count() <= driverCutoff) return driverCenter(norm)

    val symAll = symmetrize(norm).localCheckpoint(true)
    val centersAll = lexFirstMis(symAll, maxIterations)
    // adjacent centers are impossible (MIS), so grouping the center-side
    // edges by the other endpoint enumerates exactly the non-centers
    val assigned = symAll
      .join(centersAll.withColumnRenamed("c", "v"), Seq("v"))
      .groupBy("u").agg(min(col("v")).as("center_id"))
      .select(col("u").as("doc_id"), col("center_id"))
    centersAll.select(col("c").as("doc_id"), col("c").as("center_id"))
      .union(assigned)
  }

  /** Lexicographically-first maximal independent set of the undirected
    * graph given as a SYMMETRIC (u, v) edge relation — the center set of
    * the sequential greedy (u is in the MIS iff no adjacent MIS member
    * < u). Round k peels the local minima of the active subgraph; the
    * correctness argument lives on [[centerClusters]], which this peel was
    * extracted from. Shared by center clustering and canopy blocking
    * ([[Canopy]], where removal-by-tight-edge makes the canopy center set
    * exactly this MIS on the tight graph). Returns one column `c`
    * covering the MIS over nodes that appear in ≥ 1 edge.
    */
  private[graft] def lexFirstMis(symAll: DataFrame, maxIterations: Int = 100)(
      implicit spark: SparkSession): DataFrame = {
    var sym = symAll
    var centerParts = List.empty[DataFrame]
    var it = 0
    while (!sym.isEmpty) {
      require(it < maxIterations,
        s"lexFirstMis: no fixpoint after $maxIterations rounds " +
          "(pathological monotone chain — raise maxIterations)")
      val mn = sym.groupBy("u").agg(min("v").as("mn"))
      val c = mn.filter(col("mn") > col("u")).select(col("u").as("c"))
        .localCheckpoint(true)
      val claimed = sym.join(c.withColumnRenamed("c", "v"), Seq("v"))
        .select(col("u")).distinct()
      val removed = c.select(col("c").as("u")).union(claimed)
        .localCheckpoint(true)
      val before = sym.select(col("u")).distinct()
      val next = sym
        .join(removed, Seq("u"), "left_anti")
        .join(removed.withColumnRenamed("u", "v"), Seq("v"), "left_anti")
        .select("u", "v").localCheckpoint(true)
      val isolated = before
        .join(removed, Seq("u"), "left_anti")
        .join(next.select(col("u")).distinct(), Seq("u"), "left_anti")
        .select(col("u").as("c"))
      centerParts = c.union(isolated).localCheckpoint(true) :: centerParts
      sym = next
      it += 1
    }
    centerParts
      .reduceOption(_ union _)
      .getOrElse(symAll.select(col("u").as("c")).limit(0))
      .localCheckpoint(true)
  }

  /** The definition itself: sequential greedy by ascending id. A node is
    * its own center exactly when it is in the lex-first MIS, so
    * [[Canopy]]'s driver fast path reuses this for the center set.
    */
  private[pipeline] def driverCenter(e: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val arr = e.select("src", "dst").collect()
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    arr.foreach { r =>
      adj.getOrElseUpdate(r.get(0), scala.collection.mutable.ArrayBuffer.empty) += r.get(1)
      adj.getOrElseUpdate(r.get(1), scala.collection.mutable.ArrayBuffer.empty) += r.get(0)
    }
    val nodes = adj.keys.toArray.sorted(nodeOrder)
    val assigned = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
    nodes.foreach { u =>
      if (!assigned.contains(u)) {
        assigned(u) = u
        adj(u).foreach(v => if (!assigned.contains(v)) assigned(v) = u)
      }
    }
    labeledFrame(assigned.iterator, assigned.size,
      e.schema("src").dataType, "center_id")
  }

  /** large-star: per node u, connect every strictly-larger neighbor to
    * min(Γ(u) ∪ {u}).
    */
  private[pipeline] def largeStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    val w = Window.partitionBy("u")
    sym.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: orient edges toward the smaller endpoint; per node u,
    * connect u and all its smaller neighbors to the minimum one.
    */
  private[pipeline] def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val w = Window.partitionBy("u")
    val withM = oriented.withColumn("m", min(col("v")).over(w))
    val children = withM.filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
    val selfEdge = withM.select(col("u").as("src"), col("m").as("dst"))
    children.union(selfEdge)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  // node ids keep the edge column's type (string doc_ids in the pipeline,
  // but any orderable key works — the SQL-facing CC query uses bigints)
  private val nodeOrder: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** (node, label) pairs → a (doc_id, `labelCol`) DataFrame with the edge
    * column's key type — the shared tail of both driver fast paths.
    */
  private def labeledFrame(pairs: Iterator[(Any, Any)], n: Int,
                           keyType: org.apache.spark.sql.types.DataType,
                           labelCol: String)(
      implicit spark: SparkSession): DataFrame = {
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    pairs.foreach { case (node, label) =>
      out.add(org.apache.spark.sql.Row(node, label))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", keyType),
      org.apache.spark.sql.types.StructField(labelCol, keyType))))
  }

  private def driverUnionFind(e: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val uf = new UnionFind[Any]()(nodeOrder)
    val arr = e.select("src", "dst").collect()
    arr.foreach { row =>
      uf.add(row.get(0)); uf.add(row.get(1))
      uf.union(row.get(0), row.get(1))
    }
    val nodes = (arr.iterator.map(_.get(0)) ++ arr.iterator.map(_.get(1))).toSet
    labeledFrame(nodes.iterator.map(n => n -> uf.find(n)), nodes.size,
      e.schema("src").dataType, "cluster_id")
  }

  private def edgeDigest(e: DataFrame): (Long, Long) = {
    val row = e.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("x")).collect()(0)
    (row.getLong(0), row.getLong(1))
  }
}
