package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Average-linkage hierarchical agglomerative clustering WITHIN connected
  * components — the classic record-linkage post-step (used by e.g. the
  * dedupe.io methodology: score pairs, block, then hierarchically cluster
  * within blocks) that splits over-merged transitive components: CC merges
  * a–b–c whenever a–b and b–c pass the edge threshold even if a and c are
  * unrelated; HAC keeps merging only while the best BETWEEN-CLUSTER average
  * linkage distance (mean of all cross-pair distances between the two
  * clusters) stays ≤ the cut — so the a|bc merge is refused when a sits far
  * from both b and c even though the chain connected them.
  *
  * Spark shape: clustering is embarrassingly parallel ACROSS components —
  * one `groupByKey(cluster_id).flatMapGroups` where each group runs an
  * exact O(k³) dendrogram locally. Members are capped
  * ([[CappedSlices.membership]], doc_id order) BEFORE the group shuffle, so an
  * adversarial million-member component costs O(cap²) state per task, never
  * O(k²); at 100 TB the millions of small components spread over all
  * executors and no component's work exceeds cap² = 1024 distances.
  *
  * Determinism (golden-oracle contract): cluster-to-cluster distance is the
  * exact integer pair (sumDist, cnt) — averages are compared by Long
  * cross-multiplication (s1·c2 vs s2·c1), never doubles; ties break on the
  * (min doc_id of A, min doc_id of B) lexicographic order; average-linkage
  * sums obey the exact Lance-Williams update sum(A∪B, C) = sum(A,C) +
  * sum(B,C). All values stay ≪ 2⁶³ (run() requires cap ≤ 1024; per-pair
  * dist ≤ text length).
  */
object Hac {
  import graft.text.JaroWinkler.levenshtein

  /** Run the exact dendrogram over one component's members (doc_id, text),
    * cutting when no remaining merge keeps average pairwise distance ≤ cut.
    * Returns (doc_id, hac_id = min doc_id of its subcluster, n_sub).
    */
  private[graft] def cluster(members: Seq[(Long, String)], cut: Int): Seq[(Long, Long, Int)] = {
    val docs = members.sortBy(_._1).toArray
    val k = docs.length
    if (k == 1) return Seq((docs(0)._1, docs(0)._1, 1))
    // live clusters as parallel arrays; cluster index i's min doc_id stays
    // docs(i)._1 because merges always fold the higher index into the lower
    val size = Array.fill(k)(1)
    val alive = Array.fill(k)(true)
    val memb = Array.tabulate(k)(i => List(docs(i)._1))
    // sumD(i)(j), i < j: total pairwise lev between clusters i and j
    val sumD = Array.ofDim[Long](k, k)
    for (i <- 0 until k; j <- i + 1 until k)
      sumD(i)(j) = levenshtein(docs(i)._2, docs(j)._2).toLong
    var merged = true
    while (merged) {
      merged = false
      // argmin average distance; exact fraction compare + lexicographic ties
      var bi = -1; var bj = -1; var bs = 0L; var bc = 0L
      var i = 0
      while (i < k) {
        if (alive(i)) {
          var j = i + 1
          while (j < k) {
            if (alive(j)) {
              val s = sumD(i)(j)
              val c = size(i).toLong * size(j)
              // s/c < bs/bc  ⇔  s·bc < bs·c (values ≤ 64²·len — no overflow)
              if (bi < 0 || s * bc < bs * c) { bi = i; bj = j; bs = s; bc = c }
            }
            j += 1
          }
        }
        i += 1
      }
      // merge only while the best pair's average stays within the cut
      if (bi >= 0 && bs <= cut.toLong * bc) {
        // Lance-Williams exact sum update: sum(A∪B, C) = sum(A,C) + sum(B,C)
        var c2 = 0
        while (c2 < k) {
          if (alive(c2) && c2 != bi && c2 != bj) {
            val sA = if (c2 < bi) sumD(c2)(bi) else sumD(bi)(c2)
            val sB = if (c2 < bj) sumD(c2)(bj) else sumD(bj)(c2)
            if (c2 < bi) sumD(c2)(bi) = sA + sB else sumD(bi)(c2) = sA + sB
          }
          c2 += 1
        }
        size(bi) += size(bj)
        memb(bi) = memb(bi) ++ memb(bj)
        alive(bj) = false
        merged = true
      }
    }
    (0 until k).filter(alive).flatMap { i =>
      val id = memb(i).min
      memb(i).map(d => (d, id, size(i)))
    }
  }

  /** (doc_id, cluster_id, hac_id, n_sub) for every member of a multi-member
    * component in `cc`, texts joined from `t` (doc_id, t) after the cap.
    * Members beyond `cap` per component (doc_id order) pass through as
    * their own subclusters — bounded like q_cluster_cohesion, true size
    * unreported here by design (cohesion already reports it).
    */
  def run(cc: DataFrame, t: DataFrame, cut: Int, cap: Int = 32)(
      spark: SparkSession): DataFrame = {
    // the argmin compare cross-multiplies (sum ≤ cap²·len) × (count ≤ cap²):
    // cap ≤ 1024 keeps the product < 2⁶³ for any text length ≤ 8M chars
    require(cap >= 1 && cap <= 1024, s"cap must be in [1, 1024], got $cap")
    import spark.implicits._
    val (capped, overflow) = CappedSlices.membership(cc, cap)
    val clustered = capped.join(t, "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("t"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.map(r => (r._2, r._3)).toSeq
        cluster(rows, cut).iterator.map { case (d, h, n) => (d, cid, h, n) }
      }
      .toDF("doc_id", "cluster_id", "hac_id", "n_sub")
    clustered.unionByName(overflow.select(col("doc_id"), col("cluster_id"),
      col("doc_id").as("hac_id"), lit(1).as("n_sub")))
  }
}
