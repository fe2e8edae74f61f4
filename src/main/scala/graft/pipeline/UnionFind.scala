package graft.pipeline

/** Path-compressing union-find whose every root is the minimum of its set
  * under `ord`, so a set's root IS its id (the min doc_id). Shared by
  * [[Components]]' driver fast path, [[Constrained]] and [[GraphAudit]].
  */
private[pipeline] final class UnionFind[K](implicit ord: Ordering[K]) {
  private val parent = scala.collection.mutable.HashMap.empty[K, K]

  def add(x: K): Unit = if (!parent.contains(x)) parent(x) = x

  def contains(x: K): Boolean = parent.contains(x)

  def find(x: K): K = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Merge under the smaller root; false when `a` and `b` already share one. */
  def union(a: K, b: K): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb; true }
  }
}
