package graft

import graft.text.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Independent value-level cross-checks for golden-snapshot oracles
  * (round-2 verdict item 6): golden parquet locks determinism, not
  * correctness — a kernel bug present at GoldenGen time would freeze green.
  * These tests re-derive the expected VALUES from first principles
  * (exact set Jaccard computed outside the MinHash kernel; the known
  * construction of the compare probe), so a frozen-wrong golden fails here.
  */
class CrossCheckSpec extends AnyFunSuite with SparkTestBase {

  private val dir = SparkTestBase.Sf001Dir

  test("q_minhash_lsh: banded estimates track EXACT shingle Jaccard; no high-Jaccard pair missed") {
    val rows = SparkEntry.queries("q_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0).toString -> r.getString(1)).toMap
    val shingleSets: Map[String, Set[Long]] =
      texts.map { case (id, t) => id -> Tokenize.shingleHashes(t, 5).toSet }

    def exactJaccard(a: String, b: String): Double = {
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      if (sa.isEmpty && sb.isEmpty) 0.0
      else {
        val inter = sa.count(sb.contains)
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }

    // precision + estimator accuracy: every emitted estimate is close to the
    // true set Jaccard (128 minhash slots: stderr ~ sqrt(j(1-j)/128) < 0.045,
    // so 0.15 is a > 3-sigma bound), and emitted pairs are genuinely similar
    rows.foreach { case (a, b, est) =>
      val exact = exactJaccard(a, b)
      assert(math.abs(est - exact) <= 0.15, s"($a,$b): est=$est exact=$exact")
      assert(exact >= 0.3, s"($a,$b): emitted but true Jaccard only $exact")
    }

    // recall: EVERY pair with true Jaccard >= 0.8 must be emitted (such a
    // pair misses all 32 bands w.p. (1-0.8^4)^32 ~ 1e-4, and its estimate
    // clears the 0.5 cut w.p. ~ 1) — checked against the full O(n^2) truth
    val ids = shingleSets.keys.toSeq.sortBy(_.toLong)
    val emitted = rows.map { case (a, b, _) => (a, b) }.toSet
    var checked = 0
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      if (exactJaccard(a, b) >= 0.8) {
        checked += 1
        // the query orders pairs by STRING doc_id ("245" < "8")
        val key = if (a < b) (a, b) else (b, a)
        assert(emitted.contains(key), s"high-Jaccard pair $key not emitted")
      }
    }
    assert(checked > 0, "corpus has no high-Jaccard pairs to check recall on")
  }

  test("sBandKeys kernel matches the DuckDB band-key definition on fixed vectors") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // expected values computed by running the oracle CTE's expressions in
    // DuckDB verbatim (28-bit md5 shingle hash -> 12 affine mins mod the
    // prime -> position-tagged keys); covers short/empty/exact-8 edge cases
    val vectors = Seq(
      "hello world this is a band-key parity vector for the graft" -> Seq(
        "0:34947720:53674115:58104872", "1:1228485:11980268:9610189",
        "2:7734319:2326464:24231415", "3:8845198:15365708:49162193"),
      "tiny" -> Seq(
        "0:166395487:734688631:271171135", "1:188682302:117647183:865273591",
        "2:195672476:983683396:165406410", "3:463864311:118087908:270948393"),
      "" -> Seq(
        "0:623475597:668093428:18914732", "1:655480589:655926022:396514411",
        "2:375560391:663463870:608812591", "3:185775381:374277659:458001997"),
      "exactly8" -> Seq(
        "0:804006203:600787964:1066334935", "1:21123125:157240778:399249980",
        "2:157281825:107393878:405980443", "3:713421706:925322600:351030566"))
    val got = vectors.map(_._1).toDF("text")
      .select(SparkEntry.sBandKeys(col("text")).as("keys"))
      .collect().map(_.getSeq[String](0).toSeq)
    vectors.map(_._2).zip(got).foreach { case (want, have) =>
      assert(have == want, s"want $want got $have")
    }
  }

  test("q_simhash: banded emission is exact-precision and pigeonhole-complete for d<=3") {
    // the query blocks on 4 bands of 16 bits (2^-16 selectivity — the
    // scale-correct choice; 16 narrow bands would bucket 102k docs into 16
    // values per band = quadratic). Pigeonhole therefore GUARANTEES recall
    // only for d <= bands-1 = 3; d in 4..7 is probabilistic by contract.
    // Independent check: (1) every emitted (a,b,d) matches the brute-force
    // distance (precision is exact), (2) every all-pairs d<=3 pair is
    // emitted (the guaranteed-recall region has no misses).
    import graft.text.SimHash
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0).toString -> r.getString(1))
    val hashes = texts.map { case (id, t) => id -> SimHash.simhash64(t) }
    val brute = (for {
      i <- hashes.indices.iterator
      j <- (i + 1) until hashes.length
      d = java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2)
      if d < 8
    } yield {
      val (a, b) = (hashes(i)._1, hashes(j)._1)
      if (a < b) ((a, b), d) else ((b, a), d)
    }).toMap
    val emitted = SparkEntry.queries("q_simhash")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getInt(2))).toMap
    emitted.foreach { case (pair, d) =>
      assert(brute.get(pair).contains(d), s"$pair: emitted d=$d, brute=${brute.get(pair)}")
    }
    val guaranteed = brute.filter(_._2 <= 3)
    assert(guaranteed.nonEmpty)
    guaranteed.foreach { case (pair, d) =>
      assert(emitted.contains(pair), s"pigeonhole miss: $pair at d=$d")
    }
  }

  test("q_compare_target: the perturbed probe links back to exactly doc 7") {
    // the probe is CONSTRUCTED from doc 7's text with one middle word
    // dropped, so the correct duplicate set is {7} — independent of any
    // golden snapshot
    val rows = SparkEntry.queries("q_compare_target")(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("7"), rows.mkString(", "))
    assert(rows.head.getDouble(1) >= 0.67, s"score ${rows.head.getDouble(1)} below tau")
  }

  test("q_ann_lsh: full output re-derived from first principles (sign bits, bands, cosine) matches exactly") {
    // From-scratch JVM mirror of the whole operator — sign hash from raw
    // floats, 8 bands of 8 bits, bucket-sharing candidacy, sequential-fold
    // cosine, HALF_UP round, strict > 0.3 — sharing NO code with the Spark
    // column expressions. A frozen-wrong golden (or a kernel bug in
    // signHash/dotCol/normCol) diverges here.
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def signHash(v: Array[Float]): Long = {
      var h = 0L; var i = 0
      while (i < 63) { if (v(i) > 0f) h |= (1L << i); i += 1 }
      h
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = vecs.toSeq.flatMap { case (id, v) =>
      val h = signHash(v)
      (0 until 8).map(i => (s"$i:${(h >> (i * 8)) & 0xffL}", id))
    }.groupBy(_._1).values
    val candPairs: Set[(Long, Long)] = byBucket.flatMap { members =>
      val ids = members.map(_._2).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    val expected = candPairs.toSeq
      .map(p => (p, cos(vecs(p._1), vecs(p._2))))
      .filter(_._2 > 0.3).toMap
    val emitted = SparkEntry.queries("q_ann_lsh")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(emitted.nonEmpty)
    assert(emitted.keySet == expected.keySet,
      s"pair-set diff: extra=${(emitted.keySet -- expected.keySet).take(5)} " +
        s"missing=${(expected.keySet -- emitted.keySet).take(5)}")
    emitted.foreach { case (pair, c) =>
      assert(math.abs(c - expected(pair)) < 1e-9, s"$pair: emitted $c vs recomputed ${expected(pair)}")
    }
  }

  /** Independent winnowing: normalization spelled out locally, shingles
    * via String.sliding, window minimum via a monotonic deque (O(n))
    * instead of the kernel's O(n·w) rescan + TreeSet. Only Hashing.hash64
    * is shared (it is the fingerprint's definition). Used by the
    * q_fingerprint and q_doc_stats cross-checks.
    */
  private def winnowIndep(text: String): Array[Long] = {
    val norm = Option(text).getOrElse("").toLowerCase.replaceAll("\\s+", " ").trim
    val grams: Seq[String] =
      if (norm.isEmpty) Seq.empty
      else if (norm.length <= 8) Seq(norm)
      else norm.sliding(8).toSeq
    if (grams.isEmpty) return Array.empty
    val hs = grams.map(graft.text.Hashing.hash64(_)).toArray
    if (hs.length <= 4) return Array(hs.min)
    val mins = scala.collection.mutable.SortedSet[Long]()
    val dq = new java.util.ArrayDeque[Int]()
    for (i <- hs.indices) {
      while (!dq.isEmpty && hs(dq.peekLast()) >= hs(i)) dq.pollLast()
      dq.addLast(i)
      if (dq.peekFirst() <= i - 4) dq.pollFirst()
      if (i >= 3) mins += hs(dq.peekFirst())
    }
    mins.toArray
  }

  test("q_fingerprint: winnowing re-derived with a different algorithm (deque sliding-min) matches per doc") {
    // A frozen-wrong golden — or a window/boundary bug in
    // TextStats.winnow — diverges from [[winnowIndep]] here.
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emitted = SparkEntry.queries("q_fingerprint")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(emitted.keySet == texts.keySet)
    texts.foreach { case (id, t) =>
      val fp = winnowIndep(t)
      val want = (fp.length, if (fp.isEmpty) 0L else fp.min)
      assert(emitted(id) == want, s"doc $id: emitted ${emitted(id)} vs rederived $want")
    }
  }

  test("q_doc_stats: n_fingerprints column matches the independent deque-winnowing rederivation") {
    // partial independent coverage for the q_doc_stats golden: the
    // winnowing count is rederived with the different algorithm from the
    // q_fingerprint check (sliding shingles + monotonic deque); the other
    // columns' kernels are covered by TextKernelSpec and by q_quality's
    // SQL-mirrored formula
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emitted = SparkEntry.queries("q_doc_stats")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(emitted.keySet == texts.keySet)
    texts.foreach { case (id, t) =>
      val want = winnowIndep(t).length
      assert(emitted(id) == want,
        s"doc $id: n_fingerprints ${emitted(id)} vs rederived $want")
    }
  }

  test("q_ann_ivf: centroids, cells, probes and top-k re-derived sequentially match exactly") {
    // From-scratch mirror of the whole IVF operator: Lloyd's iterations,
    // cell argmax, nprobe selection, candidate generation, cosine and the
    // (cos desc, n) ranking are all re-implemented here with independent
    // code; only the sample ORDER (Spark's xxhash64 builtin) is taken from
    // the engine, because it defines which rows the fit sees.
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val vecs = rows.toMap
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val sampleIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id")).orderBy(xxhash64(col("vec_id"), lit(42L)), col("vec_id"))
      .limit(512).collect().map(_.getLong(0))
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def dotD(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val sample = sampleIds.map(id => vecs(id).map(_.toDouble))
    var cents = sample.take(8).map(normalize)
    for (_ <- 0 until 5) {
      val assign = sample.map(v => cents.indices.maxBy(c => (dotD(cents(c), v), -c)))
      cents = cents.indices.toArray.map { c =>
        val mine = sample.zip(assign).collect { case (v, a) if a == c => v }
        if (mine.isEmpty) cents(c)
        else normalize(mine.transpose.map(_.sum))
      }
    }
    val model = graft.ann.Ivf.fit(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "vec_id", k = 8)
    model.centroids.zip(cents).zipWithIndex.foreach { case ((got, want), c) =>
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"centroid $c: $g vs $w")
      }
    }
    // operator semantics: cell = argmax dot (first wins on tie), probes =
    // top-4 cells by (dot desc, cell asc), neighbours from probed cells only
    def dotF(c: Array[Double], v: Array[Float]): Double =
      v.indices.foldLeft(0.0)((s, i) => s + c(i) * v(i))
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.indices.maxBy(c => (dotF(cents(c), v), -c))
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = vecs.keys.filter(_ < 50).toSeq.sorted.flatMap { q =>
      val probes = cents.indices
        .sortBy(c => (-dotF(cents(c), vecs(q)), c)).take(4).toSet
      vecs.keys.filter(n => n != q && probes.contains(cellOf(n))).toSeq
        .map(n => (n, cos(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3).zipWithIndex
        .map { case ((n, c), i) => (q, n, i + 1, c) }
    }
    val emitted = SparkEntry.queries("q_ann_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(emitted == expected,
      s"first diff: ${emitted.zip(expected).find(p => p._1 != p._2)}")
  }

  test("q_ann_recall: recall@10 re-derived sequentially (brute truth + per-nprobe IVF)") {
    // Independent mirror of the whole evaluator: brute-force exact top-10
    // per query, then for each nprobe the probed-cell candidate set,
    // top-10 by (cos desc, n), and the hit count — all in plain Scala.
    // The model comes from Ivf.fit (its Lloyd's iterations have their own
    // from-scratch rederivation in the q_ann_ivf test above).
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val vecs = rows.toMap
    val model = graft.ann.Ivf.fit(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "vec_id", k = 8)
    val cents = model.centroids
    def dotF(c: Array[Double], v: Array[Float]): Double =
      v.indices.foldLeft(0.0)((s, i) => s + c(i) * v(i))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.indices.maxBy(c => (dotF(cents(c), v), -c))
    }
    val qs = vecs.keys.filter(_ < 50).toSeq.sorted
    val truth: Map[Long, Set[Long]] = qs.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(10).map(_._1).toSet
    }.toMap
    val nTruth = truth.values.map(_.size).sum
    val expected = Seq(1, 2, 4).map { np =>
      val hits = qs.map { q =>
        val probes = cents.indices
          .sortBy(c => (-dotF(cents(c), vecs(q)), c)).take(np).toSet
        val got = vecs.keys.filter(n => n != q && probes.contains(cellOf(n))).toSeq
          .map(n => (n, cos(vecs(q), vecs(n))))
          .sortBy { case (n, c) => (-c, n) }.take(10).map(_._1).toSet
        (truth(q) & got).size
      }.sum
      (np, hits.toLong, nTruth.toLong,
        BigDecimal(hits.toDouble / nTruth)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val emitted = SparkEntry.queries("q_ann_recall")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(emitted == expected, s"emitted=$emitted expected=$expected")
    // the curve is a real trade on isotropic data: monotone, with
    // nprobe=1 strictly below nprobe=4
    assert(expected.map(_._4) == expected.map(_._4).sorted)
    assert(expected.head._4 < expected.last._4)
  }

  // ---- shared plain-Scala PQ mirror (q_ann_pq + q_ann_ivfpq rederivations):
  // per-subspace Lloyd k-means, code argmin, ADC — all independent code;
  // only the sample ORDER (Spark's xxhash64 builtin) is taken from the
  // engine, because it defines which rows the fit sees and the fp order of
  // the centroid sums — the same convention as the q_ann_ivf rederivation.
  private val pqDim = 64
  private lazy val pqVecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private lazy val pqSample: Array[Array[Double]] = {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id")).orderBy(xxhash64(col("vec_id"), lit(42L)), col("vec_id"))
      .limit(512).collect().map(r => pqVecs(r.getLong(0)).map(_.toDouble))
  }

  private def fitPqMirror(m: Int, k: Int): Array[Array[Array[Double]]] = {
    val sub = pqDim / m
    Array.tabulate(m) { s0 =>
      val svs = pqSample.map(v => v.slice(s0 * sub, (s0 + 1) * sub))
      var cents = svs.take(k).map(_.clone())
      def sqD(cent: Array[Double], v: Array[Double]): Double = {
        var d = 0.0; var i = 0
        while (i < sub) { val t = v(i) - cent(i); d += t * t; i += 1 }
        d
      }
      for (_ <- 0 until 5) {
        val assign = svs.map(v => cents.indices.minBy(c => (sqD(cents(c), v), c)))
        cents = cents.indices.toArray.map { c =>
          val mine = svs.zip(assign).collect { case (v, a) if a == c => v }
          if (mine.isEmpty) cents(c)
          else mine.transpose.map(_.sum / mine.length)
        }
      }
      cents
    }
  }

  /** Encode every corpus vector: per-subspace argmin over the double-cast
    * full vector (ties → lowest index).
    */
  private def pqCodesMirror(cbs: Array[Array[Array[Double]]]): Map[Long, Array[Int]] = {
    val m = cbs.length
    val sub = pqDim / m
    pqVecs.map { case (id, v) =>
      val vd = v.map(_.toDouble)
      id -> Array.tabulate(m) { s0 =>
        cbs(s0).indices.minBy { c =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = vd(s0 * sub + i) - cbs(s0)(c)(i); d += t * t; i += 1 }
          (d, c)
        }
      }
    }
  }

  /** ADC: sum over subspaces of dot(query subvector, coded centroid). */
  private def pqAdcMirror(cbs: Array[Array[Array[Double]]],
                          q: Array[Float], code: Array[Int]): Double = {
    val sub = pqDim / cbs.length
    var sc = 0.0; var s0 = 0
    while (s0 < cbs.length) {
      var d = 0.0; var i = 0
      while (i < sub) { d += q(s0 * sub + i).toDouble * cbs(s0)(code(s0))(i); i += 1 }
      sc += d
      s0 += 1
    }
    sc
  }

  /** Exact inner-product truth: top-10 ids by (dot desc, n) per query,
    * left-to-right double fold.
    */
  private lazy val pqTruth: Map[Long, Set[Long]] = {
    def dotExact(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < pqDim) { d += a(i).toDouble * b(i).toDouble; i += 1 }
      d
    }
    pqVecs.keys.filter(_ < 50).toSeq.sorted.map { q =>
      q -> pqVecs.keys.filter(_ != q).toSeq
        .map(n => (n, dotExact(pqVecs(q), pqVecs(n))))
        .sortBy { case (n, d) => (-d, n) }.take(10).map(_._1).toSet
    }.toMap
  }

  test("q_ann_pq: PQ fit, encode, ADC scores and recall re-derived from first principles") {
    val qs = pqTruth.keys.toSeq.sorted
    val nTruth = pqTruth.values.map(_.size).sum
    val expected = Seq(8, 16, 32).map { m =>
      val cbs = fitPqMirror(m, 16)
      val codeOf = pqCodesMirror(cbs)
      val hits = qs.map { q =>
        val got = pqVecs.keys.filter(_ != q).toSeq
          .map(n => (n, pqAdcMirror(cbs, pqVecs(q), codeOf(n))))
          .sortBy { case (n, s) => (-s, n) }.take(10).map(_._1).toSet
        (pqTruth(q) & got).size
      }.sum
      (m, m / 2, hits.toLong, nTruth.toLong,
        BigDecimal(hits.toDouble / nTruth)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val emitted = SparkEntry.queries("q_ann_pq")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(emitted == expected, s"emitted=$emitted expected=$expected")
    // the compression/recall curve is a real monotone trade on this corpus
    assert(expected.map(_._5) == expected.map(_._5).sorted)
    assert(expected.head._5 < expected.last._5)
  }

  test("q_ann_ivfpq: composed IVF pruning + PQ scoring re-derived, with the nprobe=8 pure-PQ anchor") {
    // Full mirror of the composed evaluator: IVF cell argmax + probe
    // selection (model from Ivf.fit — its Lloyd's has its own rederivation
    // above), candidate restriction to probed cells, ADC ranking within
    // them, per-nprobe hit counts. nprobe=8 probes every cell of the
    // 8-cell index, so its row must equal q_ann_pq's m=16 reading — pure
    // quantization loss with zero pruning loss.
    val ivf = graft.ann.Ivf.fit(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "vec_id", k = 8)
    val cents = ivf.centroids
    def dotF(c: Array[Double], v: Array[Float]): Double =
      v.indices.foldLeft(0.0)((s, i) => s + c(i) * v(i))
    val cellOf = pqVecs.map { case (id, v) =>
      id -> cents.indices.maxBy(c => (dotF(cents(c), v), -c))
    }
    val cbs = fitPqMirror(16, 16)
    val codeOf = pqCodesMirror(cbs)
    val qs = pqTruth.keys.toSeq.sorted
    val nTruth = pqTruth.values.map(_.size).sum
    val expected = Seq(2, 4, 8).map { np =>
      val hits = qs.map { q =>
        val probes = cents.indices
          .sortBy(c => (-dotF(cents(c), pqVecs(q)), c)).take(np).toSet
        val got = pqVecs.keys
          .filter(n => n != q && probes.contains(cellOf(n))).toSeq
          .map(n => (n, pqAdcMirror(cbs, pqVecs(q), codeOf(n))))
          .sortBy { case (n, s) => (-s, n) }.take(10).map(_._1).toSet
        (pqTruth(q) & got).size
      }.sum
      (np, hits.toLong, nTruth.toLong,
        BigDecimal(hits.toDouble / nTruth)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val emitted = SparkEntry.queries("q_ann_ivfpq")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(emitted == expected, s"emitted=$emitted expected=$expected")
    // probe-fraction monotonicity, and the full-probe anchor vs q_ann_pq
    assert(expected.map(_._4) == expected.map(_._4).sorted)
    val pqM16 = SparkEntry.queries("q_ann_pq")(spark, dir).collect()
      .find(_.getInt(0) == 16).get
    assert(expected.last._2 == pqM16.getLong(2) && expected.last._4 == pqM16.getDouble(4),
      s"nprobe=8 row ${expected.last} != pure-PQ m=16 anchor $pqM16")
  }

  test("q_audio_near_dups: pair set re-derived by sequential brute force over the real WAV fingerprints") {
    // The golden locks the distributed posexplode→equi-join→agg plumbing;
    // this re-derives the SAME answer with nested loops: every item pair,
    // count slots whose fingerprint values agree, keep >= 8. The WAV
    // synthesis + decode + fingerprint kernels are the shared definitions
    // (independently specced in MultimodalSpec); the distributed join is
    // what's rederived. The noisy re-records MUST land 8/8 — the
    // quantization-robustness property under test.
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 15 == 0).sorted
    val items: Seq[(String, Array[Long])] = ids.toSeq.flatMap { id =>
      val seed = graft.text.Hashing.hash64(s"aud-$id")
      def fp(noise: Double): Array[Long] =
        graft.media.Multimodal.pcmFingerprint(graft.media.Multimodal.decodeWavPcm(
          graft.media.SynthMedia.wavMelody(seed, noise = noise)).get)
      val base = (s"a$id", fp(0.0))
      if (id % 60 == 0) Seq(base, (s"a$id-re", fp(0.001))) else Seq(base)
    }
    val expected = (for {
      i <- items.indices
      j <- items.indices
      (da, fa) = items(i)
      (db, fb) = items(j)
      if da < db
      shared = (0 until 32).count(w => fa(w) == fb(w))
      if shared >= 8
    } yield ((da, db), shared.toLong)).toMap
    val emitted = SparkEntry.queries("q_audio_near_dups")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(expected.nonEmpty)
    assert(emitted == expected,
      s"extra=${(emitted.keySet -- expected.keySet).take(5)} missing=${(expected.keySet -- emitted.keySet).take(5)}")
  }

  test("q_pipeline_clusters: whole pipeline re-derived sequentially (all-pairs + union-find) matches exactly") {
    // The strongest golden check: the ENTIRE flagship pipeline — exact
    // pre-collapse, band candidacy (media tables + >= 2-text-band vote),
    // the simhash/media prefilter, the minhash gate, the fused decision
    // rule, connected components, singleton/copy expansion — re-derived
    // with plain Scala loops over ALL pairs and a hand-rolled union-find.
    // Candidacy is deterministic given the band-key kernels, so equality
    // is exact, not probabilistic. Shared with the engine: the signature
    // stage and band-key KERNELS (they are the definitions); everything
    // distributed — joins, votes, gates, CC, expansion — is independent
    // (JW via graft.text.JaroWinkler, not the codegen expression; edit
    // distance via a local DP, not Spark's levenshtein).
    import graft.model.{Doc, DocSig, Span}
    import graft.pipeline.{Blocking, GraftConfig, Signatures}
    import graft.text.{JaroWinkler, MinHash}
    val cfg = GraftConfig(mediaThreshold = 11)
    // the query's asDocs construction, replicated (part of its definition)
    val docs: Seq[Doc] = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        val spans = Seq(Span.text(r.getString(1), 0)) ++
          (if (id % 10 == 0) Seq(Span.media(s"synth://doc-${id / 10}", 1)) else Nil)
        Doc(id.toString, spans)
      }.toSeq
    val sigs: Map[String, DocSig] = Signatures
      .derive(spark.createDataset(docs)(org.apache.spark.sql.Encoders.product),
        cfg, graft.media.DefaultMedia)(spark)
      .map(_.sig)(org.apache.spark.sql.Encoders.product)
      .collect().map(s => s.doc_id -> s).toMap

    // exact pre-collapse: one representative (min doc_id) per identical
    // span sequence; the synthetic corpus usually has none — the grouping
    // is still modeled so the check cannot silently depend on that
    val repOf: Map[String, String] = docs
      .groupBy(d => d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)))
      .values.flatMap { g =>
        val rep = g.map(_.doc_id).min
        g.map(d => d.doc_id -> rep)
      }.toMap
    val reps = repOf.values.toSet.toSeq.sorted

    def bandKeys(s: DocSig): (Set[Long], Set[Long]) = (
      s.media.zipWithIndex.flatMap { case (h, i) =>
        Blocking.mediaBandKeys(h, cfg.mediaBlockBits, cfg.mediaBlocksPerKey, i % s.slots)
      }.toSet,
      if (s.minhash.nonEmpty) MinHash.bandKeys(s.minhash, cfg.textBands).toSet
      else Set.empty[Long])
    val keys = reps.map(id => id -> bandKeys(sigs(id))).toMap

    def mediaDist(a: DocSig, b: DocSig): Int =
      if (a.media.isEmpty || b.media.isEmpty) 9999
      else (for (x <- a.media; y <- b.media)
        yield java.lang.Long.bitCount(x ^ y)).min // slots = 1 under DCT
    def editDist(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }

    val parent = scala.collection.mutable.Map(reps.map(r => r -> r): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    def union(x: String, y: String): Unit = { parent(find(x)) = find(y) }

    var nEdges = 0
    for (i <- reps.indices; j <- i + 1 until reps.length) {
      val (a, b) = (sigs(reps(i)), sigs(reps(j)))
      val md = mediaDist(a, b)
      val hasTextBoth = a.text != null && a.text.nonEmpty && b.text != null && b.text.nonEmpty
      val simHam =
        if (hasTextBoth) java.lang.Long.bitCount(a.simhash ^ b.simhash) else 9999
      val (ma, ta) = keys(a.doc_id); val (mb, tb) = keys(b.doc_id)
      val sharedText = ta.intersect(tb).size
      val anyShared = sharedText > 0 || ma.intersect(mb).nonEmpty
      val prefilter = md < cfg.mediaThreshold || simHam < cfg.simhashPrefilter
      val vote = md < cfg.mediaThreshold || sharedText >= cfg.minTextBands
      if (anyShared && prefilter && vote) {
        val est = {
          val n = math.min(32, math.min(a.minhash.length, b.minhash.length))
          if (n == 0 || a.minhash.length.min(32) != b.minhash.length.min(32)) 0.0
          else (0 until n).count(k => a.minhash(k) == b.minhash(k)).toDouble / n
        }
        if (md < cfg.mediaThreshold || est >= cfg.minhashGate) {
          val (sa, sb) = (a.text.take(cfg.scoreTextCap), b.text.take(cfg.scoreTextCap))
          val textScore =
            if (sa.nonEmpty && sb.nonEmpty) {
              val levNorm = editDist(sa, sb).toDouble / math.max(sa.length, sb.length)
              cfg.wJw * JaroWinkler.jaroWinkler(sa, sb) +
                cfg.wLev * (1.0 - levNorm) + cfg.wMinhash * est
            } else 0.0
          if (md < cfg.mediaThreshold || (sa.nonEmpty && sb.nonEmpty && textScore >= cfg.tau)) {
            union(a.doc_id, b.doc_id)
            nEdges += 1
          }
        }
      }
    }
    assert(nEdges > 0, "corpus produced no duplicate edges to check")
    val minOf = reps.groupBy(find).flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
    val expected: Map[String, String] =
      docs.map(d => d.doc_id -> minOf(repOf(d.doc_id))).toMap

    val emitted = SparkEntry.queries("q_pipeline_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0).toString, r.getString(1))).toMap
    assert(emitted.keySet == expected.keySet)
    val diffs = expected.collect { case (k, v) if emitted(k) != v => (k, emitted(k), v) }
    assert(diffs.isEmpty, s"cluster diff (emitted, rederived): ${diffs.take(5)}")
  }

  test("q_video_near_dups: pair set re-derived by sequential brute force over real decoded frame hashes") {
    // Distinct-frame-hash set intersection >= 3, computed with plain Scala
    // sets over the same AVI synthesis, REAL frame extraction + ImageIO
    // decode and pHash (the kernels are the definitions, independently
    // specced in MultimodalSpec/KernelSpec). Verifies the sampling
    // semantics, the distinct-before-join dedup and the shared_frames
    // aggregation.
    import graft.text.Hashing
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 20 == 0).sorted
    val items: Seq[(String, Set[Long])] = ids.toSeq.flatMap { id =>
      val nFrames = 6 + (id % 12).toInt
      val frames = graft.media.Multimodal.extractAviFrames(
        graft.media.SynthMedia.aviClip(Hashing.hash64(s"vid-$id"), nFrames)).get
      val hashes = (0 until frames.length by 2).take(12).map { i =>
        graft.imaging.PHash.dct64(
          graft.imaging.Raster.decode(frames(i)).toOption.get)
      }.toSet
      val base = (s"v$id", hashes)
      if (id % 100 == 0) Seq(base, (s"v$id-copy", hashes)) else Seq(base)
    }
    val expected = (for {
      i <- items.indices
      j <- items.indices
      (da, fa) = items(i)
      (db, fb) = items(j)
      if da < db
      shared = fa.intersect(fb).size
      if shared >= 3
    } yield ((da, db), shared.toLong)).toMap
    val emitted = SparkEntry.queries("q_video_near_dups")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(expected.nonEmpty)
    assert(emitted == expected,
      s"extra=${(emitted.keySet -- expected.keySet).take(5)} missing=${(expected.keySet -- emitted.keySet).take(5)}")
  }

  test("q_retract_clusters: equals a full pipeline re-run over the remaining docs") {
    import graft.pipeline.{GraftConfig, Pipeline}
    val got = SparkEntry.queries("q_retract_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val remaining = SparkEntry.asDocs(spark, dir)
      .filter((d: graft.model.Doc) => d.doc_id.toLong % 7 != 0)
    val full = Pipeline.run(spark, remaining, GraftConfig(mediaThreshold = 11))
    val want = full.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getString(0).toLong, r.getString(1))).toMap
    full.release()
    assert(got.keySet == want.keySet, "doc coverage differs")
    val diffs = want.collect { case (id, c) if got(id) != c => (id, c, got(id)) }
    assert(diffs.isEmpty, s"cluster mismatch for ${diffs.size} docs, e.g. ${diffs.take(5)}")
    assert(got.nonEmpty && !got.keySet.exists(_ % 7 == 0))
  }

  /** From-the-definition image kernels sharing NO code, tables, or loop
    * structure with `graft.imaging`: the Linear resample evaluates the
    * triangle kernel inline per (dst, src) pair and normalizes post hoc
    * (production precomputes pre-normalized weight tables per destination
    * index), and the DCT is the literal textbook double sum per
    * coefficient with `math.cos` re-evaluated on a differently-ordered
    * argument expression (production uses a shared cosine LUT and the
    * separable row/column factorization). Agreement on the output bits is
    * therefore evidence about the kernel MATHEMATICS, not shared code.
    */
  private object NaiveImage {
    import graft.imaging.Raster

    private def clampByte(v: Double): Byte = {
      val x = v + 0.5
      if (x >= 255.0) 255.toByte else if (x > 0.0) x.toByte else 0.toByte
    }

    private def kernel(x: Double): Double = {
      val ax = math.abs(x)
      if (ax < 1.0) 1.0 - ax else 0.0
    }

    /** One separable Linear pass along one axis (alpha-weighted, clamped —
      * the documented reference semantics, `utils/resize.go:360-525`).
      */
    private def pass(src: Raster, dstSize: Int, horizontal: Boolean): Raster = {
      val srcSize = if (horizontal) src.width else src.height
      val other = if (horizontal) src.height else src.width
      val dst = if (horizontal) Raster(dstSize, other) else Raster(other, dstSize)
      val du = srcSize.toDouble / dstSize.toDouble
      val scale = math.max(du, 1.0)
      val ru = math.ceil(scale)
      var v = 0
      while (v < dstSize) {
        val fu = (v + 0.5) * du - 0.5
        val begin = math.max(math.ceil(fu - ru).toInt, 0)
        val end = math.min(math.floor(fu + ru).toInt, srcSize - 1)
        var o = 0
        while (o < other) {
          var r = 0.0; var g = 0.0; var b = 0.0; var aAcc = 0.0; var wSum = 0.0
          var u = begin
          while (u <= end) {
            val w = kernel((u - fu) / scale)
            if (w != 0.0) {
              val x = if (horizontal) u else o
              val y = if (horizontal) o else u
              val aw = src.a(x, y).toDouble * w
              r += src.r(x, y).toDouble * aw
              g += src.g(x, y).toDouble * aw
              b += src.b(x, y).toDouble * aw
              aAcc += aw
              wSum += w
            }
            u += 1
          }
          if (aAcc != 0.0) {
            val dx = if (horizontal) v else o
            val dy = if (horizontal) o else v
            val j = (dy * dst.width + dx) * 4
            dst.pix(j) = clampByte(r / aAcc)
            dst.pix(j + 1) = clampByte(g / aAcc)
            dst.pix(j + 2) = clampByte(b / aAcc)
            dst.pix(j + 3) = clampByte(aAcc / wSum)
          }
          o += 1
        }
        v += 1
      }
      dst
    }

    /** Pass dispatch mirrors the documented behavior: horizontal then
      * vertical, skipping a pass only when that axis keeps its size AND the
      * other one changes (a fully same-size resize still runs one vertical
      * pass through the accumulate/clamp path — observable semantics).
      */
    def resizeLinear(src: Raster, w: Int, h: Int): Raster =
      if (src.width != w && src.height != h) pass(pass(src, w, horizontal = true), h, horizontal = false)
      else if (src.width != w) pass(src, w, horizontal = true)
      else pass(src, h, horizontal = false)

    private def grey(r: Raster, x: Int, y: Int): Double = {
      val alpha = r.a(x, y).toLong
      def ch(v: Int): Long = { val c = (v.toLong | (v.toLong << 8)) * alpha; c / 255L }
      0.299 * ch(r.r(x, y)) + 0.587 * ch(r.g(x, y)) + 0.114 * ch(r.b(x, y))
    }

    /** Textbook DCT-II pHash: per coefficient (u,v) in the 8x8 block offset
      * by +1, a full O(N^2) sum over the 32x32 grey grid; upper-median bit
      * rule. No cosine table, no separable factorization.
      */
    def dct64(img: Raster): Long = {
      val n = 32
      val small = resizeLinear(img, n, n)
      val f = Array.tabulate(n, n)((i, j) => grey(small, i, j))
      val freqs = new Array[Double](64)
      var u = 1
      while (u <= 8) {
        var v = 1
        while (v <= 8) {
          var sum = 0.0
          var i = 0
          while (i < n) {
            var j = 0
            while (j < n) {
              sum += f(i)(j) *
                math.cos(math.Pi / (2.0 * n) * ((2 * i + 1) * u)) *
                math.cos(math.Pi / (2.0 * n) * ((2 * j + 1) * v))
              j += 1
            }
            i += 1
          }
          freqs(8 * (u - 1) + (v - 1)) = sum / 4.0
          v += 1
        }
        u += 1
      }
      val median = freqs.sorted.apply(32)
      (0 until 64).foldLeft(0L)((acc, k) => if (freqs(k) > median) acc | (1L << k) else acc)
    }

    /** Gradient dHash from the 9x9 Linear resize (bit n = (y*8)+x). */
    def dhash(img: Raster): (Long, Long) = {
      val small = resizeLinear(img, 9, 9)
      val g = Array.tabulate(9, 9)((x, y) => grey(small, x, y))
      var row = 0L; var col = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        val bit = 1L << (y * 8 + x)
        if (g(x)(y) < g(x + 1)(y)) row |= bit
        if (g(x)(y) < g(x)(y + 1)) col |= bit
      }
      (row, col)
    }
  }

  test("q_media_phash: all three hashes re-derived by naive from-the-definition kernels") {
    // The DCT hash must agree bit-exactly on EVERY doc (the 32x32 source
    // makes its resize numerically exact, so the whole DCT+median+bit path
    // is checked with zero tolerance). The dHash's 32->9 resample rounds
    // accumulated doubles to bytes; a handful of pixels land within an ulp
    // of the x.5 rounding boundary, where the two implementations' FP
    // summation orders legitimately disagree by one byte step. Any hash
    // disagreement must be confined to exactly that: byte grids off by at
    // most +-1 at <= 4 pixels, <= 4 flipped bits, <= 1% of docs.
    val emitted = SparkEntry.queries("q_media_phash")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(emitted.size >= 400)
    var roundingTies = 0
    emitted.toSeq.sortBy(_._1).foreach { case (id, (dct, dr, dc)) =>
      val img = graft.media.SynthMedia.render(graft.text.Hashing.hash64(s"doc-$id"), 0)
      assert(dct == NaiveImage.dct64(img), s"doc $id: DCT hash disagrees with the textbook O(N^4) DCT")
      val (nr, nc) = NaiveImage.dhash(img)
      if ((dr, dc) != ((nr, nc))) {
        roundingTies += 1
        val flipped = java.lang.Long.bitCount(dr ^ nr) + java.lang.Long.bitCount(dc ^ nc)
        assert(flipped <= 4, s"doc $id: $flipped dhash bits differ — more than boundary ties explain")
        val prod = graft.imaging.Resample.resize(img, 9, 9, graft.imaging.Resample.Linear).pix
        val naive = NaiveImage.resizeLinear(img, 9, 9).pix
        val diffs = prod.indices.filter(i => prod(i) != naive(i))
        assert(diffs.length <= 4 && diffs.forall(i => math.abs((prod(i) & 0xff) - (naive(i) & 0xff)) <= 1),
          s"doc $id: resample grids differ beyond one rounding step at ${diffs.take(8)}")
      }
    }
    assert(roundingTies <= emitted.size / 100,
      s"$roundingTies docs hit rounding-boundary dhash flips — too many for FP ties")
  }

  test("q_image_features: PNG round-trip features re-derived from the pre-encode raster") {
    // Expected values come from the ORIGINAL synthesized raster — the PNG
    // encode/decode leg of the production path never runs here — so this
    // asserts both lossless round-trip fidelity of the mapInPandas-shaped
    // decode plumbing AND hash correctness via the naive kernels.
    val emitted = SparkEntry.queries("q_image_features")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(emitted.size >= 40)
    emitted.toSeq.sortBy(_._1).foreach { case (id, (w, h, phash, dr, dc)) =>
      val img = graft.media.SynthMedia.render(graft.text.Hashing.hash64(s"img-$id"), 0)
      assert((w, h) == ((img.width, img.height)), s"doc $id: dims")
      assert(phash == NaiveImage.dct64(img), s"doc $id: phash")
      assert((dr, dc) == NaiveImage.dhash(img), s"doc $id: dhash")
    }
  }

  test("q_center_clusters: greedy rederived from collected band keys + local DP lev") {
    // Shared with the engine: the band-key KERNEL (it is the candidacy
    // definition, same stance as the pipeline rederive). Independent:
    // bucket grouping, edit distance (local DP, not Spark levenshtein),
    // and the sequential greedy itself (by-id center selection + claim).
    import org.apache.spark.sql.functions.{col, substring}
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 60).as("t"),
        SparkEntry.sBandKeys(col("text")).as("keys"))
      .collect()
    val text = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val byKey = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      val id = r.getLong(0)
      r.getSeq[String](2).foreach(k =>
        byKey.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += id)
    }
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val cands: Set[(Long, Long)] = byKey.values.iterator.flatMap { ids =>
      val srt = ids.distinct.sorted
      for (i <- srt.indices.iterator; j <- (i + 1 until srt.size).iterator)
        yield (srt(i), srt(j))
    }.toSet
    val edges = cands.filter { case (a, b) => lev(text(a), text(b)) < 15 }
    // independent sequential greedy (numeric id order)
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val assigned = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { u =>
      if (!assigned.contains(u)) {
        assigned(u) = u
        adj(u).toSeq.sorted.foreach(v => if (!assigned.contains(v)) assigned(v) = u)
      }
    }
    val got = SparkEntry.queries("q_center_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == assigned.toMap)
    assert(got.nonEmpty)
  }

  // The embedding queries share two pinned relations (the exact neighbours
  // of the 50-query sample and the sign-band candidate pairs): once one
  // consumer has run, every other consumer plans a scan of the pinned
  // relation and none of its derivation.
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.sparkPlan.collect { case p => p }
  private def pinnedRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("a second exact-neighbour consumer reads the pinned relation, no cross join") {
    q("q_ann_pq").collect() // first consumer derives the 50×N relation
    for (name <- Seq("q_cosine_topk", "q_ann_recall")) {
      val ns = nodes(q(name))
      assert(ns.exists(_.isInstanceOf[RDDScanExec]), s"$name: no pinned scan")
      // the recall curve's one-row count cross joins carry no condition;
      // the derivation's q ≠ n pair join does
      assert(!ns.exists {
        case j: BroadcastNestedLoopJoinExec => j.condition.isDefined
        case j: CartesianProductExec => j.condition.isDefined
        case _ => false
      }, s"$name re-derives the cross join")
    }
  }

  test("q_ann_recall called twice derives its truth once") {
    val first = q("q_ann_recall")
    val rows = first.collect().toSeq
    val second = q("q_ann_recall")
    assert(second.collect().toSeq == rows)
    // the truth is one pinned relation: both calls scan the same RDD
    assert(pinnedRdds(first).nonEmpty && pinnedRdds(second) == pinnedRdds(first))
  }

  test("a second sign-band consumer reads the pinned pairs, no band explode or self-join") {
    q("q_semdedup").collect() // first consumer derives the band pairs
    for (name <- Seq("q_embed_near_dup", "q_ann_lsh")) {
      val ns = nodes(q(name))
      assert(ns.exists(_.isInstanceOf[RDDScanExec]), s"$name: no pinned scan")
      assert(!ns.exists(n => n.isInstanceOf[GenerateExec] || n.isInstanceOf[BaseJoinExec]),
        s"$name re-derives the band join")
    }
  }
}
