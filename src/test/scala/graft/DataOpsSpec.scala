package graft

import java.security.MessageDigest

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.length
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the training-data hygiene queries added in round 3
  * (q_decontam / q_sample_split / q_vocab_df / q_repetition). The DuckDB
  * oracle proves engine parity; these tests prove the CONTRACT — planted
  * contamination is caught at exactly the 13-gram boundary, the split is a
  * pure function of doc_id (recomputed here from first principles with
  * java MessageDigest, independent of both engines' SQL md5), and the DF
  * table matches a naive in-memory recount.
  */
class DataOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = SparkTestBase.Sf001Dir

  /** Plant a documents.parquet shaped like the driver's sf tables so the
    * (spark, dir) query surface can run against known content.
    */
  private def plantedDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dataops").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_decontam: flags 13-gram overlap with the bench set, not 12-gram or short docs") {
    val bench = (1 to 30).map(i => s"b$i") // doc_id 0 → bench slice (0 % 20 == 0)
    val dir = plantedDir(Seq(
      (0L, bench.mkString(" "), "en", "web"),
      // 13 consecutive bench words → exactly one shared gram
      (1L, bench.slice(3, 16).mkString(" "), "en", "web"),
      // 12 consecutive bench words + a novel tail → its only 13-gram differs
      (2L, (bench.slice(3, 15) :+ "zzz").mkString(" "), "en", "web"),
      // under 13 words → produces no grams at all
      (3L, "x1 x2 x3 x4 x5", "en", "web"),
      // 14 consecutive bench words → two shared grams
      (4L, bench.slice(3, 17).mkString(" "), "en", "web")))
    val got = SparkEntry.queries("q_decontam")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (4L, 2L)))
  }

  test("q_sample_split: JVM-recomputed split matches and partitions the corpus") {
    def split(id: Long): String = {
      val d = MessageDigest.getInstance("MD5").digest(s"split:$id".getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16) % 100
      if (bucket < 5) "test" else if (bucket < 10) "val" else "train"
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy { case (id, lang, _) => (lang, split(id)) }
      .map { case ((lang, sp), rs) =>
        (lang, sp, rs.length.toLong, rs.map(_._3).sum, rs.map(_._1).min, rs.map(_._1).max)
      }.toSet
    val out = SparkEntry.queries("q_sample_split")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSet == expected)
    assert(out.map(_._3).sum == docs.length) // every doc in exactly one split
    // the split is usable: each stratum exists and test/val are minority slices
    val bySplit = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("test") && bySplit("train") > bySplit("val"))
  }

  test("q_vocab_df: top-20 document frequencies match a naive in-memory recount") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairs = texts.flatMap { case (id, t) =>
      t.trim.split("\\s+").toSeq.map(tok => (tok, id))
    }
    val tf = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val df = pairs.distinct.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = df.keys.toSeq
      .map(tok => (tok, df(tok), tf(tok)))
      .sortBy { case (tok, d, _) => (-d, tok) }.take(20)
    val out = SparkEntry.queries("q_vocab_df")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == expected)
  }

  test("q_repetition: degenerate docs score as planted (TTR, adjacent repeats, low-TTR count)") {
    val dir = plantedDir(Seq(
      (1L, "a a a a a", "en", "web"), // ttr 0.2, 4 adjacent repeats, low-TTR
      (2L, "x", "en", "web"),         // single token: ttr 1.0, 0 repeats
      (3L, "p q p q", "en", "web")))  // distinct 2 of 4: ttr 0.5, 0 repeats
    val out = SparkEntry.queries("q_repetition")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "en")
    assert(r.getLong(1) == 3L)                    // n_docs
    assert(math.abs(r.getDouble(2) - 1.7) < 1e-9) // sum_ttr = 0.2 + 1.0 + 0.5
    assert(r.getLong(3) == 4L)                    // sum_adj_repeats
    assert(r.getLong(4) == 1L)                    // n_low_ttr (only doc 1)
  }

  test("q_boilerplate: cross-doc 8-word phrase detected; in-doc repeats count as occurrences not docs") {
    val p = (1 to 8).map(i => s"p$i").mkString(" ")
    val dir = plantedDir(Seq(
      (1L, s"$p a b", "en", "web"),        // phrase once, unique tail
      (2L, s"x $p y", "en", "web"),        // phrase once, shifted position
      (3L, s"$p z $p", "en", "web"),       // phrase TWICE in one doc
      (4L, "s1 s2 s3 s4 s5 s6 s7", "en", "web"), // 7 words: no 8-grams at all
      (5L, (1 to 12).map(i => s"u$i").mkString(" "), "en", "web"))) // all-unique grams
    val got = SparkEntry.queries("q_boilerplate")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // Only the planted phrase crosses a doc boundary: 3 docs, 4 occurrences
    // (doc 3's repeat raises occurrences but not breadth).
    assert(got == Seq((p, 3L, 4L)))
  }

  test("clusterCohesion: member cap bounds the pair expansion; n_members reports true size") {
    import spark.implicits._
    // one 100-member cluster: the pair stage must see C(32,2) = 496 pairs,
    // never C(100,2) = 4950 — the cap applies BEFORE the self-join
    val cc = (1L to 100L).map(i => (i, 1L)).toDF("doc_id", "cluster_id")
    val t = (1L to 100L).map(i => (i, s"member text $i")).toDF("doc_id", "t")
    val out = SparkEntry.clusterCohesion(cc, t).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 100L, "n_members must be the uncapped size")
    assert(r.getLong(2) == 496L, s"n_pairs ${r.getLong(2)} != C(32,2)")
    // identical-text pair cluster: distance 0, similarity exactly 1.0
    val cc2 = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val t2 = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "t")
    val r2 = SparkEntry.clusterCohesion(cc2, t2).collect().head
    assert(r2.getLong(2) == 1L && r2.getLong(3) == 0L && r2.getDouble(5) == 1.0)
  }

  test("q_sorted_neighborhood: w=3 window emits exactly the rank-adjacent pairs") {
    // six docs sharing one 24-char sort key, sorted by doc_id within it:
    // SNM compares each record to its 3 successors only, so (i, j) is
    // emitted iff j - i <= 3 — the windowed-recall trade SNM makes
    val pre = "zz common prefix 24 char".take(24)
    assert(pre.length == 24)
    val dir = plantedDir((1L to 6L).map(i => (i, s"$pre tail $i", "en", "web")))
    val got = SparkEntry.queries("q_sorted_neighborhood")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      i <- 1L to 6L; j <- (i + 1) to math.min(i + 3, 6L)
    } yield (i, j)).toSet
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("q_cand_hist: identical cross-source docs land one pair in bucket 0 with cross-source flag") {
    val text = "calibration histogram probe text shared verbatim by two docs"
    val dir = plantedDir(Seq(
      (1L, text, "en", "web"),
      (2L, text, "en", "cc")))
    val got = SparkEntry.queries("q_cand_hist")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // identical texts share every band and have edit distance 0
    assert(got == Seq((0, 1L, 1L)))
  }

  /** Band keys re-derived from the documented definition (8-char shingles
    * of the 120-prefix → md5 top 28 bits → 12 affine mins mod the prime →
    * 4 position-tagged keys) with MessageDigest — pins the candidacy
    * contract the meta-blocking weights are computed over.
    */
  private def jvmBandKeys(text: String): Set[String] = {
    val t = (if (text == null) "" else text).take(120)
    val n = math.max(t.length - 7, 1)
    val md = MessageDigest.getInstance("MD5")
    val P = 1073741789L
    val ab = Seq((686579304L, 119540831L), (26855093L, 796233790L), (295310486L, 262950628L),
      (239670712L, 149827706L), (790779947L, 110053353L), (726600540L, 795285932L),
      (957970517L, 585582861L), (93349857L, 634036506L), (453035111L, 34126396L),
      (31994524L, 100604502L), (234760739L, 249817734L), (542621109L, 646412689L))
    val mins = Array.fill(12)(Long.MaxValue)
    for (i <- 0 until n) {
      md.reset()
      val d = md.digest(t.substring(i, math.min(i + 8, t.length)).getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
      for (j <- ab.indices) {
        val v = (ab(j)._1 * h + ab(j)._2) % P
        if (v < mins(j)) mins(j) = v
      }
    }
    (0 until 4).map(b => s"$b:${mins(3 * b)}:${mins(3 * b + 1)}:${mins(3 * b + 2)}").toSet
  }

  test("q_meta_blocking: kept edges re-derived by brute-force CBS weights + WEP mean pruning") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val keys = docs.map { case (id, t) => id -> jvmBandKeys(t) }.toMap
    val ids = docs.map(_._1).sorted
    val weights = for {
      i <- ids.indices
      j <- i + 1 until ids.length
      w = keys(ids(i)).intersect(keys(ids(j))).size
      if w > 0
    } yield ((ids(i), ids(j)), w.toLong)
    val mean = weights.map(_._2).sum.toDouble / weights.length
    val want = weights.filter(_._2 > mean).toMap
    val got = SparkEntry.queries("q_meta_blocking")(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(want.nonEmpty)
    assert(got == want,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    // pruning is real on this corpus: some candidate survives and some don't
    assert(want.size < weights.size)
  }

  test("q_cluster_split: counts re-derived; a doc-level split WOULD leak where this cannot") {
    def editDist2(a: String, b: String): Int = {
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
    def bucket(prefix: String, id: Long): Long = {
      val d = MessageDigest.getInstance("MD5").digest(s"$prefix$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16) % 100
    }
    def splitOf(b: Long): String = if (b < 5) "test" else if (b < 10) "val" else "train"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val keys = docs.map { case (id, t) => id -> jvmBandKeys(t) }.toMap
    val edges = for {
      i <- docs.indices
      j <- i + 1 until docs.length
      if keys(docs(i)._1).intersect(keys(docs(j)._1)).nonEmpty
      if editDist2(docs(i)._2.take(60), docs(j)._2.take(60)) < 15
    } yield (docs(i)._1, docs(j)._1)
    val parent = scala.collection.mutable.Map.from(docs.map(d => d._1 -> d._1))
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cluster = docs.map(d => d._1 -> find(d._1)).toMap
    val want = docs.groupBy(d => splitOf(bucket("csplit:", cluster(d._1))))
      .map { case (sp, ds) =>
        (sp, ds.map(d => cluster(d._1)).distinct.length.toLong, ds.length.toLong)
      }.toSet
    val got = SparkEntry.queries("q_cluster_split")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=$got want=$want")

    // the guarantee is non-vacuous: the per-DOC split rule would put the
    // two ends of at least one near-dup edge in different strata, the
    // leakage cluster-granular assignment rules out by construction
    assert(edges.nonEmpty)
    val docLevelLeak = edges.exists { case (a, b) =>
      splitOf(bucket("split:", a)) != splitOf(bucket("split:", b))
    }
    assert(docLevelLeak, "every edge lands in one doc-level stratum — leakage claim vacuous here")
  }

  test("q_blocking_recall: all four counts re-derived by brute force over the half sample") {
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
    // the SAME 1/evalSampleK md5 stratum the query filters on, rederived
    // here via the JVM's own MessageDigest so the predicate itself is
    // cross-checked
    def inStratum(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"esample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % SparkEntry.evalSampleK == 0
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(d => inStratum(d._1)).sortBy(_._1)
    val keys = docs.map { case (id, t) => id -> jvmBandKeys(t) }.toMap
    var (nTrue, nCand, nCaught, nPairs) = (0L, 0L, 0L, 0L)
    for (i <- docs.indices; j <- i + 1 until docs.length) {
      val ((ia, ta), (ib, tb)) = (docs(i), docs(j))
      nPairs += 1
      val isTrue = editDist(ta.take(60), tb.take(60)) < 15
      val isCand = keys(ia).intersect(keys(ib)).nonEmpty
      if (isTrue) nTrue += 1
      if (isCand) nCand += 1
      if (isTrue && isCand) nCaught += 1
    }
    val r = SparkEntry.queries("q_blocking_recall")(spark, sfDir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((nTrue, nCand, nCaught, nPairs)))
    assert(nTrue > 0, "sample has no true pairs — recall would be vacuous")
    assert(r.getDouble(4) ==
      java.math.BigDecimal.valueOf(nCaught.toDouble / nTrue)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue)
  }

  test("q_fellegi_sunter: every score equals the closed-form log2 weight sum for its pattern") {
    import SparkEntry.Fs
    def score(l: Boolean, n: Boolean, j: Boolean, v: Boolean): Double = {
      val s = (if (l) Fs.wLangA else Fs.wLangD) + (if (n) Fs.wLenA else Fs.wLenD) +
        (if (j) Fs.wJacA else Fs.wJacD) + (if (v) Fs.wLevA else Fs.wLevD)
      java.math.BigDecimal.valueOf(s).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val rows = SparkEntry.queries("q_fellegi_sunter")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = r.getDouble(6)
      val want = score(r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))
      assert(got == want, s"pair (${r.getLong(0)},${r.getLong(1)}): $got != $want")
    }
    // the corpus exercises both decision regions — matches and non-matches
    val scores = rows.map(_.getDouble(6))
    assert(scores.max > 0 && scores.min < 0)
  }

  test("q_tfidf_pairs: dot products and cosines re-derived by an in-memory tf-idf") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toDouble
    val tf: Map[Long, Map[String, Long]] = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq.groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val df = tf.values.flatMap(_.keySet).groupBy(identity).view.mapValues(_.size).toMap
    val iq = df.map { case (tok, d) => tok -> math.floor(1000.0 * math.log(n / d)).toLong }
    def w(id: Long): Map[String, Long] = tf(id).map { case (t, c) => t -> c * iq(t) }
    val rows = SparkEntry.queries("q_tfidf_pairs")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (wa, wb) = (w(a), w(b))
      val dot = wa.keysIterator.filter(wb.contains).map(t => wa(t) * wb(t)).sum
      assert(r.getLong(2) == dot, s"dot($a,$b): ${r.getLong(2)} != $dot")
      val na2 = wa.values.map(x => x * x).sum
      val nb2 = wb.values.map(x => x * x).sum
      val cos = java.math.BigDecimal.valueOf(dot / math.sqrt(na2.toDouble * nb2.toDouble))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      assert(r.getDouble(3) == cos, s"cos($a,$b): ${r.getDouble(3)} != $cos")
    }
  }

  test("q_pii_scrub: per-source accounting re-derived with java.util.regex") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val email = java.util.regex.Pattern.compile(SparkEntry.PiiEmailPat)
    val digits = java.util.regex.Pattern.compile(SparkEntry.PiiDigitsPat)
    val per = docs.map { case (id, src, text) =>
      val contact = s"user$id@mail.example id=${"%08d".format(id * 7919 % 100000000)} ${text.take(40)}"
      val nE = email.matcher(contact).results().count().toInt
      val noEmail = email.matcher(contact).replaceAll("[EMAIL]")
      val nI = digits.matcher(noEmail).results().count().toInt
      val scrub = digits.matcher(noEmail).replaceAll("[ID]")
      (src, nE, nI, contact.length - scrub.length)
    }
    val want = per.groupBy(_._1).map { case (s, rs) =>
      (s, rs.length.toLong, rs.map(_._2).sum.toLong, rs.map(_._3).sum.toLong,
        rs.map(_._4).sum.toLong)
    }.toSet
    val got = SparkEntry.queries("q_pii_scrub")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    // the planted email and id are really detected in every doc
    assert(per.forall(p => p._2 >= 1 && p._3 >= 1))
  }

  test("q_events_asof: strict-before, equal-ts exclusion, max-id view tie-break, no-view drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    // (event_id, us, user_id, event_type)
    Seq(
      (10L, 1000L, 1L, "view"), // equal-ts tie with 11
      (11L, 1000L, 1L, "view"), // max id among the tie -> the winner
      (20L, 1000L, 1L, "purchase"), // equal ts to the views -> strictly-before fails -> dropped
      (21L, 2000L, 1L, "purchase"), // matches view 11 (tie-break), gap 1000us
      (12L, 3000L, 1L, "view"),
      (22L, 3500L, 1L, "purchase"), // matches view 12, gap 500us
      (23L, 9000L, 2L, "purchase")) // user 2 has no views -> dropped
      .toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros($"us"))
      .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .drop("us")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_events_asof")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List((21L, 1L, 11L, 1000L), (22L, 1L, 12L, 500L)))
  }

  test("q_dedup_cascade: stages partition the corpus; attribution matches stage semantics (sf0.01)") {
    val rows = SparkEntry.queries("q_dedup_cascade")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // totality + disjointness: every doc exactly once
    assert(rows.length == nDocs)
    assert(rows.map(_._1).distinct.length == rows.length)
    val byStage = rows.groupBy(_._2)
    // the sf corpus has no byte-identical texts (stage-1 coverage is the
    // planted test below) but plants near dups AND at least one reordering
    // only the token-set stage catches
    assert(byStage.contains("2_near") && byStage.contains("3_jaccard") &&
      byStage.contains("4_survivor"))
    // a killed doc's keeper is a DIFFERENT doc; a survivor keeps itself
    rows.foreach { case (d, st, k) =>
      if (st == "4_survivor") assert(k == d) else assert(k != d)
    }
    // cascade monotonicity: a stage's keeper survived all earlier stages —
    // a 2_near keeper is not exact-killed; a 3_jaccard keeper is neither
    // exact- nor near-killed
    val exactKilled = byStage.getOrElse("1_exact", Array.empty[(Long, String, Long)]).map(_._1).toSet
    val nearKilled = byStage("2_near").map(_._1).toSet
    byStage("2_near").foreach { case (_, _, k) => assert(!exactKilled.contains(k)) }
    byStage("3_jaccard").foreach { case (_, _, k) =>
      assert(!exactKilled.contains(k) && !nearKilled.contains(k))
    }
    // the jaccard stage caught at least one reordering edit distance
    // misses: SOME killed doc is lev>=15 from its keeper on the 60-prefix.
    // (Not universal: a keeper is the component MIN, so a doc can reach a
    // lev-close keeper through a chain whose direct band pairing missed.)
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byStage("3_jaccard").exists { case (d, _, k) =>
      graft.text.JaroWinkler.levenshtein(texts(d).take(60), texts(k).take(60)) >= 15
    })
  }

  test("q_soundex_blocks: non-ASCII strips BEFORE upper-casing (ß full-case-mapping parity)") {
    // JVM upper('ß') = 'SS' but DuckDB's utf8proc upper maps it to 'ẞ' —
    // so any upper-then-X chain diverges between engines on such chars.
    // The query strips [^A-Za-z] from the RAW word first in BOTH engines;
    // the expected codes here were validated against the DuckDB oracle
    // chain at authoring time.
    val dir = plantedDir(Seq(
      (1L, "straße road goes on and on", "de", "web"),
      (2L, "Ärger time never ends here", "de", "web"),
      (3L, "smith! here stands a person", "en", "web"),
      (4L, "123 nothing but digits first", "en", "web"), // strips empty -> dropped
      (5L, "Smyth person walks the lane", "en", "web"),
      (6L, "robert x marks every spot", "en", "web"),
      (7L, "rupert y holds the map", "en", "web")))
    val got = SparkEntry.queries("q_soundex_blocks")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List(
      ("R163", 2L, 2L), // ROBERT + RUPERT
      ("S530", 2L, 2L), // SMITH (bang stripped) + SMYTH
      ("R260", 1L, 1L), // Ärger -> RGER (Ä stripped pre-upper)
      ("S360", 1L, 1L))) // straße -> STRAE (ß stripped pre-upper)
  }

  test("q_lsh_empirical: identical docs land bucket 10 at rate 1.0; unrelated docs bucket 0") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi omega end here now"
    val b = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty ok"
    // the planted ids must all land in the 1/k md5 stratum the query
    // filters on; 2,4,6,10 all have md5("esample:<id>") bucket % 2 == 0
    // (id 8 does NOT — the old doc_id%2 stratum's id set no longer works)
    val dir = plantedDir(Seq(
      (2L, a, "en", "web"), (4L, a, "en", "cc"),
      (6L, b, "en", "web"), (10L, b, "en", "cc")))
    val got = SparkEntry.queries("q_lsh_empirical")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    // pairs: (2,4) and (6,8) identical -> bucket 10, candidates (identical
    // bands) -> rate 1.0; the 4 cross pairs share no 8-char shingle ->
    // bucket 0, and MUST NOT be candidates (else rate > 0)
    assert(got == List((0, 4L, 0L, 0.0), (10, 2L, 2L, 1.0)))
  }

  test("q_dedup_cascade: planted exact + tail-variant dups attribute to the right stages") {
    // 1,2: byte-identical -> stage 1 kills 2 (keeper 1)
    // 3,4: same 120-prefix (identical bands), different tail -> not exact,
    //      lev(60-prefix)=0 -> stage 2 kills 4 (keeper 3)
    // 9: unrelated survivor
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat watches from the warm windowsill nearby this day"
    val base2 = "every winter morning the old lighthouse keeper climbs four " +
      "hundred narrow steps to polish the enormous rotating glass lens"
    assert(base.length >= 120 && base2.length >= 120)
    val dir = plantedDir(Seq(
      (1L, base, "en", "web"),
      (2L, base, "en", "cc"),
      (3L, base2 + " shared prefix tail one", "en", "web"),
      (4L, base2 + " completely different ending words", "en", "cc"),
      (9L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg " +
        "ff ee dd cc bb aa zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll",
        "en", "web")))
    val got = SparkEntry.queries("q_dedup_cascade")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(got == List(
      (1L, "4_survivor", 1L),
      (2L, "1_exact", 1L),
      (3L, "4_survivor", 3L),
      (4L, "2_near", 3L),
      (9L, "4_survivor", 9L)))
  }
}
