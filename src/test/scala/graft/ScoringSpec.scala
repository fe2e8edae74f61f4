package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Value-level rederivations for the pairwise scorers added after the FS
  * family: the driver oracles define candidacy + arithmetic identically in
  * DuckDB (determinism locks), so these tests supply the independent
  * check — every emitted value is recomputed sequentially in plain Scala
  * from the raw documents table and compared exactly.
  */
class ScoringSpec extends AnyFunSuite with SparkTestBase {

  private val dir = SparkTestBase.Sf001Dir

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinklerExpr.jw(UTF8String.fromString(a), UTF8String.fromString(b))

  /** doc_id -> (lang, n_chars, distinct whitespace tokens of the trimmed
    * 120-char prefix, 60-char prefix) — the fsVectors feature set.
    */
  private lazy val docs: Map[Long, (String, Long, Vector[String], String)] = {
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text").collect()
      .map { r =>
        val text = r.getString(3)
        val toks = text.take(120).trim.split("\\s+").toVector.distinct
        (r.getLong(0), (r.getString(1), r.getLong(2), toks, text.take(60)))
      }.toMap
  }

  test("q_monge_elkan: every row equals the sequential mean-of-max rederivation") {
    val rows = SparkEntry.queries("q_monge_elkan")(spark, dir).collect()
    assert(rows.length > 10, "vacuous: no candidate pairs")
    def meDir(src: Vector[String], dst: Vector[String]): Double = {
      val sm = src.map(t => math.floor(dst.map(s => jw(t, s)).max * 1000000.0).toLong).sum
      // BigDecimal.valueOf (canonical string repr), matching Spark's round
      BigDecimal.valueOf(sm.toDouble / src.size / 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val ta = docs(a)._3
      val tb = docs(b)._3
      val meAb = meDir(ta, tb)
      val meBa = meDir(tb, ta)
      assert(r.getDouble(2) == meAb, s"me_ab($a,$b): ${r.getDouble(2)} vs $meAb")
      assert(r.getDouble(3) == meBa, s"me_ba($a,$b): ${r.getDouble(3)} vs $meBa")
      val me = BigDecimal.valueOf((meAb + meBa) / 2.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == me, s"me($a,$b): ${r.getDouble(4)} vs $me")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  private def lev(x: String, y: String): Int = {
    val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to x.length; j <- 1 to y.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
    d(x.length)(y.length)
  }

  test("q_tf_adjust: weights and score rederived from raw value frequencies") {
    val rows = SparkEntry.queries("q_tf_adjust")(spark, dir).collect()
    assert(rows.length > 10, "vacuous: no candidate pairs")
    val n = docs.size.toDouble
    val freq = docs.values.groupBy(_._1).map { case (l, v) => l -> (v.size / n) }
    var rare = Long.MinValue
    var common = Long.MaxValue
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (langA, ncA, toksA, tA) = docs(a)
      val (langB, ncB, toksB, tB) = docs(b)
      val agree = langA == langB
      assert(r.getString(2) == langA)
      assert(r.getBoolean(3) == agree)
      val wLang =
        if (agree) math.floor(1000.0 * math.log(SparkEntry.TfW.langM / freq(langA))).toLong
        else SparkEntry.TfW.langD
      assert(r.getLong(4) == wLang, s"w_lang($a,$b)")
      val inter = toksA.intersect(toksB).size.toDouble
      val jac = inter / (toksA.size + toksB.size - inter)
      val expected = wLang +
        (if (ncA / 100 == ncB / 100) SparkEntry.TfW.lenA else SparkEntry.TfW.lenD) +
        (if (jac >= 0.6) SparkEntry.TfW.jacA else SparkEntry.TfW.jacD) +
        (if (lev(tA, tB) < 15) SparkEntry.TfW.levA else SparkEntry.TfW.levD)
      assert(r.getLong(5) == expected, s"score_milli($a,$b): ${r.getLong(5)} vs $expected")
      if (agree) {
        if (freq(langA) == freq.values.min) rare = math.max(rare, r.getLong(4))
        if (freq(langA) == freq.values.max) common = math.min(common, r.getLong(4))
      }
    }
    // the tf adjustment's point: agreeing on a rarer value weighs more
    if (rare != Long.MinValue && common != Long.MaxValue)
      assert(rare > common, s"rare-value weight $rare not above common-value weight $common")
  }

  test("q_u_sample: rates equal the sequential md5-adjacent-pair rederivation") {
    val row = SparkEntry.queries("q_u_sample")(spark, dir).collect().head
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ordered = docs.toVector.sortBy { case (id, _) => (md5hex(id.toString), id) }
    val pairs = ordered.grouped(2).collect { case Vector(x, y) => (x._2, y._2) }.toVector
    assert(row.getLong(0) == pairs.size, "n_pairs")
    def micro(agree: ((String, Long, Vector[String], String), (String, Long, Vector[String], String)) => Boolean): Long =
      1000000L * pairs.count(p => agree(p._1, p._2)) / pairs.size
    assert(row.getLong(1) == micro((a, b) => a._1 == b._1), "u_lang_micro")
    assert(row.getLong(2) == micro((a, b) => a._2 / 100 == b._2 / 100), "u_len_micro")
    assert(row.getLong(3) == micro { (a, b) =>
      val inter = a._3.intersect(b._3).size.toDouble
      inter / (a._3.size + b._3.size - inter) >= 0.6
    }, "u_jac_micro")
    assert(row.getLong(4) == micro((a, b) => lev(a._4, b._4) < 15), "u_lev_micro")
    // random pairs are overwhelmingly non-matches: content-field agreement
    // rates must sit far below the blocked candidates' (biased to matches)
    assert(row.getLong(3) < 100000L, s"u_jac ${row.getLong(3)} suspiciously high for random pairs")
    assert(row.getLong(4) < 100000L, s"u_lev ${row.getLong(4)} suspiciously high for random pairs")
  }

  test("q_unigram_ppl: top-100 equals the sequential unigram-LM rederivation") {
    val rows = SparkEntry.queries("q_unigram_ppl")(spark, dir).collect()
    assert(rows.length == 100)
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toVector)
    val cnt = texts.flatMap(_._2).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val total = cnt.values.sum.toDouble
    val want = texts.map { case (id, ts) =>
      val sup = ts.map(t => math.floor(1000.0 * math.log(total / cnt(t))).toLong).sum
      (id, ts.size.toLong, sup, sup / ts.size)
    }.sortBy { case (id, _, _, p) => (-p, id) }.take(100)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toVector == want.toVector)
    // non-vacuous: the filter candidates genuinely rank above the median doc
    val all = texts.map { case (_, ts) =>
      ts.map(t => math.floor(1000.0 * math.log(total / cnt(t))).toLong).sum / ts.size
    }.sorted
    assert(want.head._4 > all(all.length / 2), "top surprisal not above median")
  }

  test("q_source_kl: per-source divergence equals the sequential rederivation") {
    val rows = SparkEntry.queries("q_source_kl")(spark, dir).collect()
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).trim.split("\\s+").toVector)
    val corpus = texts.flatMap(_._2).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val n = corpus.values.sum.toDouble
    val bySrc = texts.groupBy(_._1)
    assert(rows.length == bySrc.size && rows.length > 1)
    rows.foreach { r =>
      val toks = bySrc(r.getString(0)).flatMap(_._2)
      val ns = toks.size.toLong
      val cst = toks.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      val klSum = cst.iterator.map { case (t, c) =>
        c * math.floor(1000.0 * math.log(c * n / (ns * corpus(t).toDouble))).toLong
      }.sum
      assert(r.getLong(1) == ns && r.getLong(2) == klSum, s"${r.getString(0)}")
      assert(r.getLong(3) == math.max(klSum, 0L) / ns)
    }
    // non-vacuous: divergences differ across sources
    assert(rows.map(_.getLong(3)).distinct.length > 1, "all sources identical KL")
  }

  test("q_fs_decisions: triage consistent with the fitted posteriors") {
    val dec = SparkEntry.queries("q_fs_decisions")(spark, dir).collect()
    val emRows = SparkEntry.queries("q_fs_em")(spark, dir).collect()
    val pats = emRows
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)) -> r.getDouble(5))
      .toMap
    assert(dec.length > 10, "vacuous: no candidate pairs")
    // every pair's posterior is one of the fitted pattern posteriors and
    // the decision matches the thresholds applied to it
    dec.foreach { r =>
      val p = r.getDouble(2)
      assert(pats.values.exists(_ == p), s"posterior $p not among fitted patterns")
      val want = if (p >= 0.95) "match" else if (p <= 0.05) "non_match" else "clerical"
      assert(r.getString(3) == want, s"decision for posterior $p")
    }
    // pattern counts must reconcile: pairs per posterior value == the sum
    // of fs_em's n over patterns sharing that (rounded) posterior
    val byP = dec.groupBy(_.getDouble(2)).view.mapValues(_.length.toLong).toMap
    val expected = emRows
      .groupBy(_.getDouble(5)).view.mapValues(_.map(_.getLong(4)).sum).toMap
    assert(byP == expected, s"pair counts per posterior: $byP vs $expected")
  }
}
