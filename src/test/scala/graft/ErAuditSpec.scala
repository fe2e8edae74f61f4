package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Independent rederivations + invariants for the round-5 ER-audit quartet:
  * q_mutual_best (reciprocal best-match assignment), q_scd2 (SCD2 entity
  * history), q_dup_rate_cr (Chapman capture–recapture duplicate estimate),
  * q_blocking_scheme (per-predicate blocking census). Each rederivation is
  * plain sequential Scala sharing only the definition CONSTANTS with the
  * library (band kernel via the test-local [[BandMirror]], an independently
  * written textbook Soundex, a local Levenshtein DP) so a kernel bug cannot
  * hide behind itself.
  */
class ErAuditSpec extends AnyFunSuite with SparkTestBase {

  private val dir = SparkTestBase.Sf001Dir

  /** Local DP Levenshtein (not Spark's). */
  private def lev(a: String, b: String): Int = {
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

  /** Textbook American Soundex with the h/w transparency rule, written as a
    * sequential single pass — structurally unlike the library's
    * translate/regexp chain (SparkEntry.soundexCol), same definition.
    */
  private def naiveSoundex(w: String): String = {
    val codes = "01230129022455012623019202" // A..Z; 9 = h/w marker
    def c(ch: Char): Char = codes(ch - 'A')
    val sb = new StringBuilder
    var last = c(w(0))
    w.drop(1).foreach { ch =>
      val d = c(ch)
      if (d != '9') { // h/w transparent: same-code letters across it merge
        if (d != last && d != '0') sb.append(d)
        last = d
      }
    }
    (w(0).toString + sb.toString + "000").take(4)
  }

  /** Plain-JVM mirror of the md5 evaluation stratum (sampleBucket % k). */
  private def inStratum(id: Long, k: Int): Boolean = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"esample:$id".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % k == 0
  }

  /** First-token Soundex key of a doc text, or None for an empty skeleton. */
  private def sdxKey(text: String): Option[String] = {
    val w = text.split(" ", 2)(0).replaceAll("[^A-Za-z]", "").toUpperCase
    if (w.isEmpty) None else Some(naiveSoundex(w))
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val docs: Seq[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  private lazy val docMeta: Map[Long, (String, Long)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("q_mutual_best: equals the sequential reciprocal-top-1 over the linkage relation") {
    val pairs = SparkEntry.queries("q_record_linkage")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.nonEmpty)
    // independent selection: best partner per side by (jw desc, id asc)
    val bestR = pairs.groupBy(_._1).map { case (l, ps) =>
      l -> ps.minBy(p => (-p._3, p._2))._2
    }
    val bestL = pairs.groupBy(_._2).map { case (r, ps) =>
      r -> ps.minBy(p => (-p._3, p._1))._1
    }
    val want = pairs.filter { case (l, r, _) =>
      bestR(l) == r && bestL(r) == l
    }.map(p => (p._1, p._2, p._3)).sortBy(_._1)
    val got = SparkEntry.queries("q_mutual_best")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // one-to-one by construction
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.map(_._2).distinct.size == got.size)
    // mutual-best ⊆ best-per-left (q_linkage_best)
    val best1 = SparkEntry.queries("q_linkage_best")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(p => best1.contains((p._1, p._2))))
  }

  test("q_scd2: equals the sequential interval builder; intervals tile, one current per user") {
    val purchases = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value").collect()
      .map { r =>
        // ts is TIMESTAMP_NTZ; the session TZ is UTC, so the NTZ wall time
        // IS the UTC instant the query's cast("timestamp") resolves to
        val t = r.getAs[java.time.LocalDateTime](1)
        val us = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000
        (r.getLong(0), us, r.getLong(2), r.getDouble(3))
      }.toSeq
    assert(purchases.nonEmpty)
    val want = purchases.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val srt = es.sortBy(e => (e._2, e._3))
      srt.zipWithIndex.map { case ((_, us, _, v), i) =>
        val to = if (i + 1 < srt.size) Some(srt(i + 1)._2) else None
        (u, (i + 1).toLong, v, us, to, to.isEmpty)
      }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q_scd2")(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5))
    }.toSeq
    assert(got == want)
    // invariants: dense versions, tiling intervals, exactly one open row
    got.groupBy(_._1).foreach { case (_, rows) =>
      val srt = rows.sortBy(_._2)
      assert(srt.map(_._2) == (1L to srt.size).toSeq)
      srt.sliding(2).foreach {
        case Seq(a, b) => assert(a._5.contains(b._4))
        case _ =>
      }
      assert(srt.count(_._6) == 1)
      assert(srt.last._6 && srt.last._5.isEmpty)
    }
  }

  test("q_dup_rate_cr: equals the sequential two-capture Chapman estimate") {
    val k = SparkEntry.evalSampleK
    val strat = docs.filter(d => inStratum(d._1, k))
    val t = strat.map { case (id, tx) => id -> tx.take(60) }.toMap
    def verified(pairs: Set[(Long, Long)]): Set[(Long, Long)] =
      pairs.filter { case (a, b) => lev(t(a), t(b)) < 15 }
    // capture A: >= 1 shared band key (test-local band kernel)
    val byBand = strat.flatMap { case (id, tx) =>
      BandMirror.bandsOf(BandMirror.minsOf(BandMirror.shingles(tx))).map(_ -> id)
    }.groupBy(_._1).values
    val capA = byBand.flatMap { ids =>
      val s = ids.map(_._2).distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    // capture B: shared first-token Soundex (independent textbook impl)
    val bySdx = strat.flatMap { case (id, tx) => sdxKey(tx).map(_ -> id) }
      .groupBy(_._1).values
    val capB = bySdx.flatMap { ids =>
      val s = ids.map(_._2).sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    val va = verified(capA); val vb = verified(capB)
    val nBoth = (va & vb).size.toLong
    val chapman = (va.size + 1L) * (vb.size + 1L) / (nBoth + 1L) - 1L
    val got = SparkEntry.queries("q_dup_rate_cr")(spark, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (va.size.toLong, vb.size.toLong, nBoth, (va | vb).size.toLong, chapman))
    // the estimator can never undercut what the union already saw... only
    // when captures overlap; it is always >= max single capture
    assert(r.getLong(4) >= math.max(r.getLong(0), r.getLong(1)))
  }

  test("q_blocking_scheme: equals the sequential four-scheme census") {
    val k = SparkEntry.evalSampleK
    // scheme -> doc -> keys (band has 4 keys/doc; others at most 1)
    val schemeKeys: Map[String, Seq[(Long, String)]] = Map(
      "band" -> docs.flatMap { case (id, tx) =>
        BandMirror.bandsOf(BandMirror.minsOf(BandMirror.shingles(tx)))
          .map(id -> _)
      },
      "soundex1" -> docs.flatMap { case (id, tx) => sdxKey(tx).map(id -> _) },
      "prefix8" -> docs.map { case (id, tx) => id -> tx.take(8) },
      "lenlang4" -> docs.map { case (id, tx) =>
        val (lang, n) = docMeta(id)
        id -> s"$lang:${n / 4}"
      })
    val t = docs.map { case (id, tx) => id -> tx.take(60) }.toMap
    val perScheme = schemeKeys.map { case (scheme, ks) =>
      val blocks = ks.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val nKeys = blocks.size.toLong
      val maxBlock = blocks.values.map(_.size).max.toLong
      val nCandFull = blocks.values.map(v => v.size.toLong * (v.size - 1) / 2).sum
      val cand = blocks.values.flatMap { ids =>
        val s = ids.filter(inStratum(_, k)).distinct.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
      val ver = cand.filter { case (a, b) => lev(t(a), t(b)) < 15 }
      scheme -> (nKeys, maxBlock, nCandFull, cand.size.toLong, ver)
    }
    val union: Set[(Long, Long)] = perScheme.values.map(_._5).reduce(_ | _)
    val want = perScheme.toSeq.sortBy(_._1).map {
      case (scheme, (nk, mb, ncf, ncs, ver)) =>
        val prec = if (ncs > 0) round6(ver.size.toDouble / ncs) else 0.0
        val rec = if (union.nonEmpty) round6(ver.size.toDouble / union.size) else 0.0
        (scheme, nk, mb, ncf, ncs, ver.size.toLong, prec, rec)
    }
    val got = SparkEntry.queries("q_blocking_scheme")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got == want)
    assert(got.map(_._1) == Seq("band", "lenlang4", "prefix8", "soundex1"))
    // census sanity: every scheme's analytic count dominates its stratum
    // pair count, and recalls live in [0, 1]
    got.foreach { g =>
      assert(g._4 >= g._5)
      assert(g._8 >= 0.0 && g._8 <= 1.0)
    }
  }
}
