package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Value-level checks for q_pprl (Bloom-filter privacy-preserving record
  * linkage, Schnell/Bachteler/Reiher 2009). The driver oracle defines
  * candidacy identically in DuckDB, so it locks determinism, not recall —
  * these tests re-derive the 256-bit encodings from first principles and
  * compare the blocked pipeline against the exact O(n²) truth:
  *   1. recall — every pair with encoding Dice ≥ 0.8 survives the
  *      ≥6-shared-byte-pair-keys vote (no blocked-away true match);
  *   2. values — each emitted dice_enc equals the brute-force Dice;
  *   3. fidelity — encoding matches are plaintext matches (the PPRL
  *      evaluation criterion: linkage on encodings ≈ linkage on text).
  */
class PprlSpec extends AnyFunSuite with SparkTestBase {

  private val dir = SparkTestBase.Sf001Dir

  /** Mirror of the query's encoding: lowercased 40-char prefix, distinct
    * 8-char shingles, two md5-hex-derived positions per shingle into a
    * 256-bit filter.
    */
  private def bloom(text: String): Set[Int] = {
    val t = text.toLowerCase.take(40)
    val shingles =
      if (t.length < 8) Set(t)
      else (0 to t.length - 8).map(i => t.substring(i, i + 8)).toSet
    val md = MessageDigest.getInstance("MD5")
    shingles.flatMap { f =>
      val hex = md.digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Seq((java.lang.Long.parseLong(hex.substring(0, 7), 16) % 256).toInt,
          (java.lang.Long.parseLong(hex.substring(7, 14), 16) % 256).toInt)
    }
  }

  private def dice(a: Set[Int], b: Set[Int]): Double =
    2.0 * a.count(b.contains) / (a.size + b.size)

  test("q_pprl: blocked linkage ≡ exact all-pairs Dice ≥ 0.8 truth, with plaintext fidelity") {
    val emitted = SparkEntry.queries("q_pprl")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    assert(emitted.nonEmpty)

    val blooms = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> bloom(r.getString(1)))

    // exact truth over all C(n,2) encoding pairs
    var truth = 0
    for (i <- blooms.indices; j <- i + 1 until blooms.length) {
      val (ida, ba) = blooms(i)
      val (idb, bb) = blooms(j)
      if (dice(ba, bb) >= 0.8) {
        truth += 1
        val key = if (ida < idb) (ida, idb) else (idb, ida)
        assert(emitted.contains(key), s"true match $key blocked away")
      }
    }
    assert(truth > 0, "corpus has no Dice>=0.8 encoding pairs to check recall on")
    // precision is definitional (the query filters on dice_enc >= 0.8), so
    // truth == emitted.size means zero spurious rows too
    assert(emitted.size == truth, s"emitted ${emitted.size} vs $truth true pairs")

    val bmap = blooms.toMap
    emitted.foreach { case ((a, b), (de, dt)) =>
      val exact = dice(bmap(a), bmap(b))
      assert(math.abs(de - exact) < 1e-6, s"($a,$b): dice_enc=$de exact=$exact")
      // fidelity: an encoding-level match is a plaintext-level near-match
      assert(dt >= 0.6, s"($a,$b): encoding match but plaintext dice only $dt")
    }
  }
}
