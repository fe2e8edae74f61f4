package graft

import org.scalatest.funsuite.AnyFunSuite

/** q_decontam_bloom contract: the Bloom prefilter is a pure candidate
  * prune (possible false positives, NO false negatives by the Bloom
  * guarantee), and the exact broadcast verify behind it kills the false
  * positives — so the output must be row-for-row identical to the exact
  * q_decontam on any input. Both queries run on the driver's sf0.01
  * tables here; the shared DuckDB oracle re-proves the equality
  * independently per round.
  */
class DecontamBloomSpec extends AnyFunSuite with SparkTestBase {

  test("bloom-prefiltered decontam equals the exact decontam row-for-row") {
    val dir = SparkTestBase.Sf001Dir
    val exact = SparkEntry.queries("q_decontam")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloom = SparkEntry.queries("q_decontam_bloom")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(exact.nonEmpty, "vacuous corpus: no contaminated docs at all")
    assert(bloom === exact)
  }
}
