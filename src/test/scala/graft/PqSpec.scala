package graft

import graft.ann.Pq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization ADC: determinism, code-shape invariants, exactness
  * on already-quantized vectors, and the measured recall/compression trade
  * on the sf0.01 embeddings.
  */
class PqSpec extends AnyFunSuite with SparkTestBase {

  private val sf = SparkTestBase.Sf001Dir
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("fit is deterministic; encode yields valid m-entry codes for every vector") {
    val m1 = Pq.fit(emb, "embedding", "vec_id", m = 8, k = 16)
    val m2 = Pq.fit(emb, "embedding", "vec_id", m = 8, k = 16)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(m1.m == 8 && m1.k == 16 && m1.subDim == 8)
    val codes = Pq.encode(emb, "embedding", m1)
      .select(col("code")).collect().map(_.getSeq[Int](0))
    assert(codes.length == 500)
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("fit rejects a subspace count that does not divide the dimension") {
    val e = intercept[IllegalArgumentException] {
      Pq.fit(emb, "embedding", "vec_id", m = 7, k = 16)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("ADC score equals the exact inner product against the code's reconstruction") {
    // The defining ADC identity: score(LUT(q), code(x)) == dot(q, recon(x))
    // where recon(x) stitches the per-subspace centroids code(x) names —
    // asserted bit-for-bit in doubles (both sides are the same
    // left-to-right fold), for every (query, corpus) pair.
    val model = Pq.fit(emb, "embedding", "vec_id", m = 8, k = 16)
    val q = emb.filter(col("vec_id") < 10)
    val codes = Pq.encode(emb, "embedding", model).select(col("vec_id"), col("code"))
    val adc = Pq.adcTopK(q, codes, model, "embedding", "vec_id", k = 500)
      .select("q", "n", "adc").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val codeOf = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecOf = emb.collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    val sub = model.subDim
    for (((qid, nid), got) <- adc) {
      val qv = vecOf(qid)
      var want = 0.0
      var s0 = 0
      while (s0 < model.m) {
        val cent = model.codebooks(s0)(codeOf(nid)(s0))
        var d = 0.0; var i = 0
        while (i < sub) { d += qv(s0 * sub + i).toDouble * cent(i); i += 1 }
        want += d
        s0 += 1
      }
      assert(got == want, s"ADC($qid,$nid): $got vs $want")
    }
    assert(adc.size == 10 * 499, s"expected every pair scored, got ${adc.size}")
  }

  test("measured recall@10 vs exact inner product rises with code width") {
    val q = emb.filter(col("vec_id") < 50)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("dot").desc, col("n"))
    def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (0 until 64).map(i =>
        element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
        .reduceLeft(_ + _)
    val truth = q.select(col("vec_id").as("q"), col("embedding").as("qv"))
      .join(emb.select(col("vec_id").as("n"), col("embedding").as("nv")),
        col("q") =!= col("n"))
      .select(col("q"), col("n"), dotC(col("qv"), col("nv")).as("dot"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(8, 16, 32).map { m =>
      val model = Pq.fit(emb, "embedding", "vec_id", m = m, k = 16)
      val codes = Pq.encode(emb, "embedding", model).select(col("vec_id"), col("code"))
      val got = Pq.adcTopK(q, codes, model, "embedding", "vec_id", k = 10)
        .select("q", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    // the compression/recall trade must be a real trade on this corpus
    // (isotropic synthetic embeddings — the hardest case for quantizers,
    // same caveat as IvfSpec): wider codes strictly help, floors are the
    // measurements in BASELINE.md's PQ-ADC census (0.272 / 0.440 / 0.668)
    // with slack
    assert(recalls(0) < recalls(1) && recalls(1) < recalls(2),
      s"recall not rising with code width: $recalls")
    assert(recalls(2) >= 0.55, s"m=32 recall ${recalls(2)} below measured floor")
    assert(recalls(0) >= 0.15, s"m=8 recall ${recalls(0)} below measured floor")
  }
}
