package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Product-quantization index: codes must be well-formed and
  * deterministic, the ADC column must equal the driver-side table
  * lookup, and shortlist-then-rerank must recover most of the exact
  * top-k (the quality contract of the compression).
  */
class PqIndexSpec extends AnyFunSuite with SparkSpec {

  // sf0.01: same 500 embeddings row count as sf0.001, but this draw
  // contains the planted near-dup structure the recall check needs
  private val sf = "/root/testdata/sf0.01"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("codes are length m with values in [0, ksub); training is deterministic") {
    val model = PqIndex.train(emb, m = 8, ksub = 16)
    assert(model.subDim == 8)
    val codes = PqIndex.encode(emb, model).select("code").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(v => v >= 0 && v < 16)))

    val model2 = PqIndex.train(emb, m = 8, ksub = 16)
    assert(model.codebooks.flatten.flatten.toSeq == model2.codebooks.flatten.flatten.toSeq,
      "same seed must reproduce the same codebooks")
  }

  test("ADC column equals the driver-side lookup sum") {
    val model = PqIndex.train(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val table = model.adcTable(q)
    val got = PqIndex.encode(emb, model)
      .withColumn("adc", PqIndex.adcDistCol(model, q))
      .select("code", "adc").collect()
    got.foreach { r =>
      val code = r.getSeq[Int](0)
      val want = code.zipWithIndex.map { case (c, j) => table(j * model.ksub + c) }.sum
      assert(math.abs(r.getDouble(1) - want) < 1e-9)
    }
  }

  test("shortlist-then-exact-rerank recovers most of the exact top-10") {
    val model = PqIndex.train(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

    // exact fixed-point-IP ground truth, computed driver-side
    val qfx = q.map(x => math.round(x * 1e7))
    val all = emb.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(x => math.round(x * 1e7))))
    val exact = all.map { case (id, f) =>
      (id, f.zip(qfx).map { case (a, b) => a * b }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet

    val got = PqIndex
      .search(PqIndex.encode(emb.filter(col("vec_id") =!= 0), model), model, q, shortlist = 50, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & got).size / 10.0
    assert(recall >= 0.6, s"recall@10 = $recall (shortlist=50 over 500 vectors)")
  }
}
