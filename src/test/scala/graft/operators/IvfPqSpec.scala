package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** IVF-PQ composed index: encoding well-formedness, and the recall
  * contract — probing half the lists with a residual-coded shortlist
  * must recover most of the exact top-10.
  */
class IvfPqSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("codes well-formed; every vector lands in a posting list") {
    val model = IvfPq.train(emb, nlist = 16, m = 8, ksub = 16)
    val enc = IvfPq.encode(emb, model)
      .select("list_id", "code").collect()
    assert(enc.length == 500)
    assert(enc.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    assert(enc.forall(r => { val c = r.getSeq[Int](1); c.length == 8 && c.forall(v => v >= 0 && v < 16) }))
  }

  test("probe half the lists, recover most of the exact top-10") {
    val model = IvfPq.train(emb, nlist = 16, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

    val qfx = q.map(x => math.round(x * 1e7))
    val exact = emb.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val f = r.getSeq[Float](1).toArray.map(x => math.round(x * 1e7))
        (r.getLong(0), f.zip(qfx).map { case (a, b) => a * b }.sum)
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet

    val got = IvfPq
      .search(IvfPq.encode(emb.filter(col("vec_id") =!= 0), model), model, q,
        nprobe = 8, shortlist = 50, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & got).size / 10.0
    // residual coding quantizes finer than plain PQ — with the full-q
    // ADC table this measures 1.0 on the fixture; 0.8 leaves margin
    assert(recall >= 0.8, s"recall@10 = $recall (nprobe=8/16, shortlist=50)")
  }
}
