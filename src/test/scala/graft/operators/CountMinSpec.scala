package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Count-min sketch: one-sided error bound against exact counts, and
  * partitioning invariance (the merge path must commute).
  */
class CountMinSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def words = spark.read.parquet(s"$sf/documents.parquet")
    .select(explode(split(col("text"), " ")).as("w"))
    .filter(col("w") =!= "")

  test("estimates are one-sided and within the e/width bound for every word") {
    val depth = 4; val width = 1024
    val counters = words.agg(CountMin.cmsAgg(col("w"), depth, width)).head().getSeq[Long](0)
    val sk = CountMin.fromArray(counters, depth, width)
    val exact = words.groupBy("w").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = exact.map(_._2).sum
    val bound = (math.E / width * n).ceil.toLong
    exact.foreach { case (w, c) =>
      val est = sk.estimate(w)
      assert(est >= c, s"$w: estimate $est below exact $c — CMS can never undercount")
      assert(est <= c + bound, s"$w: estimate $est exceeds exact $c + bound $bound")
    }
  }

  test("sketch is partitioning-invariant (merge commutes)") {
    val a = words.repartition(1).agg(CountMin.cmsAgg(col("w"))).head().getSeq[Long](0)
    val b = words.repartition(13, col("w")).agg(CountMin.cmsAgg(col("w"))).head().getSeq[Long](0)
    assert(a == b)
  }
}
