package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Binned range join vs the naive cross-join filter — same matches for
  * every bin width (bin choice affects cost only, never results), and
  * interval endpoints are inclusive.
  */
class RangeJoinSpec extends AnyFunSuite with SparkSpec {

  test("matches the naive cross-join filter for several bin widths") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    val points    = Seq.fill(200)((rnd.nextInt(1000).toLong, rnd.nextInt(100))).toDF("p", "payload")
    val intervals = Seq.fill(60) {
      val st = rnd.nextInt(1000).toLong
      (st, st + rnd.nextInt(80).toLong, rnd.nextInt(9))
    }.toDF("s", "e", "ivid")

    val naive = points.crossJoin(intervals)
      .filter(col("p") >= col("s") && col("p") <= col("e"))
      .select("p", "payload", "s", "e", "ivid")
      .collect().map(_.toSeq).sortBy(_.toString)

    for (w <- Seq(1L, 7L, 64L, 1024L)) {
      val binned = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", w)
        .select("p", "payload", "s", "e", "ivid")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(binned.length == naive.length, s"binWidth=$w: ${binned.length} vs ${naive.length}")
      assert(binned.sameElements(naive), s"binWidth=$w mismatch")
    }
  }

  test("inclusive endpoints: a point equal to start or end matches") {
    val s = spark
    import s.implicits._
    val points    = Seq(10L, 20L, 21L).toDF("p")
    val intervals = Seq((10L, 20L)).toDF("s", "e")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", 5)
      .select("p").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(10L, 20L)))
  }
}
