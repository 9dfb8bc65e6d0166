package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Z-order key: column expression must equal the reference interleave,
  * and the layout it induces must actually deliver multi-column
  * locality (bounded per-chunk ranges on BOTH dimensions, where a
  * plain sort leaves the trailing dimension unclustered).
  */
class ZOrderSpec extends AnyFunSuite with SparkSpec {

  test("column expression equals the reference interleave") {
    val s = spark
    import s.implicits._
    val rows = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zorderCol(Seq(col("x"), col("y")), bits = 6).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == ZOrder.zorderValue(Seq(x, y), bits = 6), s"($x,$y)")
    }
  }

  test("z-sorted chunks are bounded in BOTH dimensions; x-sorted chunks are not") {
    val s = spark
    import s.implicits._
    val side = 64L
    val rows = (for (x <- 0L until side; y <- 0L until side) yield (x, y))
    val df = rows.toDF("x", "y")

    def maxChunkSpan(sorted: Array[(Long, Long)], dim: ((Long, Long)) => Long): Long =
      sorted.grouped(256).map { chunk =>
        val v = chunk.map(dim); v.max - v.min
      }.max

    val zSorted = df
      .orderBy(ZOrder.zorderCol(Seq(col("x"), col("y")), bits = 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val xSorted = rows.sortBy(t => (t._1, t._2)).toArray

    // a 256-row chunk of a 64×64 z-curve covers a 16×16 tile: span 15
    assert(maxChunkSpan(zSorted, _._1) <= 16, "x span under z-order")
    assert(maxChunkSpan(zSorted, _._2) <= 16, "y span under z-order")
    // an x-sorted chunk spans the whole y range
    assert(maxChunkSpan(xSorted, _._2) == side - 1, "y span under x-sort")
  }
}
