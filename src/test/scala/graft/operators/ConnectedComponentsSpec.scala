package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Large-star/small-star connected components vs a brute-force
  * union-find on the same edges — the clustering stage of the dedup
  * pipeline must be exactly the transitive closure, for any graph
  * shape (chains stress depth, random graphs stress merging, stars
  * stress the hot-key path).
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSpec {

  /** reference union-find */
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def check(n: Long, edges: Seq[(Long, Long)]): Unit = {
    val s = spark
    import s.implicits._
    val nodes = s.range(n).toDF("id")
    val e     = edges.toDF("u", "v")
    val want = unionFind(n, edges)
    // both paths must agree with the reference: driverCap=0 forces the
    // distributed star-contraction rounds, the default takes the
    // driver union-find fast path
    for (cap <- Seq(0L, ConnectedComponents.DriverGraphCap)) {
      val got = ConnectedComponents.assign(spark, e, nodes, driverCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == n, s"cap=$cap: expected $n labeled nodes, got ${got.size}")
      assert(got == want, s"cap=$cap mismatch")
    }
  }

  test("deep chain collapses to one component rooted at the minimum") {
    // a 200-node path is the worst case for naive propagation depth
    check(200, (0L until 199L).map(i => (i + 1, i)))
  }

  test("random sparse graph matches union-find") {
    val rnd   = new Random(42)
    val n     = 500L
    val edges = Seq.fill(300)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong)).filter(e => e._1 != e._2)
    check(n, edges)
  }

  test("hot-key star plus singletons") {
    // one node adjacent to 100 others (the skewed-hub dedup shape),
    // the rest singletons
    check(300, (1L to 100L).map(i => (0L, i)))
  }

  test("duplicate and reversed edges do not change the result") {
    val edges = Seq((5L, 6L), (6L, 5L), (5L, 6L), (7L, 6L))
    check(10, edges)
  }

  test("empty edge set yields all singletons") {
    check(5, Seq.empty)
  }
}
