package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Bloom runtime filter: no false negatives ever, false-positive rate
  * within the sized bound, build is partitioning-invariant (bit-OR
  * merge commutes), membership is codegen-stable, and the prefiltered
  * semi join is exactly the semi join.
  */
class BloomFilterSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("no false negatives: every inserted key is found") {
    val s = spark; import s.implicits._
    val keys = (0 until 20000).map(i => s"key-$i")
    val filter = keys.toDF("k")
      .agg(BloomFilter.bloomAgg(BloomFilter.keyBytes(col("k"))))
      .head().getAs[Array[Byte]](0)
    keys.foreach(k => assert(BloomFilter.mightContain(filter, bytes(k)), s"$k must be present"))
  }

  test("false-positive rate on fresh keys is within the sized bound") {
    val s = spark; import s.implicits._
    // n=20k keys in m=2^20 bits with k=5 → theoretical fpp ≈ 5e-5;
    // assert a 100× slack bound (0.5%) over a 50k-probe sample.
    val filter = (0 until 20000).map(i => s"key-$i").toDF("k")
      .agg(BloomFilter.bloomAgg(BloomFilter.keyBytes(col("k"))))
      .head().getAs[Array[Byte]](0)
    val probes = 50000
    val fp = (0 until probes).count(i => BloomFilter.mightContain(filter, bytes(s"absent-$i")))
    assert(fp.toDouble / probes < 0.005, s"$fp false positives in $probes probes")
  }

  test("build is partitioning-invariant (bit-OR merge commutes)") {
    val s = spark; import s.implicits._
    val df = (0 until 5000).map(i => s"key-$i").toDF("k")
    val a = df.repartition(1)
      .agg(BloomFilter.bloomAgg(BloomFilter.keyBytes(col("k")))).head().getAs[Array[Byte]](0)
    val b = df.repartition(13, col("k"))
      .agg(BloomFilter.bloomAgg(BloomFilter.keyBytes(col("k")))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }

  test("codegen and interpreted membership agree on a DataFrame probe") {
    val s = spark; import s.implicits._
    val filter = (0 until 1000).map(i => s"key-$i").toDF("k")
      .agg(BloomFilter.bloomAgg(BloomFilter.keyBytes(col("k"))))
      .head().getAs[Array[Byte]](0)
    val probe = ((0 until 1000).map(i => s"key-$i") ++ (0 until 1000).map(i => s"no-$i")).toDF("k")
    val viaExpr = probe
      .filter(BloomFilter.mightContainCol(filter, BloomFilter.keyBytes(col("k"))))
      .collect().map(_.getString(0)).toSet
    val viaKernel = probe.collect().map(_.getString(0))
      .filter(k => BloomFilter.mightContain(filter, bytes(k))).toSet
    assert(viaExpr == viaKernel)
    assert((0 until 1000).forall(i => viaExpr.contains(s"key-$i")))
  }

  test("bloom semi join equals the exact semi join") {
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 300000).select("o_orderkey")
    val bloomed = BloomFilter.semiJoin(fact, col("l_orderkey"), dim, col("o_orderkey"))
      .select("l_orderkey", "l_linenumber")
    val exact = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty)
  }

  test("the prefilter sits in the plan below the residual join") {
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 300000).select("o_orderkey")
    val plan = BloomFilter.semiJoin(fact, col("l_orderkey"), dim, col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), s"prefilter missing from plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"residual join should broadcast the small dim:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"never a nested loop:\n$plan")
  }
}
