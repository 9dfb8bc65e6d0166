package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The fused simhash128 kernel vs the unrolled SQL formulation it
  * replaces in dd_scale_10m: word strings from the planted
  * (seed, uid) recipe, xxhash64 per word, long-rehash for the hi
  * half, 128-bit xxhash fingerprint over the word hashes, per-bit
  * majority vote — both paths must agree column-for-column, so the
  * native expression is provably the same operator, just rolled into
  * one compact per-row loop (see SimHash128.scala for the JIT-width
  * motivation). */
class SimHash128Spec extends AnyFunSuite with SparkSpec {

  private val nWords = graft.core.SimHash128.NWords

  /** the flat SQL twin: exactly the expressions the kernel documents. */
  private def sqlFormulation(docs: org.apache.spark.sql.DataFrame) = {
    val wordCols = (1 to (nWords - 1)).map(j =>
      concat(lit("w"), pmod(xxhash64(col("seed"), lit(j)), lit(50000L))).as(s"w$j")) :+
      concat(lit("u"), col("uid")).as(s"w$nWords")
    val words = docs.select(col("doc_id") +: wordCols: _*)
    val withH = words.select(col("doc_id") +:
      (1 to nWords).map(j => xxhash64(col(s"w$j")).as(s"h${j}_lo")): _*)
      .select(col("doc_id") +:
        xxhash64((1 to nWords).map(j => col(s"h${j}_lo")): _*).as("f1") +:
        xxhash64(lit(1L) +: (1 to nWords).map(j => col(s"h${j}_lo")): _*).as("f2") +:
        ((1 to nWords).map(j => col(s"h${j}_lo")) ++
         (1 to nWords).map(j => xxhash64(col(s"h${j}_lo")).as(s"h${j}_hi"))): _*)
    val laneMask = java.lang.Long.parseLong("0101010101010101", 16)
    def lanes(half: String) = (0 until 8).map { i =>
      (1 to nWords).map(j => expr(s"(h${j}_$half >> $i) & $laneMask"))
        .reduce(_ + _).as(s"l${i}_$half")
    }
    val withLanes = withH.select(
      col("doc_id") +: col("f1") +: col("f2") +: (lanes("lo") ++ lanes("hi")): _*)
    val loMask = 0x00FFFFFFFFFFFFFFL
    val addT = {
      val t = (128 - nWords / 2).toLong
      (0 until 7).map(b => t << (8 * b)).reduce(_ | _)
    }
    def sigCol(half: String): Column = (0 until 8).map { i =>
      val l = s"l${i}_$half"
      expr(s"shiftleft(((((($l & $loMask) + $addT) >> 7) & 282578800148737) | " +
        s"shiftleft((((($l >> 56) + ${128 - nWords / 2}) >> 7) & 1), 56)), $i)")
    }.reduce(_ bitwiseOR _)
    withLanes.select(col("doc_id"), col("f1"), col("f2"),
      sigCol("lo").as("lo"), sigCol("hi").as("hi"))
  }

  test("kernel == unrolled SQL formulation on the planted corpus shape") {
    val docs = spark.range(10000).select(
      col("id").as("doc_id"),
      expr("CASE WHEN id % 97 = 96 THEN id - 1 ELSE id END").as("uid"))
      .select(col("doc_id"),
        expr("CASE WHEN uid % 101 <= 1 THEN uid - (uid % 101) ELSE uid END").as("seed"),
        col("uid"))
    val viaSql = sqlFormulation(docs).orderBy("doc_id").collect()
    val viaKernel = docs
      .select(col("doc_id"), expr("simhash128(seed, uid)").as("x"))
      .select(col("doc_id"), expr("x[0]").as("f1"), expr("x[1]").as("f2"),
        expr("x[2]").as("lo"), expr("x[3]").as("hi"))
      .orderBy("doc_id").collect()
    assert(viaSql.length == 10000 && viaKernel.length == 10000)
    viaSql.zip(viaKernel).foreach { case (a, b) => assert(a == b, s"mismatch: $a vs $b") }
  }

  test("interpreted eval agrees with codegen and exact copies collide") {
    val k1 = graft.core.SimHash128.kernel(7L, 7L)
    val k2 = graft.core.SimHash128.kernel(7L, 7L)
    assert(k1.toSeq == k2.toSeq)
    // interpreted path (nullSafeEval) — force via expression eval
    val e = SimHash128Expr(
      org.apache.spark.sql.catalyst.expressions.Literal(7L),
      org.apache.spark.sql.catalyst.expressions.Literal(7L))
    val arr = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.toLongArray().toSeq == k1.toSeq)
    // one changed word (different uid, same seed) keeps f-fingerprint
    // different and hamming small-but-nonzero in expectation
    val k3 = graft.core.SimHash128.kernel(7L, 8L)
    assert(k3(0) != k1(0) || k3(1) != k1(1))
  }
}
