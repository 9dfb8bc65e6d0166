package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.SparkSpec

/** The two hamming formulations every SimHash consumer relies on —
  * the oracle's positional CASE chain ([[Hamming.sql32]]) and the hot
  * path's integer `bit_count(xor)` over [[Hamming.sigIntCol]] — must
  * agree on every signature pair, and the pigeonhole block geometry
  * must guarantee recall at threshold 3. Property-tested so a change
  * to either formulation (or the geometry constants) that breaks the
  * agreement fails here, not as an oracle hash mismatch. */
class HammingSpec extends AnyFunSuite with SparkSpec {

  private val sigGen: Gen[String] =
    Gen.listOfN(Hamming.SigBits, Gen.oneOf('0', '1')).map(_.mkString)

  test("CASE chain == bit_count(xor) on random signature pairs (Spark eval)") {
    val pairs = Gen.listOfN(200, Gen.zip(sigGen, sigGen)).sample.get
    val s = spark
    import s.implicits._
    val rows = pairs.toDF("sig_a", "sig_b")
      .select(expr(Hamming.sql32).as("positional"),
        (bit_count(Hamming.sigIntCol(col("sig_a"))
          .bitwiseXOR(Hamming.sigIntCol(col("sig_b"))))).as("popcount"))
      .collect()
    assert(rows.length == 200)
    rows.foreach(r => assert(r.getAs[Number](0).longValue == r.getAs[Number](1).longValue, r.toString))
  }

  test("pigeonhole: any pair within hamming 3 shares at least one block") {
    val cases = Gen.listOfN(500,
      Gen.zip(sigGen, Gen.chooseNum(0, 3),
        Gen.listOfN(3, Gen.chooseNum(0, Hamming.SigBits - 1)))).sample.get
    cases.foreach { case (sig, nFlips, positions) =>
      val flipped = positions.take(nFlips).foldLeft(sig) { (acc, p) =>
        acc.updated(p, if (acc(p) == '0') '1' else '0')
      }
      val sharesBlock = (0 until Hamming.Blocks).exists { k =>
        sig.substring(k * Hamming.BlockWidth, (k + 1) * Hamming.BlockWidth) ==
          flipped.substring(k * Hamming.BlockWidth, (k + 1) * Hamming.BlockWidth)
      }
      assert(sharesBlock, s"$sig vs $flipped")
    }
  }
}
