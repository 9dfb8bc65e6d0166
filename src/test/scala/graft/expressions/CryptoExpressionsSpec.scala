package graft.expressions

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{Bytes, Commitments, Keccak}
import graft.functions.GraftFunctions

/** Native codegen expressions vs the pure kernels: the generated-Java
  * path and the sequential path must agree byte-for-byte, and the SQL
  * registration through SparkSessionExtensions must plan the native
  * expression. */
class CryptoExpressionsSpec extends AnyFunSuite with SparkSpec {

  test("keccak256 expression matches the kernel under whole-stage codegen") {
    val s2 = spark
    import s2.implicits._
    val inputs = (0 until 100).map(i => s"input-$i".getBytes("UTF-8"))
    val df = spark.createDataset(inputs).toDF("b").repartition(4)
    val got = df.select(hex(GraftFunctions.keccak256(col("b"))).as("h")).collect().map(_.getString(0))
    val want = inputs.map(b => Bytes.toHex(Keccak.keccak256(b)).toUpperCase)
    assert(got.sorted.toSeq == want.sorted)
  }

  test("codegen and interpreted evaluation agree") {
    val s2 = spark
    import s2.implicits._
    val df = spark.createDataset(Seq("x".getBytes, "yy".getBytes)).toDF("b")
    val on = df.select(hex(GraftFunctions.keccak256(col("b")))).collect().map(_.getString(0)).sorted.toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = df.select(hex(GraftFunctions.keccak256(col("b")))).collect().map(_.getString(0)).sorted.toSeq
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("leaf hash/digest expressions match kernels") {
    val s2 = spark
    import s2.implicits._
    val k = Bytes.leftPad32(Bytes.beBytes(7L, 4))
    val v = Bytes.leftPad32(Bytes.beBytes(99L, 8))
    val df = spark.createDataset(Seq((k, v))).toDF("k", "v")
    val row = df.select(
      hex(GraftFunctions.mappingLeafHash(col("k"), col("v"))).as("h"),
      hex(GraftFunctions.mappingLeafDigest(col("k"), col("v"))).as("d")).collect()(0)
    assert(row.getString(0).equalsIgnoreCase(Bytes.toHex(Commitments.mappingLeafHash(k, v))))
    assert(row.getString(1).equalsIgnoreCase(Bytes.toHex(Commitments.mappingLeafDigest(k, v))))
  }

  test("u256 add / mulDiv expressions match kernels and abort on violations") {
    val s2 = spark
    import s2.implicits._
    val a = graft.core.U256.toBytes32(java.math.BigInteger.valueOf(1234567L))
    val b = graft.core.U256.toBytes32(java.math.BigInteger.valueOf(89L))
    val c = graft.core.U256.toBytes32(java.math.BigInteger.valueOf(17L))
    val df = spark.createDataset(Seq((a, b, c))).toDF("a", "b", "c")
    val row = df.select(
      hex(GraftFunctions.u256Add(col("a"), col("b"))).as("s"),
      hex(GraftFunctions.u256MulDiv(col("a"), col("b"), col("c"))).as("q")).collect()(0)
    assert(row.getString(0).equalsIgnoreCase(Bytes.toHex(graft.core.U256.addBytes(a, b))))
    assert(row.getString(1).equalsIgnoreCase(Bytes.toHex(graft.core.U256.mulDivBytes(a, b, c))))
    // div-zero aborts through the codegen path too
    val zero = graft.core.U256.toBytes32(java.math.BigInteger.ZERO)
    val bad = spark.createDataset(Seq((a, b, zero))).toDF("a", "b", "c")
    intercept[Exception] {
      bad.select(GraftFunctions.u256MulDiv(col("a"), col("b"), col("c"))).collect()
    }
    // SQL surface plans the native expression
    df.createOrReplaceTempView("u256t")
    val viaSql = spark.sql("SELECT hex(u256_mul_div(a, b, c)) FROM u256t").collect()(0).getString(0)
    assert(viaSql.equalsIgnoreCase(Bytes.toHex(graft.core.U256.mulDivBytes(a, b, c))))
  }

  test("keccak256 of literals constant-folds in the optimizer (foldable expression)") {
    val df = spark.sql("SELECT keccak256(CAST('abc' AS BINARY)) AS h FROM range(3)")
    val optimized = df.queryExecution.optimizedPlan.toString
    // after ConstantFolding the keccak call is gone — only the literal remains
    assert(!optimized.toLowerCase.contains("keccak256"), optimized)
  }

  test("SQL surface via SparkSessionExtensions plans the native expression") {
    val out = spark.sql("SELECT hex(keccak256(CAST('abc' AS BINARY))) AS h").collect()(0).getString(0)
    assert(out.equalsIgnoreCase(Bytes.toHex(Keccak.keccak256("abc".getBytes))))
    val b = "CAST('abc' AS BINARY)"
    val native: Map[String, (String, Class[_])] = Map(
      "keccak256" -> (s"keccak256($b)", classOf[Keccak256Expr]),
      "mapping_leaf_hash" -> (s"mapping_leaf_hash($b, $b)", classOf[MappingLeafHashExpr]),
      "mapping_leaf_digest" -> (s"mapping_leaf_digest($b, $b)", classOf[MappingLeafDigestExpr]),
      "u256_add" -> (s"u256_add($b, $b)", classOf[U256AddExpr]),
      "u256_mul_div" -> (s"u256_mul_div($b, $b, $b)", classOf[U256MulDivExpr]),
      "nfc_normalize" -> ("nfc_normalize('abc')", classOf[NfcNormalizeExpr]),
      "deflate_ratio" -> ("deflate_ratio('abc')", classOf[DeflateRatioExpr]),
      "simhash128" -> ("simhash128(1L, 2L)", classOf[SimHash128Expr]),
      "lsh_scale_vec" -> ("lsh_scale_vec(1L, 8)", classOf[LshScaleVecExpr]))
    // every name the session maps to a graft.expressions class has a row above
    val injected = spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.expressions.")))
      .map(_.name).toSet
    assert(injected == native.keySet, "the names the session maps to graft.expressions classes")
    native.foreach { case (name, (call, cls)) =>
      val analyzed = spark.sql(s"SELECT $call").queryExecution.analyzed
      val exprs = analyzed.expressions.flatMap(_.collect { case e => e })
      assert(exprs.exists(cls.isInstance), s"$name did not plan ${cls.getSimpleName}:\n$analyzed")
      assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"$name analyzes to a UDF:\n$analyzed")
    }
  }

  test("nfc_normalize folds decomposed forms, codegen and interpreted agree, SQL surface works") {
    val s2 = spark
    import s2.implicits._
    val decomposed = "café"
    val precomposed = "caf" + "\u00e9"
    val df = spark.createDataset(Seq(decomposed, precomposed, "plain", "")).toDF("t")
    def run() = df.select(GraftFunctions.nfcNormalize(col("t"))).collect().map(_.getString(0)).toSeq
    val on = run()
    assert(on == Seq(precomposed, precomposed, "plain", ""))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == on)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(spark.sql(s"SELECT nfc_normalize('$decomposed') = '$precomposed'")
      .collect()(0).getBoolean(0))
  }

  test("deflate_ratio orders repetitive < natural < noise; codegen and interpreted agree") {
    val s2 = spark
    import s2.implicits._
    val repetitive = Seq.fill(200)("spam").mkString(" ")
    val natural = "the quick brown fox jumps over the lazy dog and then " +
      "wanders far away to find a quiet place for an afternoon nap"
    val noise = {
      val r = new scala.util.Random(42)
      (0 until 800).map(_ => (33 + r.nextInt(94)).toChar).mkString
    }
    val df = spark.createDataset(Seq(repetitive, natural, noise)).toDF("t")
    def run() = df.select(GraftFunctions.deflateRatio(col("t"))).collect().map(_.getDouble(0)).toSeq
    val Seq(rr, rn, rz) = run()
    assert(rr < rn && rn < rz, s"$rr $rn $rz")
    assert(rr < 0.2 && rz > 0.8, s"$rr $rz")
    // kernel parity with the expression path
    assert(rr == graft.expressions.TextKernels.deflateRatio(
      org.apache.spark.unsafe.types.UTF8String.fromString(repetitive)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == Seq(rr, rn, rz))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // empty string is defined as 1.0 (nothing to judge)
    assert(spark.sql("SELECT deflate_ratio('')").collect()(0).getDouble(0) == 1.0)
  }
}
