package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `ip_fixed` ([[IpFixedExpr]]) against the higher-order form it
  * replaced, `aggregate(zip_with(a, b, (x, y) -> x * y), 0L,
  * (acc, v) -> acc + v)`, under ANSI: both give the same value, the
  * same null, or both abort on overflow — with whole-stage codegen on
  * and with interpreted evaluation. */
class IpFixedSpec extends AnyFunSuite with SparkSpec {

  private sealed trait Out
  private case class Value(v: java.lang.Long) extends Out // null = SQL NULL
  private case object Abort extends Out

  private val Max = Long.MaxValue
  private def arr(xs: java.lang.Long*): Seq[java.lang.Long] = xs

  /** (case, a, b, expected outcome) */
  private val cases: Seq[(String, Seq[java.lang.Long], Seq[java.lang.Long], Out)] = Seq(
    ("equal arrays", arr(1L, 2L, 3L), arr(4L, 5L, 6L), Value(32L)),
    ("negative terms", arr(-7L, 2L), arr(3L, -4L), Value(-29L)),
    ("empty arrays", arr(), arr(), Value(0L)),
    ("null left array", null, arr(1L, 2L), Value(null)),
    ("null right array", arr(1L, 2L), null, Value(null)),
    ("null element", arr(1L, null, 3L), arr(4L, 5L, 6L), Value(null)),
    ("length mismatch", arr(1L, 2L, 3L), arr(4L, 5L), Value(null)),
    ("empty against non-empty", arr(), arr(1L), Value(null)),
    ("overflowing product", arr(Max, 1L), arr(2L, 1L), Abort),
    ("overflowing sum", arr(Max, 1L), arr(1L, 1L), Abort),
    ("null element before an overflowing product", arr(null, Max), arr(1L, 2L), Abort),
    ("short side before an overflowing product", arr(Max, 1L), arr(2L), Abort),
    ("short side before an overflowing sum", arr(Max, Max, 1L), arr(1L, 1L), Abort),
    ("null element before an overflowing sum", arr(null, Max, Max), arr(1L, 1L, 1L), Value(null)),
    ("null element after an overflowing sum", arr(Max, Max, null), arr(1L, 1L, 1L), Abort))

  private val schema = StructType(Seq(
    StructField("a", ArrayType(LongType, containsNull = true)),
    StructField("b", ArrayType(LongType, containsNull = true))))

  private def ipFixed: Column =
    GraftBridge.column(IpFixedExpr(GraftBridge.expression(col("a")), GraftBridge.expression(col("b"))))
  private val zipWith: Column =
    expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")

  private def isOverflow(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[ArithmeticException] || isOverflow(t.getCause))

  private def outcome(a: Seq[java.lang.Long], b: Seq[java.lang.Long], c: Column): Out = {
    // repartition keeps the projection out of the optimizer's local-relation folding
    val df = spark.createDataFrame(java.util.List.of(Row(a, b)), schema).repartition(1)
    try Value(df.select(c).head().get(0).asInstanceOf[java.lang.Long])
    catch { case t: Throwable if isOverflow(t) => Abort }
  }

  private def checkAll(): Unit = cases.foreach { case (name, a, b, want) =>
    assert(outcome(a, b, zipWith) == want, s"zip_with form, $name")
    assert(outcome(a, b, ipFixed) == want, s"ip_fixed, $name")
  }

  test("ip_fixed equals the zip_with form under whole-stage codegen") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    checkAll()
  }

  test("ip_fixed equals the zip_with form under interpreted evaluation") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkAll()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
