package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Scale-path mechanics: salting must not change results; bucketed
  * co-located joins must eliminate the shuffle. */
class SkewAndBucketSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("salted join is row-identical to the plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_linenumber", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = SkewTools.saltedJoin(li, o, "l_orderkey", salts = 7, saltSource = col("l_linenumber"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(plain.length == salted.length && plain.sameElements(salted))
  }

  test("LSH-shaped skewed bucket: composite-key salted self-join is row-identical and spreads the hot key") {
    val s2 = spark
    import s2.implicits._
    // one boilerplate bucket of 300 docs + 50 healthy buckets of 2
    val rows = (0 until 300).map(i => (i.toLong, 0, "HOT")) ++
      (0 until 100).map(i => (1000L + i, 1 + (i / 2) % 50, s"b${i / 2}"))
    val bands = rows.toDF("doc_id", "band", "sig")
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    assert(SkewTools.maxKeyCardinality(bands, Seq("band", "sig")) == 300L)

    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val plain = pairs(a.join(b, Seq("band", "sig")))
    val salted = pairs(SkewTools.saltedJoin(a, b, Seq("band", "sig"), salts = 16, col("doc_a")))
    assert(plain == salted, "salted band join must be row-identical")
    // the hot bucket's left side really lands on many salt shards,
    // so its pair work spreads over that many tasks instead of one
    val shards = bands.filter(col("sig") === "HOT")
      .select(pmod(xxhash64(col("doc_id")), lit(16L)).cast("int").as("s"))
      .distinct().count()
    assert(shards >= 12, s"expected the hot bucket on ~16 shards, got $shards")
  }

  test("salted aggregation matches direct groupBy") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_l_quantity"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100))).sortBy(_._1).toSeq
    val salted = SkewTools.saltedCountSum(li, "l_returnflag", "l_quantity", salts = 13, saltSource = col("l_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100))).sortBy(_._1).toSeq
    assert(direct == salted)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val dir = java.nio.file.Files.createTempDirectory("buckets").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/li").mode("overwrite").saveAsTable("b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/o").mode("overwrite").saveAsTable("b_orders")
    try {
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}
