package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Source-format breadth (S1): the same rows through parquet, CSV and
  * JSON-lines with explicit schemas (no inference — SURVEY §1.2's
  * fixed-schema rule) must agree. */
class SourcesSpec extends AnyFunSuite with SparkSpec {

  test("parquet, CSV and JSONL round-trip the same rows under explicit schemas") {
    val base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .limit(500)
    val dir = Files.createTempDirectory("sources").toString
    base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    base.write.mode("overwrite").json(s"$dir/json")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderstatus", StringType)))
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$dir/csv")
    val fromJson = spark.read.schema(schema).json(s"$dir/json")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted.toSeq
    assert(snap(fromCsv) == snap(base))
    assert(snap(fromJson) == snap(base))
    // and filters still prune on the alternative sources
    assert(fromCsv.filter(col("o_totalprice") > 100000).count() ==
      base.filter(col("o_totalprice") > 100000).count())
  }

  test("ORC round-trips the same rows and pushes filter + projection to the reader") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("orc_src").toString
    base.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == base.count())
    val filtered = back.filter(col("lang") === "en").select("doc_id", "n_chars")
    val p = filtered.queryExecution.executedPlan.toString
    // the predicate reaches the ORC reader (PushedFilters) and the
    // scan schema is pruned to the projected columns
    assert(p.contains("PushedFilters") && p.contains("lang"), p.take(2000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("source"), readSchema)
    assert(filtered.count() ==
      base.filter(col("lang") === "en").count())
  }

  test("PERMISSIVE quarantine preserves the raw malformed line and never drops good rows") {
    val dir = Files.createTempDirectory("quarantine").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(to_json(struct(col("doc_id"), col("text")))).limit(50)
      .write.mode("overwrite").text(dir)
    Files.writeString(java.nio.file.Paths.get(dir, "bad.txt"),
      "utterly not json\n{\"doc_id\": 9,,}\n")
    val read = spark.read
      .schema("doc_id LONG, text STRING, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .cache() // corrupt-column-only projections require materialization
    try {
      val bad = read.filter(col("_corrupt").isNotNull)
        .select("_corrupt").collect().map(_.getString(0)).sorted
      assert(bad.toSeq == Seq("utterly not json", "{\"doc_id\": 9,,}"))
      assert(read.filter(col("_corrupt").isNull).count() == 50)
    } finally read.unpersist()
  }
}
