package graft.pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Aggregators
import graft.functions.GraftFunctions._

/** Decomposes the storage-DB 1M-entry wall into kernel vs aggregation
  * machinery: times count-only, commit+count (kernel, no custom aggs),
  * digest-only, merkle-only, and the full build. Print-only. */
class StorageDbCostProbe extends AnyFunSuite {
  test("storageDb 1M cost decomposition") {
    val spark = graft.Graft.session("local[32]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    def entries = Fixtures.entriesScaled(spark, nBlocks = 1000, keysPerBlock = 1000)
    def noop(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val base = entries.groupBy("block_number", "contract").agg(count(lit(1)).as("n"))
    noop(base) // warm
    println(f"rows+groupBy count only:   ${noop(base)}%.2f s")
    val kern = entries.withColumn("c", mappingLeafCommit(col("mapping_key"), col("value")))
      .groupBy("block_number", "contract").agg(count(lit(1)).as("n"), max(length(col("c"))).as("m"))
    println(f"commit kernel + count agg: ${noop(kern)}%.2f s")
    val dig = entries.withColumn("c", mappingLeafCommit(col("mapping_key"), col("value")))
      .groupBy("block_number", "contract")
      .agg(Aggregators.digestAgg(substring(col("c"), 33, 81)).as("digest"))
    println(f"commit + digestAgg:        ${noop(dig)}%.2f s")
    val mer = entries.withColumn("c", mappingLeafCommit(col("mapping_key"), col("value")))
      .groupBy("block_number", "contract")
      .agg(Aggregators.merkleRoot(col("mapping_key"), substring(col("c"), 1, 32)).as("root"))
    println(f"commit + merkleRoot:       ${noop(mer)}%.2f s")
    println(f"full storageDb:            ${noop(ZkPipeline.storageDb(entries))}%.2f s")
    spark.stop()
  }
}
