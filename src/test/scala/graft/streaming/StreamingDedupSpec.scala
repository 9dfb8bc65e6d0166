package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Streaming incremental dedup: docs arriving across micro-batches are
  * verdicted against everything that arrived before — exact dups by
  * content hash, near dups by simhash blocks — with state carried in
  * the bucket-keyed flatMapGroupsWithState stage.
  *
  * Fixture hammings (md5-derived, deterministic): base vs one-word
  * variant = 1 bit; base vs unrelated text = 12 bits.
  */
class StreamingDedupSpec extends AnyFunSuite with SparkSpec {

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima " +
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee " +
    "zulu one two three four"
  private val near = base.replace("kilo", "kilogram")
  private val far = "entirely unrelated content about cooking pasta with tomato sauce and " +
    "fresh basil leaves in a small kitchen yesterday evening while listening to old radio " +
    "programs from distant stations"

  test("kernel: fixture distances are as designed") {
    assert(Integer.bitCount(StreamingDedup.simhash32(base) ^ StreamingDedup.simhash32(near)) == 1)
    assert(Integer.bitCount(StreamingDedup.simhash32(base) ^ StreamingDedup.simhash32(far)) > 3)
  }

  test("cross-batch exact and near dups are flagged; unrelated docs keep") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.verdicts(stream.toDS())
      .writeStream.format("memory").queryName("dedup_verdicts")
      .outputMode("update").start()

    stream.addData(StreamingDedup.Doc(1, base), StreamingDedup.Doc(2, far))
    q.processAllAvailable()
    stream.addData(StreamingDedup.Doc(3, base), StreamingDedup.Doc(4, near))
    q.processAllAvailable()
    val rows = spark.table("dedup_verdicts").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    q.stop()

    assert(rows(1L) == ("keep", -1L), rows)
    assert(rows(2L) == ("keep", -1L), rows)
    assert(rows(3L) == ("exact_dup", 1L), rows)
    assert(rows(4L) == ("near_dup", 1L), rows)
  }

  test("intra-batch duplicate: larger id is flagged against smaller") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.verdicts(stream.toDS())
      .writeStream.format("memory").queryName("dedup_verdicts2")
      .outputMode("update").start()
    stream.addData(StreamingDedup.Doc(10, base), StreamingDedup.Doc(11, base))
    q.processAllAvailable()
    val rows = spark.table("dedup_verdicts2").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    q.stop()
    assert(rows(10L) == ("keep", -1L), rows)
    assert(rows(11L) == ("exact_dup", 10L), rows)
  }

  test("maxPerBucket caps per-bucket state: evicted history no longer matches") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    def run(cap: Int, name: String): Map[Long, (String, Long)] = {
      val stream = MemoryStream[StreamingDedup.Doc]
      val q = StreamingDedup.verdicts(stream.toDS(), maxPerBucket = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      stream.addData(StreamingDedup.Doc(1, base), StreamingDedup.Doc(2, base),
        StreamingDedup.Doc(3, base))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      q.stop()
      rows
    }
    // unbounded: doc 3 matches the OLDEST copy (min id 1)
    assert(run(Int.MaxValue, "dedup_uncapped")(3L) == ("exact_dup", 1L))
    // cap 1: filing doc 2 evicted doc 1, so doc 3 can only match doc 2
    val capped = run(1, "dedup_capped")
    assert(capped(2L) == ("exact_dup", 1L), capped)
    assert(capped(3L) == ("exact_dup", 2L),
      s"evicted doc 1 must no longer be matchable: $capped")
  }
}
