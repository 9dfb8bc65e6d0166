package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

final case class Arrival(id: Long, ts: Timestamp)

/** Built-in streaming exact dedup with bounded state:
  * dropDuplicatesWithinWatermark suppresses re-deliveries of the same
  * key across micro-batches while the key is inside the watermark,
  * and EVICTS the key's state once the watermark passes — the
  * complement of the custom near-dup StreamingDedup (which needs
  * similarity, not equality). The eviction is what makes exactly-once
  * ingest dedup deployable on an unbounded stream: state is
  * O(keys inside the watermark window), not O(all keys ever).
  */
class DropDupWatermarkSpec extends AnyFunSuite with SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("re-deliveries inside the watermark are suppressed; state evicts after it passes") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[Arrival]
    val q = es.toDF().withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").start()

    es.addData(Arrival(1, ts(0)), Arrival(2, ts(1)))
    q.processAllAvailable()
    // same ids re-delivered in a LATER batch, still inside the watermark
    es.addData(Arrival(1, ts(2)), Arrival(2, ts(3)), Arrival(3, ts(4)))
    q.processAllAvailable()
    val afterRedelivery = spark.table("ddw_out").collect().map(_.getLong(0))
    assert(afterRedelivery.sorted.toSeq == Seq(1L, 2L, 3L),
      s"each id must appear exactly once: ${afterRedelivery.mkString(",")}")

    // advance event time far past the watermark: old keys' state evicts,
    // so a very late re-delivery of id 1 is treated as NEW (documented
    // at-least-once boundary of watermark-bounded dedup)
    es.addData(Arrival(50, ts(600)))
    q.processAllAvailable()
    es.addData(Arrival(1, ts(601)))
    q.processAllAvailable()
    val ids = spark.table("ddw_out").collect().map(_.getLong(0))
    val removed = q.recentProgress.flatMap(Option(_))
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(ids.count(_ == 1L) == 2, "evicted key re-admitted after the watermark passed")
    assert(removed > 0, "watermark-driven state eviction never happened")
  }
}
