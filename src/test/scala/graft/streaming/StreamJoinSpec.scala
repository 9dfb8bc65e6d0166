package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

final case class Click(click_id: Long, c_user: Long, c_ts: Timestamp)
final case class Purchase(purchase_id: Long, p_user: Long, p_ts: Timestamp)

/** Stream-stream interval join: the streaming execution of
  * StreamJoin.joinPair (watermarks on both sides, append output) must
  * produce exactly the batch join's pairs even when the two sides
  * arrive interleaved across micro-batches and out of order.
  */
class StreamJoinSpec extends AnyFunSuite with SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  // user 1: click@0 → purchases @10 (in window) and @40 (outside 30m);
  // user 2: click@5 → purchase @20 (in), purchase by user 3 @6 (wrong user);
  // user 4: purchase @2 with no click — never joins.
  private val clicks = Seq(Click(100, 1, ts(0)), Click(101, 2, ts(5)))
  private val purchases = Seq(
    Purchase(200, 1, ts(10)), Purchase(201, 1, ts(40)),
    Purchase(202, 2, ts(20)), Purchase(203, 3, ts(6)), Purchase(204, 4, ts(2)))

  private def expected: Set[(Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    StreamJoin.joinPair(clicks.toDF(), purchases.toDF(), windowSec = 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("batch twin joins exactly the in-window same-user pairs") {
    assert(expected == Set((100L, 200L, 1L), (101L, 202L, 2L)))
  }

  test("streaming join under adversarial cross-batch arrival equals the batch twin") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val cs = MemoryStream[Click]
    val ps = MemoryStream[Purchase]
    val joined = StreamJoin.joinPair(
      cs.toDF().withWatermark("c_ts", "2 hours"),
      ps.toDF().withWatermark("p_ts", "2 hours"),
      windowSec = 1800L)
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()

    // purchases BEFORE their clicks, interleaved across batches
    ps.addData(purchases(0), purchases(3))
    q.processAllAvailable()
    cs.addData(clicks(1))
    q.processAllAvailable()
    ps.addData(purchases(2), purchases(4))
    q.processAllAvailable()
    cs.addData(clicks(0))
    ps.addData(purchases(1))
    q.processAllAvailable()

    val got = spark.table("sj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == expected)
  }

  test("the join plan carries a state-eviction time bound (no unbounded buffering)") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val cs = MemoryStream[Click]
    val ps = MemoryStream[Purchase]
    val joined = StreamJoin.joinPair(
      cs.toDF().withWatermark("c_ts", "10 minutes"),
      ps.toDF().withWatermark("p_ts", "10 minutes"),
      windowSec = 1800L)
    val q = joined.writeStream.format("memory").queryName("sj_bound")
      .outputMode("append").start()
    cs.addData(clicks(0)); ps.addData(purchases(0))
    q.processAllAvailable()
    val op = q.lastProgress.stateOperators
    assert(op.nonEmpty && op.exists(_.operatorName.toLowerCase.contains("join")),
      s"expected a stateful symmetric-hash join operator: ${q.lastProgress}")
    val buffered = op.map(_.numRowsTotal).sum
    assert(buffered > 0, "both sides should be buffered in state initially")

    // advance event time far past the watermark delay + join window:
    // the recognized range condition must let the join EVICT the old
    // buffered rows (an unbounded join would keep them forever)
    cs.addData(Click(999, 9, ts(6000)))
    ps.addData(Purchase(998, 9, ts(6001)))
    q.processAllAvailable()
    // one more micro-batch so eviction (computed against the advanced
    // watermark) lands in a progress entry
    cs.addData(Click(997, 9, ts(6002)))
    q.processAllAvailable()
    val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(removed > 0, "watermark-driven state eviction never happened")
  }
}
