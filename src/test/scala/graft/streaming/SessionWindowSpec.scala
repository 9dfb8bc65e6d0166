package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

final case class Ev(user_id: Long, ts: Timestamp)

/** Streaming session_window: sessions must MERGE across micro-batches
  * (an event arriving later that bridges two open sessions collapses
  * them into one) and the appended result must equal the batch
  * session_window over the same data.
  */
class SessionWindowSpec extends AnyFunSuite with SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  // user 1: events @0 @10 @60 — two sessions (gap 30m: the first ends
  // @40 ≤ 60) UNLESS the late @35 event arrives and bridges them
  // (35 < 10+30 merges left, extending the end to 65; 60 < 65 merges
  // right); user 2: single event @5.
  private val early = Seq(Ev(1, ts(0)), Ev(1, ts(10)), Ev(1, ts(60)), Ev(2, ts(5)))
  private val bridge = Ev(1, ts(35))
  private val flush = Ev(99, ts(10000)) // advances the watermark far past every session

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("s"), col("sw.end").as("e"), col("n"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
      r.getTimestamp(2).getTime, r.getLong(3))).filter(_._1 != 99L).toSet

  test("late event bridges two open sessions across micro-batches; equals batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[Ev]
    val q = agg(es.toDF().withWatermark("ts", "3 hours"))
      .writeStream.format("memory").queryName("sw_out").outputMode("append").start()

    es.addData(early: _*)
    q.processAllAvailable()
    es.addData(bridge) // arrives in a LATER batch, inside the watermark
    q.processAllAvailable()
    es.addData(flush)
    q.processAllAvailable()
    val streamed = rows(spark.table("sw_out"))
    q.stop()

    val batch = rows(agg((early :+ bridge :+ flush).toDF()))
    assert(streamed == batch)
    // the bridge collapsed user 1 into ONE session 0..100min (70+30)
    assert(streamed.count(_._1 == 1L) == 1)
    assert(streamed.find(_._1 == 1L).get._4 == 4L)
  }

  test("without the bridge, the same events close as two separate sessions") {
    val s = spark
    import s.implicits._
    val batch = rows(agg(early.toDF()))
    assert(batch.count(_._1 == 1L) == 2)
  }
}
