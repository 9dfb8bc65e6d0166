package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.pipeline.{Fixtures, ZkPipeline}

/** Streaming Query2 materialized view: coverage counts maintained
  * per-id across micro-batches must reproduce the batch query2 answer
  * at end of stream — and must NOT qualify any id before the full
  * range has been witnessed.
  */
class Query2MvSpec extends AnyFunSuite with SparkSpec {

  test("incremental coverage equals the batch Query2 at end of stream") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg()
    val (minB, maxB) = (cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val nBlocks = maxB - minB + 1

    val stream = MemoryStream[Fixtures.Entry]
    val keyed = Query2Mv.keyed(stream.toDS().toDF(),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0), minB, maxB)
    val q = Query2Mv.updates(keyed, minB, maxB)
      .writeStream.format("memory").queryName("q2mv")
      .outputMode("update").start()

    def qualified(): Seq[Long] = {
      // latest coverage per id (coverage is monotone, so max = latest)
      val latest = spark.table("q2mv").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).max }
      latest.filter(_._2 == nBlocks).keys.toSeq.sorted
    }

    val all = Fixtures.entriesSeq(cfg)
    val (firstHalf, secondHalf) = all.partition(_.block_number <= minB + nBlocks / 2 - 1)

    stream.addData(firstHalf)
    q.processAllAvailable()
    assert(qualified().isEmpty, "no id can qualify before the full range is witnessed")

    stream.addData(secondHalf)
    q.processAllAvailable()
    val got = qualified()
    q.stop()

    val (batchIds, _) = ZkPipeline.query2(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
      Fixtures.userAddr(0), minB, maxB)
    val want = batchIds.collect().map(_.getLong(0)).toSeq
    assert(got == want, s"streaming MV $got vs batch $want")
  }

  test("snapshot-then-stream handoff: bootstrapped state + delta equals the full batch") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg()
    val (minB, maxB) = (cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val nBlocks = maxB - minB + 1
    val splitB = minB + nBlocks / 2 - 1 // snapshot covers [minB, splitB]

    // batch pass over the ingested history → per-id bitmask snapshot
    val snapshot = Query2Mv.snapshotState(
      Fixtures.entries(spark, cfg).filter(s"block_number <= $splitB"),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0), minB, splitB)

    // the stream sees ONLY the post-snapshot blocks
    val stream = MemoryStream[Fixtures.Entry]
    val keyed = Query2Mv.keyed(stream.toDS().toDF(),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0), minB, maxB)
    val q = Query2Mv.updatesFrom(keyed, minB, maxB, snapshot)
      .writeStream.format("memory").queryName("q2mv_boot")
      .outputMode("update").start()
    stream.addData(Fixtures.entriesSeq(cfg).filter(_.block_number > splitB))
    q.processAllAvailable()
    val latest = spark.table("q2mv_boot").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).max }
    q.stop()

    val got = latest.filter(_._2 == nBlocks).keys.toSeq.sorted
    val (batchIds, _) = ZkPipeline.query2(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
      Fixtures.userAddr(0), minB, maxB)
    val want = batchIds.collect().map(_.getLong(0)).toSeq
    assert(got == want, s"bootstrapped MV $got vs batch $want")
    assert(got.nonEmpty, "fixture must qualify at least one id for the handoff to be probed")
  }

  test("wide range (200 blocks): snapshot handoff + stream equals batch, lanes grow on demand") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val (minB, maxB) = (100L, 299L)
    val nBlocks = maxB - minB + 1
    val owner = graft.core.Bytes.beBytes(8L, 8)
    val entries = Fixtures.entriesScaled(spark, nBlocks = 200, keysPerBlock = 50)
    // snapshot covers [100, 230] → 3 striped lanes; the stream then
    // extends coverage to block 299 → lane 3 must grow on demand
    val splitB = 230L

    val snapshot = Query2Mv.snapshotState(
      entries.filter(s"block_number <= $splitB"),
      Fixtures.contractAddr(0), 3, owner, minB, splitB)
    assert(snapshot.collect().forall(_._2.length == 3),
      "snapshot over 131 blocks must carry exactly 3 lanes")

    val delta = Query2Mv.keyed(entries.filter(s"block_number > $splitB"),
      Fixtures.contractAddr(0), 3, owner, minB, maxB).collect().toSeq
    val stream = MemoryStream[Query2Mv.KeyedEntry]
    val q = Query2Mv.updatesFrom(stream.toDS(), minB, maxB, snapshot)
      .writeStream.format("memory").queryName("q2mv_wide")
      .outputMode("update").start()
    stream.addData(delta)
    q.processAllAvailable()
    val latest = spark.table("q2mv_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).max }
    q.stop()

    val got = latest.filter(_._2 == nBlocks).keys.toSeq.sorted
    val (batchIds, _) = ZkPipeline.query2(
      entries, Fixtures.contractAddr(0), 3, owner, minB, maxB)
    val want = batchIds.collect().map(_.getLong(0)).toSeq
    assert(got == want, s"wide-range MV $got vs batch $want")
    assert(got.nonEmpty, "scaled fixture must qualify at least one id at owner 8")
  }

  test("streaming ERC20 reward sum equals the batch query at end of stream") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg()
    val (minB, maxB) = (cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val rate = java.math.BigInteger.valueOf(7L)
    val supply = java.math.BigInteger.valueOf(1000L)

    val stream = MemoryStream[Fixtures.Entry]
    val keyed = Erc20Mv.keyed(stream.toDS().toDF(),
      Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2), rate, supply, minB, maxB)
    val q = Erc20Mv.updates(keyed, minB, maxB)
      .writeStream.format("memory").queryName("erc20mv")
      .outputMode("update").start()

    val all = Fixtures.entriesSeq(cfg)
    // adversarial split: user entries arrive AFTER the rest of their block
    val (userRows, otherRows) = all.partition { e =>
      e.mapping_key.sameElements(graft.core.Bytes.leftPad32(Fixtures.userAddr(2)))
    }
    stream.addData(otherRows)
    q.processAllAvailable()
    stream.addData(userRows)
    q.processAllAvailable()
    val last = spark.table("erc20mv").collect().last
    q.stop()

    val batch = ZkPipeline.queryErc20(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
      Fixtures.userAddr(2), rate, supply, minB, maxB).collect()(0)
    assert(last.getLong(0) == batch.getAs[Long]("n_blocks"))
    assert(last.getBoolean(1) == batch.getAs[Boolean]("gap_free"))
    assert(last.getString(2) ==
      graft.core.Bytes.toHex(batch.getAs[Array[Byte]]("result")),
      "streaming U256 sum must equal the batch result")
  }

  test("ERC20 snapshot-then-stream handoff equals the full batch reward") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg()
    val (minB, maxB) = (cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val splitB = minB + (maxB - minB) / 2
    val rate = java.math.BigInteger.valueOf(7L)
    val supply = java.math.BigInteger.valueOf(1000L)

    val snapshot = Erc20Mv.snapshotState(
      Fixtures.entries(spark, cfg).filter(s"block_number <= $splitB"),
      Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2),
      rate, supply, minB, splitB)
    // the snapshot must carry a non-zero running sum for the handoff
    // to actually be probed
    assert(new java.math.BigInteger(1, snapshot.collect().head._2.sum).signum() > 0)

    val stream = MemoryStream[Fixtures.Entry]
    val keyed = Erc20Mv.keyed(stream.toDS().toDF(),
      Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2), rate, supply, minB, maxB)
    val q = Erc20Mv.updatesFrom(keyed, minB, maxB, snapshot)
      .writeStream.format("memory").queryName("erc20mv_boot")
      .outputMode("update").start()
    stream.addData(Fixtures.entriesSeq(cfg).filter(_.block_number > splitB))
    q.processAllAvailable()
    val last = spark.table("erc20mv_boot").collect().last
    q.stop()

    val batch = ZkPipeline.queryErc20(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
      Fixtures.userAddr(2), rate, supply, minB, maxB).collect()(0)
    assert(last.getLong(0) == batch.getAs[Long]("n_blocks"))
    assert(last.getBoolean(1) == batch.getAs[Boolean]("gap_free"))
    assert(last.getString(2) == graft.core.Bytes.toHex(batch.getAs[Array[Byte]]("result")))
  }

  test("a misrouted block outside the MV range fails the batch instead of growing state") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val stream = MemoryStream[Query2Mv.KeyedEntry]
    val q = Query2Mv.updates(stream.toDS(), 100L, 163L)
      .writeStream.format("memory").queryName("q2mv_bound")
      .outputMode("update").start()
    try {
      // a corrupt offset would otherwise allocate a ~1.5G-lane state
      // array; the fold must reject it before StripedMask.set runs
      stream.addData(Seq(
        Query2Mv.KeyedEntry(1L, 100L),
        Query2Mv.KeyedEntry(1L, 100L + 100000000000L)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("outside the MV range")), msgs.mkString(" | "))
    } finally q.stop()
  }
}
