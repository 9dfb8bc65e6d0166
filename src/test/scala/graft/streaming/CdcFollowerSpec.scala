package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.VersionedTable

/** CDC follower: the incrementally-maintained view must equal a full
  * recompute after EVERY version step — across inserts, updates,
  * deletes, group births and group deaths — and catching up over
  * several pending versions must land on the same state.
  */
class CdcFollowerSpec extends AnyFunSuite with SparkSpec {

  private def df(rows: Seq[(Long, Long, Double)]) = {
    val s2 = spark
    import s2.implicits._
    rows.toDF("k", "grp", "v")
  }

  private def viewRows(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, BigDecimal)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1),
      BigDecimal(r.getDecimal(2)))).toSet

  test("view equals recompute after every version step, including group death and birth") {
    val dir = Files.createTempDirectory("cdc_follow").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    // v0: groups 1 (k 0..4), 2 (k 5..9)
    t.commit(df((0L until 10L).map(k => (k, 1L + k / 5, k * 1.0))), Seq("k"), None)

    val f = new CdcFollower(spark, t, Seq("k"), "grp", "v")
    f.seed(0)
    assert(viewRows(f.snapshot()) == viewRows(f.recomputed()))

    // v1: update some of group 1, delete part of group 2
    val s2 = spark; import s2.implicits._
    t.merge(
      Seq((1L, 1L, 100.0, false), (5L, 2L, 0.0, true), (6L, 2L, 0.0, true))
        .toDF("k", "grp", "v", "del"),
      Seq("k"), Some(0), deleteCol = Some("del"))
    f.advance()
    assert(f.version == 1)
    assert(viewRows(f.snapshot()) == viewRows(f.recomputed()))

    // v2: kill group 2 entirely (death) and insert group 3 (birth)
    t.merge(
      Seq((7L, 2L, 0.0, true), (8L, 2L, 0.0, true), (9L, 2L, 0.0, true),
        (20L, 3L, 7.5, false), (21L, 3L, 2.5, false))
        .toDF("k", "grp", "v", "del"),
      Seq("k"), Some(1), deleteCol = Some("del"))
    f.advance()
    val v2 = viewRows(f.snapshot())
    assert(v2 == viewRows(f.recomputed()))
    assert(!v2.exists(_._1 == 2L), "group 2 must drop out of the view")
    assert(v2.exists(_._1 == 3L), "group 3 must appear")
  }

  test("catchUp applies several pending versions step-by-step to the same state") {
    val dir = Files.createTempDirectory("cdc_follow2").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 8L).map(k => (k, k % 2, k * 2.0))), Seq("k"), None)
    val f = new CdcFollower(spark, t, Seq("k"), "grp", "v")
    f.seed(0)

    val s2 = spark; import s2.implicits._
    t.merge(Seq((0L, 0L, 50.0, false)).toDF("k", "grp", "v", "del"),
      Seq("k"), Some(0), deleteCol = Some("del"))
    t.merge(Seq((1L, 1L, 0.0, true), (100L, 5L, 9.0, false)).toDF("k", "grp", "v", "del"),
      Seq("k"), Some(1), deleteCol = Some("del"))
    t.merge(Seq((2L, 0L, -4.0, false)).toDF("k", "grp", "v", "del"),
      Seq("k"), Some(2), deleteCol = Some("del"))

    f.catchUp()
    assert(f.version == 3)
    assert(viewRows(f.snapshot()) == viewRows(f.recomputed()))
  }

  test("a long follow crosses the lineage checkpoint and the plan stays bounded") {
    val s2 = spark; import s2.implicits._
    val dir = Files.createTempDirectory("cdc_follow_long").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 8L).map(k => (k, k % 2, k * 2.0))), Seq("k"), None)
    val f = new CdcFollower(spark, t, Seq("k"), "grp", "v")
    f.seed(0)
    // 18 steps: crosses the every-8-steps localCheckpoint twice
    (1 to 18).foreach { i =>
      t.merge(Seq((i.toLong % 8, i.toLong % 3, i * 1.5, false)).toDF("k", "grp", "v", "del"),
        Seq("k"), Some(i - 1), deleteCol = Some("del"))
      f.advance()
      assert(viewRows(f.snapshot()) == viewRows(f.recomputed()), s"diverged at step $i")
    }
    // the checkpointed view's plan no longer chains one join per step
    val planDepth = f.snapshot().queryExecution.logical.collect { case n => n }.size
    assert(planDepth < 40, s"lineage not truncated: $planDepth logical nodes after 18 steps")
  }

  test("a no-op commit is stepped over, not fatal") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("cdc_follow3").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 4L).map(k => (k, k % 2, k * 1.0))), Seq("k"), None)
    val f = new CdcFollower(spark, t, Seq("k"), "grp", "v")
    f.seed(0)
    t.merge(Seq.empty[(Long, Long, Double, Boolean)].toDF("k", "grp", "v", "del"),
      Seq("k"), Some(0), deleteCol = Some("del"))
    t.merge(Seq((0L, 0L, 9.0, false)).toDF("k", "grp", "v", "del"),
      Seq("k"), Some(1), deleteCol = Some("del"))
    f.catchUp()
    assert(f.version == 2)
    assert(viewRows(f.snapshot()) == viewRows(f.recomputed()))
  }
}
