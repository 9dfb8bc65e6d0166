package graft.streaming

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** StreamingDrift contract: the profile is additive (any micro-batch
  * split of the same rows yields the same profile and scores), null
  * bins key deterministically, and an unbounded feature fails loudly
  * at the MaxBins ceiling instead of growing driver state with the
  * stream. */
class StreamingDriftSpec extends AnyFunSuite with SparkSpec {

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "feature", "bin")
  }

  private val rows: Seq[(Long, String, String)] =
    (0L until 90L).map(i => (i, "lang", s"l${i % 4}")) ++
      (0L until 90L).map(i => (i, "source", s"s${i % 9}"))

  test("profile is additive: 1 batch == 3 batches == shuffled batches") {
    val one = new StreamingDrift
    one.processBatch(df(rows))
    val three = new StreamingDrift
    rows.grouped(60).foreach(c => three.processBatch(df(c)))
    val shuffled = new StreamingDrift
    scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(rows).grouped(25).foreach(c => shuffled.processBatch(df(c)))
    assert(one.profile == three.profile && one.profile == shuffled.profile)
    val ref = rows.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.size.toLong }
    assert(one.scores(ref).values.forall(_._4 == 0L)) // identical windows: zero drift
    assert(one.scores(Map(("lang", "l0") -> 90L)).apply("lang")._4 > 20000L)
  }

  test("killed mid-stream + restart resumes the exact profile; replayed batch ids are no-ops") {
    val stateDir = java.nio.file.Files.createTempDirectory("drift_state").toString
    val chunks = rows.grouped(45).toSeq // 4 micro-batches

    val mv1 = new StreamingDrift(Some(stateDir))
    mv1.processBatch(df(chunks(0)), batchId = 0L)
    mv1.processBatch(df(chunks(1)), batchId = 1L)
    val atCrash = mv1.profile
    // the kill: a FRESH monitor over the same state dir resumes exactly
    val mv2 = new StreamingDrift(Some(stateDir))
    assert(mv2.profile == atCrash, "persisted profile must survive the kill")
    // crash landed the fold of batch 1 but not the checkpoint — the
    // restarted stream REDELIVERS it; additivity would double-count
    // without the batch-id gate
    mv2.processBatch(df(chunks(1)), batchId = 1L)
    assert(mv2.profile == atCrash, "replayed batch id must be a no-op")
    mv2.processBatch(df(chunks(2)), batchId = 2L)
    mv2.processBatch(df(chunks(3)), batchId = 3L)

    val uninterrupted = new StreamingDrift
    chunks.foreach(c => uninterrupted.processBatch(df(c)))
    assert(mv2.profile == uninterrupted.profile,
      "restarted run must end bit-identical to uninterrupted")
    val ref = rows.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.size.toLong }
    assert(mv2.scores(ref) == uninterrupted.scores(ref))
  }

  test("a batch id regression fails loudly (fresh checkpoint over retained state)") {
    val d = new StreamingDrift
    d.processBatch(df(rows), batchId = 5L)
    d.processBatch(df(rows), batchId = 5L) // replay of the last id: no-op
    val e = intercept[IllegalArgumentException] {
      d.processBatch(df(rows), batchId = 0L) // renumbered-from-0 checkpoint
    }
    assert(e.getMessage.contains("batch id regression"))
  }

  test("null bins key deterministically") {
    val mv = new StreamingDrift
    mv.processBatch(df(Seq((1L, "lang", null), (2L, "lang", null))))
    assert(mv.profile == Map(("lang", "∅") -> 2L))
  }

  test("unbounded feature cardinality fails loudly at MaxBins") {
    val mv = new StreamingDrift
    val wide = (0L until (mv.MaxBins + 1).toLong).map(i => (i, "doc_id", i.toString))
    val e = intercept[IllegalArgumentException](mv.processBatch(df(wide)))
    assert(e.getMessage.contains("bins"))
  }
}
