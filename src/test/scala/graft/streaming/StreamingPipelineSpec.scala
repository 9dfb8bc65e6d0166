package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The streaming training-data pipeline (StreamingPipeline: dedup →
  * gate/mix → incremental packing MV) vs the batch d18 composition:
  * id-ordered ingest across micro-batches must reproduce the batch
  * manifest exactly — including the Σ bin·tokens layout checksum —
  * and the dedup state must stay O(distinct contents). */
class StreamingPipelineSpec extends AnyFunSuite with SparkSpec {

  private def corpus(n: Int): Seq[StreamingPipeline.Doc] =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(n).collect()
      .map(r => StreamingPipeline.Doc(r.getLong(0), r.getString(1)))

  /** batch twin of the composition over an explicit doc set. */
  private def batchManifest(docs: Seq[StreamingPipeline.Doc], cap: Long = 512L)
      : (Long, Long, Long) = { // (nDocs, totalTokens, checksum)
    val s = spark
    import s.implicits._
    val df = docs.toDF("doc_id", "text")
    val keep = df.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val gated = df.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("n_tokens",
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long"))
      .filter(col("n_tokens") >= 30)
    val u = (expr("CAST(conv(substring(md5(concat('mix|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)") + 1)
      .cast("double") / lit(math.pow(2, 60))
    val mixed = gated
      .filter(u <= expr("CASE doc_id % 3 WHEN 0 THEN 0.9 WHEN 1 THEN 0.5 ELSE 0.2 END"))
      .select("doc_id", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var start = 0L
    var ck = 0L
    mixed.foreach { case (_, n) =>
      (start / cap) to ((start + n - 1) / cap) foreach { bin =>
        ck += bin * (math.min(start + n, (bin + 1) * cap) - math.max(start, bin * cap))
      }
      start += n
    }
    (mixed.length.toLong, start, ck)
  }

  private def runStream(batches: Seq[Seq[StreamingPipeline.Doc]])
      : (StreamingPipeline.PackState, Long) = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[StreamingPipeline.Doc]
    val mv = new StreamingPipeline.PackingMv(cap = 512L, chunk = 16L)
    val q = StreamingPipeline.run(es.toDS(), mv)
    val stateRows =
      try {
        batches.foreach { b => es.addData(b); q.processAllAvailable() }
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    (mv.state, stateRows)
  }

  test("id-ordered micro-batches reproduce the batch manifest, including the layout checksum") {
    val all = corpus(200)
    val (nDocs, total, ck) = batchManifest(all)
    // shuffle WITHIN each batch (allowed); batches stay id-ordered
    val rnd = new scala.util.Random(7)
    val batches = all.grouped(50).map(b => rnd.shuffle(b)).toSeq
    val (st, _) = runStream(batches)
    assert(st.nDocs === nDocs)
    assert(st.totalTokens === total)
    assert(st.checksum === ck)
    assert(st.nFullBins(512L) === total / 512L)
    assert(st.nBins(512L) === (total + 511L) / 512L)
  }

  test("cross-batch duplicate content is dropped; dedup state is one row per distinct content") {
    // synthetic: 30 distinct texts (>= 30 tokens each), each re-sent
    // VERBATIM in a later batch under a new id — only the first copy
    // may reach the manifest
    def doc(id: Long, seed: Long) = StreamingPipeline.Doc(id,
      (0 until 40).map(j => s"w${(seed * 31 + j) % 17}").mkString(" "))
    val originals = (0L until 30L).map(i => doc(i, i))
    val dupes = (0L until 30L).map(i => doc(100L + i, i)) // same text, later ids
    val (st, stateRows) = runStream(Seq(originals, dupes))
    val (nDocs, total, ck) = batchManifest(originals ++ dupes)
    assert(st.nDocs === nDocs)       // batch min-id rule keeps the originals
    assert(st.totalTokens === total)
    assert(st.checksum === ck)
    assert(stateRows === 17L)        // distinct contents: seeds collide mod 17
  }

  test("out-of-order ingest across micro-batches fails loudly instead of corrupting the manifest") {
    def doc(id: Long) = StreamingPipeline.Doc(id,
      (0 until 40).map(j => s"x$id$j").mkString(" "))
    val first = (100L until 120L).map(doc)
    val late = (0L until 20L).map(doc) // smaller ids AFTER larger ones placed
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[StreamingPipeline.Doc]
    val mv = new StreamingPipeline.PackingMv(cap = 512L, chunk = 16L)
    val q = StreamingPipeline.run(es.toDS(), mv)
    try {
      es.addData(first); q.processAllAvailable()
      assert(mv.state.nDocs > 0L)
      es.addData(late)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("out-of-order ingest")), msgs.mkString(" | "))
    } finally q.stop()
  }

  test("killed mid-ingest + restart from checkpoint ends bit-identical to uninterrupted") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val all = corpus(200)
    val batches = all.grouped(50).toSeq
    val (nDocs, total, ck) = batchManifest(all)

    val stateDir = java.nio.file.Files.createTempDirectory("pack_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pack_ckpt").toString
    val es = MemoryStream[StreamingPipeline.Doc]
    val mv1 = new StreamingPipeline.PackingMv(cap = 512L, chunk = 16L, Some(stateDir))
    val q1 = StreamingPipeline.run(es.toDS(), mv1, checkpointDir = Some(ckpt))
    try {
      batches.take(2).foreach { b => es.addData(b); q1.processAllAvailable() }
    } finally q1.stop() // the kill: driver gone mid-ingest
    val atCrash = mv1.state

    // data kept arriving while the pipeline was down
    es.addData(batches(2))

    // restart: a FRESH MV over the same state dir must resume exactly
    // where the crash left it, and a fresh query over the same
    // checkpoint must drain the backlog
    val mv2 = new StreamingPipeline.PackingMv(cap = 512L, chunk = 16L, Some(stateDir))
    assert(mv2.state === atCrash, "persisted manifest must survive the kill")
    val q2 = StreamingPipeline.run(es.toDS(), mv2, checkpointDir = Some(ckpt))
    try {
      q2.processAllAvailable()
      es.addData(batches(3)); q2.processAllAvailable()
    } finally q2.stop()
    assert(mv2.state.nDocs === nDocs)
    assert(mv2.state.totalTokens === total)
    assert(mv2.state.checksum === ck, "restarted run must end bit-identical to uninterrupted")

    // a REDELIVERED micro-batch (crash after fold, before checkpoint
    // commit) only ever carries the LAST applied batch id — must be
    // a no-op
    val replay = batches(0).toDF("doc_id", "text")
      .withColumn("n_tokens", lit(100L)).select("doc_id", "n_tokens")
    val after = mv2.advance(replay, batchId = 3L)
    assert(after === mv2.state && after.nDocs === nDocs,
      "replayed batch id must not double-count")

    // a STRICTLY older id is never a redelivery (Spark only replays
    // the last uncommitted batch) — it means a fresh checkpoint was
    // started over a retained stateDir (ids renumbered from 0).
    // Silently no-oping every "old" batch would corrupt the
    // manifest, so the MV must fail loudly instead.
    val ex = intercept[IllegalArgumentException](mv2.advance(replay, batchId = 0L))
    assert(ex.getMessage.contains("batch id regression"))
  }

  test("empty and gate-failing batches advance nothing") {
    val shortDoc = StreamingPipeline.Doc(0L, "too short") // < 30 tokens
    val (st, _) = runStream(Seq(Seq(shortDoc), Seq.empty))
    assert(st === StreamingPipeline.PackState(0L, 0L, 0L))
  }
}
