package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Distributed BPE training vs a pure-Scala reference trainer with the
  * same tie-break and merge semantics — the Spark loop must reproduce
  * the sequential algorithm exactly.
  */
class BpeTrainerSpec extends AnyFunSuite with SparkSpec {

  /** sequential reference: same (count desc, left, right) tie-break,
    * same left-to-right non-overlapping merge. */
  private def refTrain(freqs: Map[String, Long], merges: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      freqs.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, r, c))
        words = words.map { case (syms, f) =>
          BpeTrainer.mergeOnce(syms, l, r).toVector -> f
        }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        step += 1
      }
    }
    out.toSeq
  }

  test("classic corpus: Spark merges equal the sequential reference") {
    val s = spark
    import s.implicits._
    val freqs = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val df = freqs.toSeq.toDF("word", "freq")
    val want = refTrain(freqs, merges = 6)
    // driverCap=0 forces the distributed loop; the default takes the
    // collected-vocab fast path — both must equal the reference
    for (cap <- Seq(0L, BpeTrainer.DriverVocabCap)) {
      val got = BpeTrainer.train(df, merges = 6, driverCap = cap).map(r => (r.left, r.right, r.count))
      assert(got == want, s"cap=$cap:\ngot:  $got\nwant: $want")
      // the canonical first merges for this corpus: ('e','s') then ('es','t')
      assert(got.take(2).map(t => (t._1, t._2)) == Seq(("e", "s"), ("es", "t")))
    }
  }

  test("merge loop stops when no pairs remain (single-char vocab)") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 3L), ("b", 2L)).toDF("word", "freq")
    assert(BpeTrainer.train(df, merges = 4).isEmpty)
  }

  test("applyMerges tokenizes with the learned table in rule order") {
    val rules = Seq(
      BpeTrainer.Rule(1, "e", "s", 0L),
      BpeTrainer.Rule(2, "es", "t", 0L))
    assert(BpeTrainer.applyMerges("newest", rules) == Seq("n", "e", "w", "est"))
    assert(BpeTrainer.applyMerges("es", rules) == Seq("es"))
    assert(BpeTrainer.applyMerges("abc", rules) == Seq("a", "b", "c"))
  }

  test("overlapping runs merge left-to-right non-overlapping") {
    assert(BpeTrainer.mergeOnce(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(BpeTrainer.mergeOnce(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
  }
}
