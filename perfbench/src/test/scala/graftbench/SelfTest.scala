package graftbench

import java.math.BigInteger
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.Bytes

import Checks._
import Gen._

/** Self-tests of the benchmark, without Spark: the generator is
  * deterministic in its seed, each checker rejects a corrupted answer
  * (so `failed` cannot silently read 0), the sequential recomputation
  * gives the pinned commitments, and BENCHMARK.json
  * declares exactly the metrics the benchmark prints.
  *
  * {{{
  * python3 perfbench/build.py test
  * }}}
  */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def flip(hex: String): String = {
    val b = Bytes.fromHex(hex)
    b(b.length - 1) = (b(b.length - 1) ^ 1).toByte
    Bytes.toHex(b)
  }

  private def entriesHex(es: Seq[Entry]): Seq[String] =
    es.map(e => s"${e.block}|${Bytes.toHex(e.contract)}|${e.slot}|${e.lengthSlot}|${Bytes.toHex(e.key)}|${Bytes.toHex(e.value)}")

  private def chainOf(seed: Long): (Vector[Entry], Vector[Header]) = Anchors.chain(seed)

  private val smallServe = ServeShape(500L, 12, 16, 4, 1.1, 0.05, 8, 0.2, 2, 4, 2)

  def generator(): Unit = {
    val (a, ha) = chainOf(7)
    val (b, hb) = chainOf(7)
    val (c, _) = chainOf(8)
    check("same seed gives the same entries")(entriesHex(a) == entriesHex(b))
    check("same seed gives the same headers")(ha.map(h => Bytes.toHex(h.rlp)) == hb.map(h => Bytes.toHex(h.rlp)))
    check("another seed gives other entries")(entriesHex(a) != entriesHex(c))
    check("headers chain by parent hash")(ha.sliding(2).forall { case Seq(p, n) => n.parent.sameElements(p.hash) })
    check("keys churn from block to block") {
      val keys = a.groupBy(_.block).map { case (blk, es) => blk -> es.map(e => Bytes.toHex(e.key)).toSet }
      keys(100L) != keys(101L)
    }
    check("no two blocks hold the same entries") {
      a.groupBy(_.block).values.map(es => es.map(e => Bytes.toHex(e.key) + Bytes.toHex(e.value)).toSet).toSet.size ==
        Anchors.chainShape.nBlocks
    }
    check("group sizes are skewed") {
      val sizes = a.filter(_.block == 100L).groupBy(e => Bytes.toHex(e.contract)).values.map(_.size)
      sizes.max > sizes.min
    }
    val t1 = serveTable(new SplittableRandom(3), smallServe)
    val t2 = serveTable(new SplittableRandom(3), smallServe)
    val t3 = serveTable(new SplittableRandom(4), smallServe)
    check("same seed gives the same serve table")(entriesHex(t1.entries) == entriesHex(t2.entries))
    check("another seed gives another serve table")(entriesHex(t1.entries) != entriesHex(t3.entries))
    val q1 = requests(new SplittableRandom(5), t1, 50, 1.0)
    check("same seed gives the same request stream")(q1 == requests(new SplittableRandom(5), t1, 50, 1.0))
    check("another seed gives another request stream")(q1 != requests(new SplittableRandom(6), t1, 50, 1.0))
    check("requests stay inside the table") {
      q1.flatMap(rd => Seq(rd.nft, rd.erc))
        .forall(q => q.minB >= t1.shape.firstBlock && q.maxB <= t1.lastBlock && q.minB <= q.maxB)
    }
  }

  def ingestChecker(): Unit = {
    val (es, hs) = chainOf(11)
    val exp = expectIngest(es, hs, 1L, 4)
    check("ingest: the expected answer passes")(checkIngest(exp, exp.head, exp.sample).isEmpty)
    check("ingest: a flipped head-root byte fails")(
      checkIngest(exp, exp.head.copy(rootHex = flip(exp.head.rootHex)), exp.sample).nonEmpty)
    check("ingest: an off-by-one block count fails")(
      checkIngest(exp, exp.head.copy(nBlocks = exp.head.nBlocks + 1), exp.sample).nonEmpty)
    check("ingest: a broken chain flag fails")(checkIngest(exp, exp.head.copy(chainOk = 0), exp.sample).nonEmpty)
    val (k, row) = exp.sample.head
    check("ingest: a flipped group digest fails")(
      checkIngest(exp, exp.head, exp.sample.updated(k, row.copy(digestHex = flip(row.digestHex)))).nonEmpty)
    check("ingest: a flipped storage root fails")(
      checkIngest(exp, exp.head, exp.sample.updated(k, row.copy(rootHex = flip(row.rootHex)))).nonEmpty)
    check("ingest: an off-by-one group count fails")(
      checkIngest(exp, exp.head, exp.sample.updated(k, row.copy(n = row.n + 1))).nonEmpty)
    check("ingest: a missing group fails")(checkIngest(exp, exp.head, exp.sample - k).nonEmpty)
  }

  def serveChecker(): Unit = {
    val t = serveTable(new SplittableRandom(21), smallServe)
    val kd = (id: Long) => graft.core.Commitments.keyOnlyDigest(idKey(id))
    // the owner holding the most ids over a short range, so the answer is non-empty
    val q = Request((0 until smallServe.nOwners).maxBy(o => t.ownerOf(0).count(_ == o)), 500L, 501L)
    val a = expectQuery2(t, q, 5, kd)
    check("serve: the test query has qualifying ids")(a.nQualified > 0)
    check("serve: the expected Query2 answer passes")(checkQuery2(a, a).isEmpty)
    check("serve: an off-by-one id fails")(checkQuery2(a, a.copy(ids = a.ids.updated(0, a.ids.head + 1))).nonEmpty)
    check("serve: an off-by-one count fails")(checkQuery2(a, a.copy(nQualified = a.nQualified - 1)).nonEmpty)
    check("serve: a flipped digest byte fails")(checkQuery2(a, a.copy(digestHex = flip(a.digestHex))).nonEmpty)
    val rate = BigInteger.TEN.pow(18)
    val supply = BigInteger.TEN.pow(20)
    val e = expectErc20(t, Request(0, 500L, 505L), rate, supply)
    check("serve: the expected ERC20 answer passes")(checkErc20(e, e).isEmpty)
    check("serve: an off-by-one block count fails")(checkErc20(e, e.copy(nBlocks = e.nBlocks + 1)).nonEmpty)
    check("serve: a flipped result byte fails")(checkErc20(e, e.copy(resultHex = flip(e.resultHex))).nonEmpty)
    check("serve: an ERC20 answer clamps to the table") {
      val c = expectErc20(t, Request(0, 0L, 10000L), rate, supply)
      c.rangeMin == t.shape.firstBlock && c.rangeMax == t.lastBlock && c.nBlocks == t.shape.nBlocks
    }
  }

  def appendChecker(): Unit = {
    val (es, hs) = chainOf(31)
    val groups = storageGroups(es, _ => true)
    val leaves = blockLeaves(hs, stateRoots(groups.values, slotsOf(es)))
    val roots = prefixRoots(hs.map(_.block), leaves)
    val storage = groups.values.toSet
    check("append: the expected blocks pass")(checkAppend(roots, roots, storage, storage).isEmpty)
    val b = hs(2).block
    check("append: a flipped root_after byte fails that block")(
      checkAppend(roots, roots.updated(b, flip(roots(b))), storage, storage).map(_._1) == Seq(b))
    check("append: a missing block fails")(checkAppend(roots, roots - b, storage, storage).map(_._1) == Seq(b))
    check("append: an extra block fails")(
      checkAppend(roots, roots.updated(b + 100, roots(b)), storage, storage).map(_._1) == Seq(b + 100))
    val row = storage.head
    check("append: a changed maintained storage row fails")(
      checkAppend(roots, roots, storage, storage - row + row.copy(n = row.n + 1)).map(_._1) == Seq(-1L))
    check("append: the last prefix root is the root over all leaves")(
      roots(hs.last.block) == Bytes.toHex(graft.core.Commitments.merkleRoot(leaves)))
  }

  /** the sequential recomputation gives the pinned commitments, so a
    * kernel change cannot move the expected values along with the
    * engine's outputs */
  def anchors(): Unit = {
    val ref = Anchors.reference()
    Anchors.mismatches("recomputation", ref).foreach(m => println(s"  $m"))
    check("the recomputation gives every pinned commitment")(
      Anchors.mismatches("recomputation", ref).isEmpty && ref.keySet == Anchors.Pinned.keySet)
    check("pins cover the anchor chain, the fixture and the Query2 digest")(
      Seq("chain.block_root", "chain.group0.digest", "fixture.block_root", "fixture.group2.root", "query2.key_digest")
        .forall(Anchors.Pinned.contains))
    val k = "chain.block_root"
    check("a flipped anchor byte is reported")(
      Anchors.mismatches("test", ref.updated(k, flip(ref(k)))).size == 1)
  }

  def tailRule(): Unit = {
    check("40 samples: tail is p75")(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0)
    check("39 samples: tail is the maximum")(Stats.tail((1 to 39).map(_.toDouble)) == ((100.0, 39.0)))
    check("1000 samples: tail is p99")(Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0)
  }

  def declaredMetrics(root: String): Unit = {
    val j = new ObjectMapper().readTree(Files.readString(Paths.get(root, "BENCHMARK.json")))
    def pairs(k: String) = j.get(k).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check("BENCHMARK.json end_to_end is what the benchmark prints")(pairs("end_to_end") == Main.EndToEnd)
    check("BENCHMARK.json per_layer is what the traced run prints")(pairs("per_layer") == Layers.Declared)
    check("BENCHMARK.json workloads are the benchmark's")(
      j.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workload.Names)
  }

  def main(args: Array[String]): Unit = {
    generator()
    ingestChecker()
    serveChecker()
    appendChecker()
    anchors()
    tailRule()
    declaredMetrics(args.headOption.getOrElse("."))
    println(s"self-test: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
