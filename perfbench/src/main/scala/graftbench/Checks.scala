package graftbench

import java.math.BigInteger
import java.util.SplittableRandom

import graft.core.{Bytes, Commitments, U256}

import Gen.{Entry, Header, Request, ServeTable}

/** Expected outputs, computed sequentially on one thread with the
  * `core.Commitments` kernels and plain BigInteger arithmetic, and
  * the checkers that compare the engine's outputs against them. The
  * checkers are pure functions over plain values so the self-tests
  * can feed them corrupted answers. Each returns the list of
  * mismatches it found; empty means correct. */
object Checks {

  final case class StorageRow(block: Long, contractHex: String, n: Long, digestHex: String, rootHex: String)

  final case class Head(first: Long, last: Long, nBlocks: Long, rootHex: String, chainOk: Int, seqOk: Int)

  private val unsigned: Ordering[Array[Byte]] = (x: Array[Byte], y: Array[Byte]) =>
    java.util.Arrays.compareUnsigned(x, y)

  /** storage-DB rows of every (block, contract) group: count and
    * Merkle root over leaves sorted by key, and the additive digest
    * for the groups `wantDigest` selects (an empty digest string
    * otherwise — the digest costs a curve map per entry). */
  def storageGroups(entries: Seq[Entry], wantDigest: ((Long, String)) => Boolean): Map[(Long, String), StorageRow] =
    entries.groupBy(e => (e.block, Bytes.toHex(e.contract))).map { case (k, es) =>
      val sorted = es.sortBy(_.key)(unsigned)
      val root = Commitments.merkleRoot(sorted.map(e => Commitments.mappingLeafHash(e.key, e.value)).toIndexedSeq)
      val digest =
        if (!wantDigest(k)) ""
        else Bytes.toHex(es.map(e => Commitments.mappingLeafDigest(e.key, e.value))
          .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine))
      k -> StorageRow(k._1, k._2, es.size.toLong, digest, Bytes.toHex(root))
    }

  /** state root per block: one leaf per contract, sorted by address. */
  def stateRoots(groups: Iterable[StorageRow], slots: Map[String, (Int, Int)]): Map[Long, Array[Byte]] =
    groups.groupBy(_.block).map { case (b, rows) =>
      val leaves = rows.toSeq.sortBy(_.contractHex).map { r =>
        val (ms, ls) = slots(r.contractHex)
        Commitments.stateLeafHash(Bytes.fromHex(r.contractHex), ms, ls, Bytes.fromHex(r.rootHex))
      }
      b -> Commitments.merkleRoot(leaves.toIndexedSeq)
    }

  def slotsOf(entries: Seq[Entry]): Map[String, (Int, Int)] =
    entries.iterator.map(e => Bytes.toHex(e.contract) -> ((e.slot, e.lengthSlot))).toMap

  /** block-DB leaves in block order. */
  def blockLeaves(headers: Seq[Header], stateRoot: Map[Long, Array[Byte]]): Vector[Array[Byte]] =
    headers.sortBy(_.block).map(h => Commitments.blockLeafHash(h.block, h.hash, stateRoot(h.block))).toVector

  // ------------------------------------------------------------ ingest

  final case class IngestExpect(head: Head, sample: Map[(Long, String), StorageRow])

  /** the block-DB head over all entries, plus a seeded sample of
    * storage-DB groups with their digests. */
  def expectIngest(entries: Seq[Entry], headers: Seq[Header], sampleSeed: Long, sampleSize: Int): IngestExpect = {
    val keys = entries.iterator.map(e => (e.block, Bytes.toHex(e.contract))).toSet.toVector.sorted
    val sampled = Gen.shuffled(new SplittableRandom(sampleSeed), keys).take(sampleSize).toSet
    val groups = storageGroups(entries, sampled.contains)
    val leaves = blockLeaves(headers, stateRoots(groups.values, slotsOf(entries)))
    val hs = headers.map(_.block)
    IngestExpect(
      Head(hs.min, hs.max, hs.size.toLong, Bytes.toHex(Commitments.merkleRoot(leaves)), 1, 1),
      groups.filter { case (k, _) => sampled.contains(k) })
  }

  def checkIngest(exp: IngestExpect, head: Head, sample: Map[(Long, String), StorageRow]): Seq[String] = {
    val headProblems = if (head == exp.head) Nil else Seq(s"block-DB head $head, expected ${exp.head}")
    headProblems ++ exp.sample.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      sample.get(k) match {
        case Some(got) if got == want => None
        case got => Some(s"storage-DB group $k: got $got, expected $want")
      }
    }
  }

  // ------------------------------------------------------------ serve

  final case class Q2Answer(ids: Seq[Long], nQualified: Long, digestHex: String)

  final case class Erc20Answer(nBlocks: Long, rangeMin: Long, rangeMax: Long, resultHex: String, gapFree: Boolean)

  /** Query2: ids held by the owner in every block of the range, the
    * first `limit` in id order, their count, and the sum of their
    * key-only digests. `keyDigest` lets the caller memoize the
    * per-id curve map across requests. */
  def expectQuery2(t: ServeTable, q: Request, limit: Int, keyDigest: Long => Array[Byte]): Q2Answer = {
    val lo = (q.minB - t.shape.firstBlock).toInt
    val hi = (q.maxB - t.shape.firstBlock).toInt
    val inTable = lo >= 0 && hi < t.shape.nBlocks
    val qualified = t.ids.indices.filter(k => inTable && (lo to hi).forall(b => t.ownerOf(b)(k) == q.who))
      .map(t.ids).sorted
    val digest = qualified.map(keyDigest).foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)
    Q2Answer(qualified.take(limit), qualified.size.toLong, Bytes.toHex(digest))
  }

  /** QueryERC20: Σ rate·balance/supply over the range clamped to the
    * blocks the table holds, absent holders counting 0. */
  def expectErc20(t: ServeTable, q: Request, rate: BigInteger, supply: BigInteger): Erc20Answer = {
    val lo = math.max(q.minB, t.shape.firstBlock)
    val hi = math.min(q.maxB, t.lastBlock)
    var sum = BigInteger.ZERO
    (lo to hi).foreach { b =>
      val bal = t.balances((b - t.shape.firstBlock).toInt)(q.who)
      if (bal != null) sum = sum.add(rate.multiply(bal).divide(supply))
    }
    Erc20Answer(hi - lo + 1, lo, hi, Bytes.toHex(U256.toBytes32(sum)), gapFree = true)
  }

  def checkQuery2(exp: Q2Answer, got: Q2Answer): Seq[String] =
    if (exp == got) Nil else Seq(s"query2: got $got, expected $exp")

  def checkErc20(exp: Erc20Answer, got: Erc20Answer): Seq[String] =
    if (exp == got) Nil else Seq(s"queryErc20: got $got, expected $exp")

  // ------------------------------------------------------------ append

  /** block numbers whose maintained `root_after` differs from the
    * batch path's (or is missing), plus a storage-DB mismatch marker
    * (block -1) when the maintained storage DB differs from the batch
    * build over the same blocks. */
  def checkAppend(expRoots: Map[Long, String], gotRoots: Map[Long, String],
      expStorage: Set[StorageRow], gotStorage: Set[StorageRow]): Seq[(Long, String)] = {
    val roots = expRoots.toSeq.sortBy(_._1).collect {
      case (b, want) if !gotRoots.get(b).contains(want) => b -> s"root_after of block $b: got ${gotRoots.get(b)}, expected $want"
    }
    val extra = (gotRoots.keySet -- expRoots.keySet).toSeq.sorted.map(b => b -> s"unexpected block $b in the block DB")
    val storage =
      if (expStorage == gotStorage) Nil
      else Seq(-1L -> s"maintained storage DB differs from the batch build: ${(gotStorage -- expStorage).size} rows only maintained, ${(expStorage -- gotStorage).size} rows only batch")
    roots ++ extra ++ storage
  }

  /** root after each block, as an incremental appender reports it:
    * the Merkle root of all block leaves up to and including it. */
  def prefixRoots(blocks: Seq[Long], leaves: Seq[Array[Byte]]): Map[Long, String] =
    blocks.indices.map(i => blocks(i) -> Bytes.toHex(Commitments.merkleRoot(leaves.take(i + 1).toIndexedSeq))).toMap
}
