package graftbench

import java.math.BigInteger
import java.util.SplittableRandom

import graft.core.{Commitments, PoseidonGoldilocks, U256}

/** Single-thread cost of the commitment kernels, called through
  * their public `core` functions on seeded inputs, and the integer
  * ALU canary that marks runs on a noisy host. */
object Probes {

  @volatile private var sink = 0

  /** µs per call: 64 rotating inputs, a warm-up, then the median of
    * five timed batches of `batch` calls each. */
  def perOpUs(batch: Int)(f: Int => Any): Double = {
    var i = 0
    while (i < batch) { sink ^= f(i & 63).hashCode; i += 1 }
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < batch) { sink ^= f(j & 63).hashCode; j += 1 }
      (System.nanoTime() - t0) / 1e3 / batch
    }
    Stats.median(times)
  }

  def core(seed: Long): Seq[(String, Double)] = {
    val r = new SplittableRandom(seed ^ 0x636f7265L)
    val keys = Array.fill(64)(Gen.bytes(r, 32))
    val values = Array.fill(64)(Gen.bytes(r, 32))
    val states = Array.fill(64)(Array.fill(12)(r.nextLong() >>> 1))
    val hashes = Array.tabulate(64)(i => Commitments.mappingLeafHash(keys(i), values(i)))
    val points = Array.tabulate(64)(i => Commitments.mappingLeafDigest(keys(i), values(i)))
    val a = Array.fill(64)(U256.toBytes32(new BigInteger(1, Gen.bytes(r, 15))))
    val b = Array.fill(64)(U256.toBytes32(new BigInteger(1, Gen.bytes(r, 12))))
    val c = Array.fill(64)(U256.toBytes32(new BigInteger(1, Gen.bytes(r, 10)).add(BigInteger.ONE)))
    Seq(
      "core.poseidon_permute_us" -> perOpUs(4000)(i => PoseidonGoldilocks.permute(states(i))),
      "core.leaf_commit_us" -> perOpUs(1000)(i => Commitments.mappingLeafCommit(keys(i), values(i))),
      "core.digest_combine_us" -> perOpUs(2000)(i => Commitments.digestCombine(points(i), points((i + 1) & 63))),
      "core.inner_node_us" -> perOpUs(4000)(i => Commitments.innerNodeHash(hashes(i), hashes((i + 1) & 63))),
      "core.key_digest_us" -> perOpUs(1000)(i => Commitments.keyOnlyDigest(keys(i))),
      "core.u256_muldiv_us" -> perOpUs(20000)(i => U256.mulDivBytes(a(i), b(i), c(i))))
  }

  /** µs for a fixed xorshift-multiply loop, on each of `threads`
    * threads at once; the median of three rounds. */
  def alu(threads: Int): Double = {
    def spin(seed: Long): Long = {
      var x = seed | 1L
      var i = 0
      while (i < (1 << 24)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x *= 0x9E3779B97F4A7C15L; i += 1 }
      x
    }
    Stats.median((0 until 3).map { round =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(k => new Thread(() => sink ^= spin(round * 31L + k).toInt))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e3
    })
  }
}
