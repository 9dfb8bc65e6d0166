package graft.core

import java.math.BigInteger

/** EcGFp5 — the additive-digest curve of the reference
  * (`group_hashing/`, via the public plonky2-ecgfp5 crate; curve due
  * to Pornin, "EcGFp5: a Specialized Elliptic Curve", ePrint
  * 2022/274). Everything derives from public knowledge:
  *
  *   - Base field GF(p^5) = GF(p)[z]/(z^5 − 3), p = Goldilocks.
  *   - Curve (double-odd form): y² = x(x² + Ax + B) with A = 2,
  *     B = 263·z; short-Weierstrass twin Y² = X³ + a·X + b via
  *     X = x + A/3, with a, b the constants the reference commits in
  *     `group_hashing/utils.rs` (a_sw/b_sw).
  *   - `map_to_curve_point` (field_to_curve.rs:38-50): Poseidon
  *     hash-to-5-elements, then the simplified-SWU map of
  *     `sswu_value.rs:31-77` with the committed z_sw/neg_z_inv_sw/
  *     neg_b_div_a_sw constants, finishing with Pornin's `decode`
  *     (w = y/x, x = the quadratic-residue root).
  *
  * Bit-parity is certified by the reference's own committed SSWU test
  * vectors (`sswu_value.rs:88-121`), checked in EcGFp5Spec; sqrt is
  * Tonelli–Shanks over GF(p^5) (2-adicity 32, non-residue 7 — the
  * base-field multiplicative generator), inverses/Legendre use the
  * Frobenius-norm reduction to the base field.
  *
  * Points are carried in short-Weierstrass affine form
  * (X, Y, isInf); the group digest sums these ([[Point.add]]) and
  * [[Point.encode]] reproduces the reference's canonical 40-byte
  * w-encoding for display/golden parity.
  */
object EcGFp5 {

  import PoseidonGoldilocks.{P => p, add => badd, mul => bmul, canonical}

  // ---------------------------------------------------- base helpers
  @inline private def bsub(a: Long, b: Long): Long = {
    val ca = canonical(a); val cb = canonical(b)
    val d = ca - cb
    if (java.lang.Long.compareUnsigned(ca, cb) < 0) d + p else d
  }

  private def bpow(base: Long, e: Long): Long = {
    var acc = 1L; var b = canonical(base); var k = e
    while (k != 0) {
      if ((k & 1L) == 1L) acc = bmul(acc, b)
      b = bmul(b, b)
      k >>>= 1
    }
    canonical(acc)
  }

  /** base-field inverse via Fermat (x^(p−2)); 0 → 0. */
  private def binv(a: Long): Long = bpow(a, p - 2)

  // --------------------------- allocation-free GF(p^5) hot-path core
  // The immutable F5 ops allocate a case class + coefficient array per
  // operation; a sqrt chain is ~10³ operations and runs once per
  // map_to_curve — at 10M entries that is 10¹⁰ transient allocations,
  // and the commitment rung was GC-bound, not ALU-bound. These raw
  // kernels do the IDENTICAL mod-p arithmetic on caller-owned 5-long
  // buffers (addition order is free: badd/bmul are exact mod p and
  // the result is canonicalized once). All ten inputs are read into
  // locals before `out` is written, so in-place calls like
  // mul5(s, s, s) are safe. Bit-parity stays certified by the
  // committed SSWU golden vectors + field-law specs.
  private def mul5(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    val a0 = a(0); val a1 = a(1); val a2 = a(2); val a3 = a(3); val a4 = a(4)
    val b0 = b(0); val b1 = b(1); val b2 = b(2); val b3 = b(3); val b4 = b(4)
    val t0 = bmul(a0, b0)
    val t1 = badd(bmul(a0, b1), bmul(a1, b0))
    val t2 = badd(badd(bmul(a0, b2), bmul(a1, b1)), bmul(a2, b0))
    val t3 = badd(badd(badd(bmul(a0, b3), bmul(a1, b2)), bmul(a2, b1)), bmul(a3, b0))
    val t4 = badd(badd(badd(badd(bmul(a0, b4), bmul(a1, b3)), bmul(a2, b2)), bmul(a3, b1)), bmul(a4, b0))
    val t5 = badd(badd(badd(bmul(a1, b4), bmul(a2, b3)), bmul(a3, b2)), bmul(a4, b1))
    val t6 = badd(badd(bmul(a2, b4), bmul(a3, b3)), bmul(a4, b2))
    val t7 = badd(bmul(a3, b4), bmul(a4, b3))
    val t8 = bmul(a4, b4)
    out(0) = canonical(badd(t0, bmul(3L, t5)))
    out(1) = canonical(badd(t1, bmul(3L, t6)))
    out(2) = canonical(badd(t2, bmul(3L, t7)))
    out(3) = canonical(badd(t3, bmul(3L, t8)))
    out(4) = canonical(t4)
  }

  /** raw squaring: the t_k sums of [[mul5]] with a_i·b_j + a_j·b_i
    * collapsed to doubled cross terms — 15 bmul instead of 25 for the
    * same canonical result (badd is exact mod p, so regrouping the
    * additions is value-preserving). Squarings dominate every sqrt
    * exponentiation chain (~290 of them per map_to_curve). */
  private def sq5(a: Array[Long], out: Array[Long]): Unit = {
    val a0 = a(0); val a1 = a(1); val a2 = a(2); val a3 = a(3); val a4 = a(4)
    val m01 = bmul(a0, a1); val m02 = bmul(a0, a2); val m03 = bmul(a0, a3); val m04 = bmul(a0, a4)
    val m12 = bmul(a1, a2); val m13 = bmul(a1, a3); val m14 = bmul(a1, a4)
    val m23 = bmul(a2, a3); val m24 = bmul(a2, a4); val m34 = bmul(a3, a4)
    val t0 = bmul(a0, a0)
    val t1 = badd(m01, m01)
    val t2 = badd(badd(m02, m02), bmul(a1, a1))
    val t3 = badd(badd(m03, m03), badd(m12, m12))
    val t4 = badd(badd(badd(m04, m04), badd(m13, m13)), bmul(a2, a2))
    val t5 = badd(badd(m14, m14), badd(m23, m23))
    val t6 = badd(badd(m24, m24), bmul(a3, a3))
    val t7 = badd(m34, m34)
    val t8 = bmul(a4, a4)
    out(0) = canonical(badd(t0, bmul(3L, t5)))
    out(1) = canonical(badd(t1, bmul(3L, t6)))
    out(2) = canonical(badd(t2, bmul(3L, t7)))
    out(3) = canonical(badd(t3, bmul(3L, t8)))
    out(4) = canonical(t4)
  }

  /** raw Frobenius x → x^(p^k): diagonal action (see [[F5.frob]]). */
  private def frob5(a: Array[Long], k: Int, out: Array[Long]): Unit = {
    val fc = F5.FrobC(k)
    var i = 0
    while (i < 5) { out(i) = bmul(a(i), fc(i)); i += 1 }
  }

  /** raw Frobenius norm to GF(p); when `prodOut` is non-null it
    * receives ∏_{k=1..4} φᵏ(a) — the inverse's cofactor, so one norm
    * computation serves both the Legendre test and the inverse. */
  // ----------------------------------------- per-thread kernel scratch
  // The commitment rungs run map_to_curve on all 32 cores at once with
  // ~25 tiny temporary arrays per map. The scratch keeps the hot path
  // allocation-free (measurably faster solo; on this host the residual
  // 32-thread inflation turned out to be execution-resource contention
  // — high-IPC kernels squeezed under all-core load — not GC, see
  // ParallelKernelProbe vs the PureAluProbe canary). Every buffer below
  // is internal-only: nothing scratch-backed ever escapes a call
  // (escaping outputs are still freshly allocated at the call sites).
  private final class FieldScratch {
    val n1 = new Array[Long](5); val n2 = new Array[Long](5) // normProd5
    val i1 = new Array[Long](5)                              // inv5 cofactor
    // sqrt5Core ladder + Frobenius assembly
    val acc = new Array[Long](5)
    val a2 = new Array[Long](5); val a4 = new Array[Long](5)
    val a8 = new Array[Long](5); val a16 = new Array[Long](5)
    val f1 = new Array[Long](5); val f3 = new Array[Long](5)
    val h = new Array[Long](5); val c0 = new Array[Long](5)
    // simpleSwu chain
    val t1 = new Array[Long](5); val t2 = new Array[Long](5)
    val denomPart = new Array[Long](5); val denom = new Array[Long](5)
    val tv1 = new Array[Long](5); val x1 = new Array[Long](5)
    val x2 = new Array[Long](5); val gx = new Array[Long](5)
    val yPos = new Array[Long](5); val yNeg = new Array[Long](5)
    val xCand = new Array[Long](5); val w = new Array[Long](5)
    val e = new Array[Long](5); val other = new Array[Long](5)
    val inv = new Array[Long](5); val prod = new Array[Long](5)
  }
  private val fsTL: ThreadLocal[FieldScratch] =
    ThreadLocal.withInitial(() => new FieldScratch)

  private def normProd5(a: Array[Long], prodOut: Array[Long]): Long = {
    val s = fsTL.get()
    val t1 = s.n1; val t2 = s.n2
    frob5(a, 1, t1)
    frob5(a, 2, t2)
    mul5(t1, t2, t1)
    frob5(a, 3, t2)
    mul5(t1, t2, t1)
    frob5(a, 4, t2)
    mul5(t1, t2, t1)
    if (prodOut != null) System.arraycopy(t1, 0, prodOut, 0, 5)
    mul5(t1, a, t1)
    canonical(t1(0)) // imaginary parts cancel by construction
  }

  private def isZero5(a: Array[Long]): Boolean =
    a(0) == 0L && a(1) == 0L && a(2) == 0L && a(3) == 0L && a(4) == 0L

  /** raw inverse via the Frobenius norm; 0 → 0. */
  private def inv5(a: Array[Long], out: Array[Long]): Unit = {
    if (isZero5(a)) { java.util.Arrays.fill(out, 0L); return }
    val prod = fsTL.get().i1
    val ninv = binv(normProd5(a, prod))
    var i = 0
    while (i < 5) { out(i) = bmul(prod(i), ninv); i += 1 }
  }

  private def isOne5(a: Array[Long]): Boolean =
    a(0) == 1L && a(1) == 0L && a(2) == 0L && a(3) == 0L && a(4) == 0L

  /** raw sqrt over GF(p^5) via base-field reduction — the standard
    * odd-degree-extension technique (cf. Pornin, ePrint 2022/274 §
    * field implementation). Two structural facts make it ~6x cheaper
    * than a generic 290-bit Tonelli–Shanks:
    *
    *   1. With N = 1 + p + p² + p³ + p⁴ (the norm exponent),
    *      (N+1)/2 = 1 + (p+p³)·(p+1)/2, so c = a^((N+1)/2) costs one
    *      63-bit pow v = a^((p+1)/2) (a 62-squaring ladder — the
    *      exponent is 2^31·(2^32−1)+1) plus two FREE Frobenius maps:
    *      c = a·φ¹(v)·φ³(v). Then c² = a^(N+1) = Norm(a)·a.
    *   2. The 2-Sylow subgroup of GF(p^5)* has order 2^32 — the SAME
    *      as GF(p)*'s (p−1 = 2^32(2^32−1), and N is odd) — and the
    *      cyclic group has one subgroup per order, so the entire
    *      Tonelli–Shanks tail runs on BASE-FIELD scalars: take the
    *      base sqrt s of n = Norm(a) = (φ¹(v)φ³(v))²·a, and
    *      y = c/s satisfies y² = (n·a)/n = a.
    *
    * Returns A square root (sign unspecified): both call sites are
    * sign-invariant — SSWU re-normalizes by sgn0(u), decode picks the
    * QR root of a sign-symmetric pair — and the committed SSWU golden
    * vectors pin the end-to-end map. None for non-residues, decided
    * by χ_p(Norm(a)) BEFORE any heavy work. */
  private def sqrt5(a: Array[Long]): Option[Array[Long]] = {
    if (isZero5(a)) return Some(new Array[Long](5))
    val n = normProd5(a, null)
    if (bpow(n, (p - 1) >>> 1) != 1L) return None
    val out = new Array[Long](5)
    sqrt5Core(a, n, out)
    Some(out)
  }

  /** the QR branch of [[sqrt5]]: `a` non-zero with χ_p(n) = 1 for
    * n = Norm(a) (caller-checked — lets SSWU reuse its own Legendre
    * test instead of paying it twice). Writes the root into `out`
    * (callers own escape decisions; internals run on scratch). */
  private def sqrt5Core(a: Array[Long], n: Long, out: Array[Long]): Unit = {
    val s0 = fsTL.get()
    // v = a^((p+1)/2) = (a^(2^32−1))^(2^31) · a  (2^k−1 doubling ladder)
    val acc = s0.acc
    sq5(a, acc); mul5(acc, a, acc)                    // a^3 = a^(2^2−1)
    System.arraycopy(acc, 0, s0.a2, 0, 5)
    var i = 0
    while (i < 2) { sq5(acc, acc); i += 1 }; mul5(acc, s0.a2, acc)   // a^(2^4−1)
    System.arraycopy(acc, 0, s0.a4, 0, 5)
    i = 0; while (i < 4) { sq5(acc, acc); i += 1 }; mul5(acc, s0.a4, acc)   // a^(2^8−1)
    System.arraycopy(acc, 0, s0.a8, 0, 5)
    i = 0; while (i < 8) { sq5(acc, acc); i += 1 }; mul5(acc, s0.a8, acc)   // a^(2^16−1)
    System.arraycopy(acc, 0, s0.a16, 0, 5)
    i = 0; while (i < 16) { sq5(acc, acc); i += 1 }; mul5(acc, s0.a16, acc) // a^(2^32−1)
    i = 0; while (i < 31) { sq5(acc, acc); i += 1 }
    mul5(acc, a, acc)                                 // v
    // h = φ¹(v)·φ³(v) = a^((N−1)/2);  c = a·h = a^((N+1)/2)
    frob5(acc, 1, s0.f1)
    frob5(acc, 3, s0.f3)
    mul5(s0.f1, s0.f3, s0.h)
    mul5(a, s0.h, s0.c0)
    // base-field Tonelli–Shanks on n (r = n^(2^31); t = r²/n ∈ μ_{2^32})
    var r = canonical(n)
    i = 0; while (i < 31) { r = bmul(r, r); i += 1 }
    var t = canonical(bmul(bmul(r, r), binv(n)))
    var e = 32
    while (t != 1L) {
      var j = 1
      var s = canonical(bmul(t, t))
      while (s != 1L) {
        s = canonical(bmul(s, s)); j += 1
        require(j < e, "Tonelli-Shanks invariant breach: order not a power of two")
      }
      // the cofactor chain is the precomputed scalar table [[F5.TsGs]]
      // (shift + e = 32 invariant, see the r10 loop this replaces)
      r = bmul(r, F5.TsGs(31 - j))
      t = canonical(bmul(t, F5.TsGs(32 - j)))
      e = j
    }
    val sinv = binv(r)
    i = 0; while (i < 5) { out(i) = canonical(bmul(s0.c0(i), sinv)); i += 1 }
  }

  // more raw GF(p^5) helpers for the allocation-lean SSWU chain
  private def add5(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    var i = 0
    while (i < 5) { out(i) = canonical(badd(a(i), b(i))); i += 1 }
  }
  private def sub5(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    var i = 0
    while (i < 5) { out(i) = bsub(a(i), b(i)); i += 1 }
  }
  private def sgn05(a: Array[Long]): Boolean = {
    var i = 0
    while (i < 5) {
      if (a(i) != 0L) return (a(i) & 1L) == 1L
      i += 1
    }
    false
  }

  // --------------------------------------------------------- GF(p^5)
  /** element = 5 canonical coefficients, little-endian in z. */
  final case class F5(c: Array[Long]) {
    require(c.length == 5)

    def isZero: Boolean = c.forall(_ == 0L)

    def +(o: F5): F5 = F5(Array.tabulate(5)(i => canonical(badd(c(i), o.c(i)))))
    def -(o: F5): F5 = F5(Array.tabulate(5)(i => bsub(c(i), o.c(i))))
    def unary_- : F5 = F5(Array.tabulate(5)(i => bsub(0L, c(i))))

    /** schoolbook multiply, fold z^5 = 3 */
    def *(o: F5): F5 = {
      val t = new Array[Long](9)
      var i = 0
      while (i < 5) {
        var j = 0
        while (j < 5) { t(i + j) = badd(t(i + j), bmul(c(i), o.c(j))); j += 1 }
        i += 1
      }
      val out = new Array[Long](5)
      var k = 0
      while (k < 5) { out(k) = canonical(t(k)); k += 1 }
      while (k < 9) { out(k - 5) = canonical(badd(out(k - 5), bmul(3L, t(k)))); k += 1 }
      F5(out)
    }

    def square: F5 = this * this

    def *(s: Long): F5 = F5(Array.tabulate(5)(i => canonical(bmul(c(i), s))))

    /** fixed 4-bit-window square-and-multiply (left-to-right): same
      * group element as the binary ladder, ~40% fewer multiplies on
      * the ~290-bit sqrt exponents that dominate every curve digest;
      * leading zero nibbles square the identity (free). */
    def pow(e: BigInteger): F5 = {
      if (e.signum() == 0) return F5.One
      val table = new Array[F5](16)
      table(0) = F5.One
      table(1) = this
      var i = 2
      while (i < 16) { table(i) = table(i - 1) * this; i += 1 }
      var acc = F5.One
      val bytes = e.toByteArray // big-endian, possibly with a 0x00 sign byte
      var bi = 0
      while (bi < bytes.length) {
        val b = bytes(bi)
        val hi = (b >> 4) & 0xf
        val lo = b & 0xf
        acc = acc.square.square.square.square
        if (hi != 0) acc = acc * table(hi)
        acc = acc.square.square.square.square
        if (lo != 0) acc = acc * table(lo)
        bi += 1
      }
      acc
    }

    /** Frobenius x → x^(p^k): acts diagonally since p ≡ 1 (mod 5):
      * coefficient i picks up FrobC(k)(i) = 3^(i·k·(p−1)/5). */
    def frob(k: Int): F5 = F5(Array.tabulate(5)(i => bmul(c(i), F5.FrobC(k)(i))))

    /** Norm to GF(p): x^(1+p+p²+p³+p⁴) — lands in the base field. */
    def norm: Long = {
      val t = frob(1) * frob(2) * frob(3) * frob(4) * this
      // imaginary parts cancel by construction
      canonical(t.c(0))
    }

    /** inverse via norm: x⁻¹ = (∏_{k=1..4} φᵏ(x)) / Norm(x); 0 → 0. */
    def inverse: F5 = {
      val out = new Array[Long](5)
      inv5(c, out)
      F5(out)
    }

    def /(o: F5): F5 = this * o.inverse

    /** Legendre symbol via the norm: χ(x) = χ_p(Norm(x)). Returns
      * 1 (QR), −1 encoded as p−1, or 0. */
    def legendre: Long = bpow(normProd5(c, null), (p - 1) >>> 1)

    def isQr: Boolean = legendre == 1L

    /** Tonelli–Shanks over GF(p^5): p^5 − 1 = 2^32 · m with m odd;
      * the 2-Sylow generator comes from non-residue 7. None if not a
      * square. */
    /** Tonelli–Shanks over GF(p^5), via [[EcGFp5.sqrt5]]'s base-field
      * reduction (the sqrt is the per-entry hot path of every curve
      * digest). None if not a square. The returned root's SIGN is
      * unspecified — every caller is sign-invariant (see sqrt5). */
    def sqrt: Option[F5] = sqrt5(c).map(F5(_))

    /** RFC 9380 sgn0 for an extension field: the parity of the first
      * non-zero coefficient (0 for zero). */
    def sgn0: Boolean = {
      var i = 0
      while (i < 5) {
        if (c(i) != 0L) return (c(i) & 1L) == 1L
        i += 1
      }
      false
    }

    override def equals(o: Any): Boolean = o match {
      case f: F5 => java.util.Arrays.equals(c, f.c)
      case _     => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(c)
  }

  object F5 {
    val Zero: F5 = F5(new Array[Long](5))
    val One: F5 = F5(Array(1L, 0, 0, 0, 0))

    def apply(a: Long, b: Long, c: Long, d: Long, e: Long): F5 =
      F5(Array(canonical(a), canonical(b), canonical(c), canonical(d), canonical(e)))

    def fromBase(a: Long): F5 = F5(Array(canonical(a), 0, 0, 0, 0))

    /** Frobenius diagonal constants: FrobC(k)(i) = w^(i·k) with
      * w = 3^((p−1)/5). */
    private[EcGFp5] val FrobC: Array[Array[Long]] = {
      val w = bpow(3L, java.lang.Long.divideUnsigned(p - 1, 5L))
      Array.tabulate(5)(k => Array.tabulate(5)(i => bpow(w, (i.toLong * k))))
    }

    private val BigP = new BigInteger(java.lang.Long.toUnsignedString(p))
    private val Q = BigP.pow(5)
    /** q − 1 = 2^32 · m, m odd */
    private[EcGFp5] val TsM: BigInteger = Q.subtract(BigInteger.ONE).shiftRight(32)
    /** 7^m — generator of the 2-Sylow subgroup (7 is the Goldilocks
      * multiplicative generator, hence a non-residue; base-field
      * non-residues stay non-residues in an odd-degree extension).
      * A power of the base element 7, so it IS a base-field scalar —
      * the concrete witness that GF(p^5)*'s 2-Sylow lives in GF(p). */
    private[EcGFp5] val TsZ: F5 = fromBase(7L).pow(TsM)

    /** TsGs(k) = TsZ^(2^k) as base-field SCALARS, k = 0..31 — the full
      * 2-Sylow square chain, so the Tonelli–Shanks loop never
      * re-squares the cofactor and runs entirely on scalars. */
    private[EcGFp5] val TsGs: Array[Long] = {
      require(TsZ.c(1) == 0L && TsZ.c(2) == 0L && TsZ.c(3) == 0L && TsZ.c(4) == 0L,
        "2-Sylow generator must be a base-field scalar")
      val g = new Array[Long](32)
      g(0) = TsZ.c(0)
      var k = 1
      while (k < 32) { g(k) = canonical(bmul(g(k - 1), g(k - 1))); k += 1 }
      g
    }
  }

  // ------------------------------------------- committed SW constants
  // group_hashing/utils.rs (the reference commits these)
  private val TwoThirds = F5(6148914689804861441L, 0, 0, 0, 0)
  private val Asw = F5(6148914689804861439L, 263L, 0, 0, 0)
  private val Bsw = F5(0xda12f683e38e38e5L, 0x55555554ffffff51L, 0, 0, 0)
  private val Zsw = F5(p - 4, p - 1, 0, 0, 0)
  private val NegZInvSw = F5(4795794222525505369L, 3412737461722269738L,
    8370187669276724726L, 7130825117388110979L, 0xa7428e14c8a980e0L)
  private val NegBDivASw = F5(6585749426319121644L, 0xebc9e3c7f22ff80eL,
    3264760655763595284L, 0xe8ef61001892e747L, 0xba717e05af30b2c2L)

  /** double-odd A = 2, B = 263z ⇒ 4B = 1052z */
  private val FourB = F5(0, 1052L, 0, 0, 0)
  private val A = F5.fromBase(2L)
  private val Half = F5.fromBase(binv(2L)) // 1/2

  // ------------------------------------------------------------ point
  /** short-Weierstrass affine point (or infinity). */
  final case class Point(x: F5, y: F5, isInf: Boolean) {

    def +(o: Point): Point =
      if (isInf) o
      else if (o.isInf) this
      else if (x == o.x) {
        if (y == o.y) {
          if (y.isZero) Point.Infinity
          else { // doubling: λ = (3x² + a) / 2y
            val lam = (x.square * 3L + Asw) / (y * 2L)
            Point.chord(lam, this, o)
          }
        } else Point.Infinity // P + (−P)
      } else {
        val lam = (o.y - y) / (o.x - x)
        Point.chord(lam, this, o)
      }

    def unary_- : Point = if (isInf) this else Point(x, -y, isInf = false)

    /** SW curve membership: Y² = X³ + aX + b */
    def onCurve: Boolean =
      isInf || y.square == (x * x.square + Asw * x + Bsw)

    /** Pornin's canonical w-encoding (curve.rs `encode`): w = y/x in
      * double-odd coordinates (x_do = X − 2/3); infinity → 0. 5
      * little-endian u64s = 40 bytes. */
    def encode: Array[Long] =
      if (isInf) new Array[Long](5)
      else (y / (x - TwoThirds)).c.clone()

    def encodeBytes: Array[Byte] = {
      val out = new Array[Byte](40)
      val w = encode
      var i = 0
      while (i < 5) {
        var v = w(i); var j = 0
        while (j < 8) { out(i * 8 + j) = (v & 0xff).toByte; v >>>= 8; j += 1 }
        i += 1
      }
      out
    }
  }

  object Point {
    val Infinity: Point = Point(F5.Zero, F5.Zero, isInf = true)

    private[EcGFp5] def chord(lam: F5, p1: Point, p2: Point): Point = {
      val x3 = lam.square - p1.x - p2.x
      val y3 = lam * (p1.x - x3) - p1.y
      Point(x3, y3, isInf = false)
    }

    /** Pornin `decode(w)`: x² − (w²−A)x + B = 0; the curve's B is a
      * non-square, so exactly one root is a QR — that root is the
      * canonical x; y = w·x (all in double-odd form, converted to SW
      * on return). None for non-decodable w (w=0 handled as N/∞ →
      * Infinity here, matching `Point::decode` rejecting only
      * non-square discriminants). */
    def decode(w: F5): Option[Point] = {
      if (w.isZero) return Some(Infinity)
      val e = w.square - A
      val delta = e.square - FourB
      delta.sqrt.map { r =>
        val x1 = (e + r) * Half
        val x2 = (e - r) * Half
        val xdo = if (x1.isQr) x1 else x2
        val ydo = w * xdo
        Point(xdo + TwoThirds, ydo, isInf = false)
      }
    }
  }

  // ----------------------------------------------------------- SSWU
  /** `simple_swu` (sswu_value.rs:31-77), bit-for-bit semantics.
    * Runs entirely on the raw allocation-lean kernels (the boxed-F5
    * form allocated ~50 transient objects per map and the commitment
    * rungs run this on all 32 cores at once, where GC contention cost
    * ~2.5x — ParallelKernelProbe). Bit-parity is certified by the
    * committed SSWU golden vectors. */
  def simpleSwu(u: F5): Point = {
    val s = fsTL.get()
    val t1 = s.t1; val t2 = s.t2
    val denomPart = s.denomPart
    sq5(u.c, t1); mul5(Zsw.c, t1, denomPart)
    val denom = s.denom
    sq5(denomPart, t1); add5(t1, denomPart, denom)
    val tv1 = s.tv1
    inv5(denom, tv1) // inverse_or_zero
    val x1 = s.x1
    if (isZero5(tv1)) mul5(NegZInvSw.c, NegBDivASw.c, x1)
    else { add5(tv1, F5.One.c, t1); mul5(t1, NegBDivASw.c, x1) }
    // g(x) = x³ + Asw·x + Bsw
    def gOf(x: Array[Long], out: Array[Long]): Unit = {
      sq5(x, t1); mul5(t1, x, t2)
      mul5(Asw.c, x, t1)
      add5(t2, t1, out); add5(out, Bsw.c, out)
    }
    val gx = s.gx
    gOf(x1, gx)
    var xsw = x1
    // pick the branch with the square g-value (gx1.sqrt-or-gx2 of the
    // reference, with the Legendre test shared into sqrt5Core); a zero
    // g-value has the zero root, like sqrt(0) = Some(0)
    val yPos = s.yPos
    java.util.Arrays.fill(yPos, 0L)
    var n = if (isZero5(gx)) 0L else normProd5(gx, null)
    if (isZero5(gx)) ()
    else if (bpow(n, (p - 1) >>> 1) == 1L) sqrt5Core(gx, n, yPos)
    else {
      val x2 = s.x2
      mul5(denomPart, x1, x2)
      xsw = x2
      gOf(x2, gx)
      if (isZero5(gx)) ()
      else {
        n = normProd5(gx, null)
        require(bpow(n, (p - 1) >>> 1) == 1L,
          "SSWU invariant breach: neither g(x1) nor g(x2) is a square")
        sqrt5Core(gx, n, yPos)
      }
    }
    val xCand = s.xCand
    sub5(xsw, TwoThirds.c, xCand)
    // yCand = ±yPos, sign-normalized to sgn0(u) — this is what makes
    // the map independent of which root sqrt5 returned
    val yCand = if (sgn05(u.c) == sgn05(yPos)) yPos
      else { sub5(F5.Zero.c, yPos, s.yNeg); s.yNeg }
    // `Point.decode(yCand / xCand)` WITHOUT a second Tonelli–Shanks
    // sqrt: xCand is itself a root of decode's quadratic
    // x² − (w²−A)x + B — divide the double-odd curve equation
    // y² = x(x² + Ax + B) by x² with w = y/x — so the root pair is
    // {xCand, e − xCand} (root sum = e) and the discriminant sqrt
    // that only served to split (e ± r)/2 is redundant. decode's
    // canonical pick (the unique QR root; B is a non-square so
    // exactly one root is) is reproduced bit-for-bit by one Legendre
    // test. w = 0 (x = 0 or y = 0, unreachable for hash outputs)
    // keeps decode's ∞ behavior for exact parity.
    // ONE Frobenius norm serves xCand's inverse AND its Legendre test.
    val w = s.w
    val nx = normProd5(xCand, s.prod)
    if (nx == 0L) return Point.Infinity // xCand = 0 ⇒ w = y·0⁻¹ = 0 ⇒ decode(0) = ∞
    val nxInv = binv(nx)
    var ii = 0
    while (ii < 5) { s.inv(ii) = bmul(s.prod(ii), nxInv); ii += 1 }
    mul5(yCand, s.inv, w)
    if (isZero5(w)) return Point.Infinity
    val e = s.e
    sq5(w, t1); sub5(t1, A.c, e)
    val xdo =
      if (bpow(nx, (p - 1) >>> 1) == 1L) xCand
      else { sub5(e, xCand, s.other); s.other }
    val xOut = new Array[Long](5)
    add5(xdo, TwoThirds.c, xOut)
    val yOut = new Array[Long](5)
    mul5(w, xdo, yOut)
    Point(F5(xOut), F5(yOut), isInf = false)
  }

  /** `map_to_curve_point` (field_to_curve.rs:38-50): Poseidon to 5
    * base elements, then SSWU. */
  def mapToCurvePoint(values: Array[Long]): Point =
    simpleSwu(F5(PoseidonGoldilocks.hashNoPadN(values, 5)))

  // -------------------------------------------------- serialization
  /** affine wire form for aggregation buffers: X(40) ‖ Y(40) ‖ inf(1)
    * little-endian — 81 bytes. */
  val SerLen = 81

  def serialize(pt: Point): Array[Byte] = {
    val out = new Array[Byte](SerLen)
    def putF5(f: F5, off: Int): Unit = {
      var i = 0
      while (i < 5) {
        var v = f.c(i); var j = 0
        while (j < 8) { out(off + i * 8 + j) = (v & 0xff).toByte; v >>>= 8; j += 1 }
        i += 1
      }
    }
    putF5(pt.x, 0); putF5(pt.y, 40)
    out(80) = if (pt.isInf) 1 else 0
    out
  }

  /** curve addition directly on two 81-byte serialized points — the
    * digest aggregator's per-row combine (deserialize → boxed-F5 add →
    * serialize cost ~22 µs/row at 32 threads; this raw form does the
    * IDENTICAL field arithmetic on stack buffers). Keeps deserialize's
    * fail-loud on-curve check for both inputs: corrupt digest bytes
    * must never poison a commitment silently. */
  def addSerialized(ab: Array[Byte], bb: Array[Byte]): Array[Byte] = {
    require(ab.length == SerLen && bb.length == SerLen,
      s"expected $SerLen bytes, got ${ab.length}/${bb.length}")
    if (ab(80) == 1) return bb.clone()
    if (bb(80) == 1) return ab.clone()
    val x1 = new Array[Long](5); val y1 = new Array[Long](5)
    val x2 = new Array[Long](5); val y2 = new Array[Long](5)
    @inline def getF5(src: Array[Byte], off: Int, out: Array[Long]): Unit = {
      var i = 0
      while (i < 5) {
        var v = 0L; var j = 7
        while (j >= 0) { v = (v << 8) | (src(off + i * 8 + j) & 0xffL); j -= 1 }
        out(i) = v
        i += 1
      }
    }
    getF5(ab, 0, x1); getF5(ab, 40, y1)
    getF5(bb, 0, x2); getF5(bb, 40, y2)
    // on-curve check (Y² = X³ + aX + b), same contract as deserialize
    val t1 = new Array[Long](5); val t2 = new Array[Long](5)
    @inline def checkOnCurve(x: Array[Long], y: Array[Long]): Unit = {
      sq5(x, t1); mul5(t1, x, t1)        // x³
      mul5(Asw.c, x, t2); add5(t1, t2, t1)
      add5(t1, Bsw.c, t1)                // x³ + ax + b
      sq5(y, t2)
      require(java.util.Arrays.equals(t1, t2),
        "EcGFp5.deserialize: point not on curve (corrupt digest bytes)")
    }
    checkOnCurve(x1, y1)
    checkOnCurve(x2, y2)
    val lam = new Array[Long](5)
    if (java.util.Arrays.equals(x1, x2)) {
      if (!java.util.Arrays.equals(y1, y2)) return serialize(Point.Infinity) // P + (−P)
      if (isZero5(y1)) return serialize(Point.Infinity)
      // doubling: λ = (3x² + a) / 2y
      sq5(x1, t1)
      var i = 0
      while (i < 5) { t1(i) = canonical(bmul(t1(i), 3L)); i += 1 }
      add5(t1, Asw.c, t1)
      i = 0
      while (i < 5) { t2(i) = canonical(bmul(y1(i), 2L)); i += 1 }
      val inv = new Array[Long](5); inv5(t2, inv)
      mul5(t1, inv, lam)
    } else {
      // chord: λ = (y2 − y1) / (x2 − x1)
      sub5(y2, y1, t1)
      sub5(x2, x1, t2)
      val inv = new Array[Long](5); inv5(t2, inv)
      mul5(t1, inv, lam)
    }
    val x3 = new Array[Long](5)
    sq5(lam, x3); sub5(x3, x1, x3); sub5(x3, x2, x3)
    val y3 = new Array[Long](5)
    sub5(x1, x3, y3); mul5(lam, y3, y3); sub5(y3, y1, y3)
    val out = new Array[Byte](SerLen)
    @inline def putF5(f: Array[Long], off: Int): Unit = {
      var i = 0
      while (i < 5) {
        var v = f(i); var j = 0
        while (j < 8) { out(off + i * 8 + j) = (v & 0xff).toByte; v >>>= 8; j += 1 }
        i += 1
      }
    }
    putF5(x3, 0); putF5(y3, 40)
    out
  }

  def deserialize(b: Array[Byte]): Point = {
    require(b.length == SerLen, s"expected $SerLen bytes, got ${b.length}")
    def getF5(off: Int): F5 = F5(Array.tabulate(5) { i =>
      var v = 0L; var j = 7
      while (j >= 0) { v = (v << 8) | (b(off + i * 8 + j) & 0xffL); j -= 1 }
      v
    })
    val pt = Point(getF5(0), getF5(40), b(80) == 1)
    // fail loudly on corrupt bytes: an off-curve point would silently
    // poison every digest it is combined into (the reference's decode
    // rejects non-curve encodings the same way)
    require(pt.isInf || pt.onCurve, "EcGFp5.deserialize: point not on curve (corrupt digest bytes)")
    pt
  }
}
