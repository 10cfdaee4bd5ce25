package graft.core

/** X25519 (RFC 7748), graft's only curve code: a constant-time Montgomery
  * ladder over GF(2^255 - 19) on five 51-bit limbs.
  *
  * A field element is an `Array[Long](5)` holding
  * f0 + f1·2^51 + f2·2^102 + f3·2^153 + f4·2^204. Limb bounds:
  *  - `mul`, `sqr` and `mul121665` take limbs < 2^53 and return
  *    limbs ≤ 2^51. Each 64×64 product is split at bit 51 into a low part
  *    (< 2^51) and a high part, and the lows and highs of one output limb
  *    are summed apart; at the 2^53 input bound every sum stays under 2^63,
  *    so no carry is detected and nothing branches.
  *  - `add` of two limbs ≤ 2^51 gives ≤ 2^52, and `sub` (f + 2p − g,
  *    g ≤ 2^51) gives < 3·2^51: both stay valid `mul` inputs.
  *  - `decode` gives limbs < 2^51 and accepts a non-canonical u ≥ p;
  *    `encode` reduces fully, branch-free.
  *
  * Constant time: no branch and no array index depends on a scalar bit or a
  * field value. The ladder runs all 255 steps with a mask-based `cswap`,
  * and the inversion is one fixed addition chain. The only branch on curve
  * data is [[sharedSecret]]'s all-zero check, on an OR of every output byte.
  *
  * Nothing here keeps state across calls: callers that reuse a key (the age
  * SQL functions, once per key per task) hold its derived public key
  * themselves.
  */
object X25519 {
  private final val M = (1L << 51) - 1

  def clamp(scalar: Array[Byte]): Array[Byte] = {
    require(scalar.length == 32, "X25519 scalar must be 32 bytes")
    val s = scalar.clone()
    s(0) = (s(0) & 248).toByte
    s(31) = (s(31) & 127).toByte
    s(31) = (s(31) | 64).toByte
    s
  }

  private val basepoint: Array[Byte] = { val b = new Array[Byte](32); b(0) = 9; b }

  /** Public key (u-coordinate, 32 bytes LE) for a private scalar. */
  def derivePublic(scalar: Array[Byte]): Array[Byte] = scalarMult(clamp(scalar), basepoint)

  /** Fresh random keypair → (privateScalar32, publicU32), both little-endian raw. */
  def generateKeyPair(): (Array[Byte], Array[Byte]) = {
    val priv = Entropy.bytes(32)
    (priv, derivePublic(priv))
  }

  /** X25519 DH. Throws on an all-zero shared secret (a low-order peer key). */
  def sharedSecret(privateScalar: Array[Byte], publicU: Array[Byte]): Array[Byte] = {
    require(publicU.length == 32, "X25519 u-coordinate must be 32 bytes")
    val out = scalarMult(clamp(privateScalar), publicU)
    var acc = 0
    var i = 0
    while (i < 32) { acc |= out(i); i += 1 }
    if (acc == 0) throw new IllegalArgumentException("all-zero X25519 shared secret")
    out
  }

  /** RFC 7748 §5: the ladder over the clamped scalar `k`, then x2 / z2. */
  private def scalarMult(k: Array[Byte], u: Array[Byte]): Array[Byte] = {
    def fe() = new Array[Long](5)
    val x1 = decode(u)
    val x2 = fe(); x2(0) = 1
    val z2 = fe()
    val x3 = x1.clone()
    val z3 = fe(); z3(0) = 1
    val a = fe(); val aa = fe(); val b = fe(); val bb = fe()
    val e = fe(); val c = fe(); val d = fe()
    var swap = 0L
    var t = 254
    while (t >= 0) {
      val kt = ((k(t >>> 3) >>> (t & 7)) & 1).toLong
      swap ^= kt
      cswap(swap, x2, x3)
      cswap(swap, z2, z3)
      swap = kt
      add(a, x2, z2); sqr(aa, a)
      sub(b, x2, z2); sqr(bb, b)
      sub(e, aa, bb)
      add(c, x3, z3); sub(d, x3, z3)
      mul(d, d, a) // DA
      mul(c, c, b) // CB
      add(x3, d, c); sqr(x3, x3)
      sub(z3, d, c); sqr(z3, z3); mul(z3, z3, x1)
      mul(x2, aa, bb)
      mul121665(z2, e); add(z2, z2, aa); mul(z2, z2, e)
      t -= 1
    }
    cswap(swap, x2, x3)
    cswap(swap, z2, z3)
    invert(z2, z2)
    mul(x2, x2, z2)
    encode(x2)
  }

  /** Swaps `f` and `g` when `swap` is 1 and leaves them when it is 0, by
    * mask, with the same memory accesses either way. */
  private def cswap(swap: Long, f: Array[Long], g: Array[Long]): Unit = {
    val mask = -swap
    var i = 0
    while (i < 5) {
      val x = mask & (f(i) ^ g(i))
      f(i) ^= x; g(i) ^= x
      i += 1
    }
  }

  private def add(h: Array[Long], f: Array[Long], g: Array[Long]): Unit = {
    var i = 0
    while (i < 5) { h(i) = f(i) + g(i); i += 1 }
  }

  /** f − g + 2p, so every limb stays non-negative for g ≤ 2^51. */
  private def sub(h: Array[Long], f: Array[Long], g: Array[Long]): Unit = {
    h(0) = f(0) + 0xfffffffffffdaL - g(0)
    var i = 1
    while (i < 5) { h(i) = f(i) + 0xffffffffffffeL - g(i); i += 1 }
  }

  // A 64×64 product split at bit 51: lo + hi·2^51.
  private def lo(x: Long, y: Long): Long = x * y & M
  private def hi(x: Long, y: Long): Long = (Math.multiplyHigh(x, y) << 13) | ((x * y) >>> 51)

  /** Folds output limb sums (`lK` low parts, `hK` high parts, which belong
    * one limb up) into h with limbs ≤ 2^51; 2^255 ≡ 19 wraps h4 into h0. */
  private def reduce(h: Array[Long], l0: Long, h0: Long, l1: Long, h1: Long,
                     l2: Long, h2: Long, l3: Long, h3: Long, l4: Long, h4: Long): Unit = {
    var r0 = l0 + 19 * h4
    var r1 = l1 + h0
    var r2 = l2 + h1
    var r3 = l3 + h2
    var r4 = l4 + h3
    r1 += r0 >>> 51; r0 &= M
    r2 += r1 >>> 51; r1 &= M
    r3 += r2 >>> 51; r2 &= M
    r4 += r3 >>> 51; r3 &= M
    r0 += 19 * (r4 >>> 51); r4 &= M
    r1 += r0 >>> 51; r0 &= M
    h(0) = r0; h(1) = r1; h(2) = r2; h(3) = r3; h(4) = r4
  }

  /** h = f·g. h may alias f or g. */
  private def mul(h: Array[Long], f: Array[Long], g: Array[Long]): Unit = {
    val f0 = f(0); val f1 = f(1); val f2 = f(2); val f3 = f(3); val f4 = f(4)
    val g0 = g(0); val g1 = g(1); val g2 = g(2); val g3 = g(3); val g4 = g(4)
    val g1n = 19 * g1; val g2n = 19 * g2; val g3n = 19 * g3; val g4n = 19 * g4
    reduce(h,
      lo(f0, g0) + lo(f1, g4n) + lo(f2, g3n) + lo(f3, g2n) + lo(f4, g1n),
      hi(f0, g0) + hi(f1, g4n) + hi(f2, g3n) + hi(f3, g2n) + hi(f4, g1n),
      lo(f0, g1) + lo(f1, g0) + lo(f2, g4n) + lo(f3, g3n) + lo(f4, g2n),
      hi(f0, g1) + hi(f1, g0) + hi(f2, g4n) + hi(f3, g3n) + hi(f4, g2n),
      lo(f0, g2) + lo(f1, g1) + lo(f2, g0) + lo(f3, g4n) + lo(f4, g3n),
      hi(f0, g2) + hi(f1, g1) + hi(f2, g0) + hi(f3, g4n) + hi(f4, g3n),
      lo(f0, g3) + lo(f1, g2) + lo(f2, g1) + lo(f3, g0) + lo(f4, g4n),
      hi(f0, g3) + hi(f1, g2) + hi(f2, g1) + hi(f3, g0) + hi(f4, g4n),
      lo(f0, g4) + lo(f1, g3) + lo(f2, g2) + lo(f3, g1) + lo(f4, g0),
      hi(f0, g4) + hi(f1, g3) + hi(f2, g2) + hi(f3, g1) + hi(f4, g0))
  }

  /** h = f². h may alias f. */
  private def sqr(h: Array[Long], f: Array[Long]): Unit = {
    val f0 = f(0); val f1 = f(1); val f2 = f(2); val f3 = f(3); val f4 = f(4)
    val d0 = 2 * f0; val d1 = 2 * f1; val d2 = 2 * f2; val d3 = 2 * f3
    val f3n = 19 * f3; val f4n = 19 * f4
    reduce(h,
      lo(f0, f0) + lo(d1, f4n) + lo(d2, f3n),
      hi(f0, f0) + hi(d1, f4n) + hi(d2, f3n),
      lo(d0, f1) + lo(d2, f4n) + lo(f3, f3n),
      hi(d0, f1) + hi(d2, f4n) + hi(f3, f3n),
      lo(d0, f2) + lo(f1, f1) + lo(d3, f4n),
      hi(d0, f2) + hi(f1, f1) + hi(d3, f4n),
      lo(d0, f3) + lo(d1, f2) + lo(f4, f4n),
      hi(d0, f3) + hi(d1, f2) + hi(f4, f4n),
      lo(d0, f4) + lo(d1, f3) + lo(f2, f2),
      hi(d0, f4) + hi(d1, f3) + hi(f2, f2))
  }

  /** h = a24·f with RFC 7748's a24 = 121665. */
  private def mul121665(h: Array[Long], f: Array[Long]): Unit = {
    val a = 121665L
    reduce(h, lo(f(0), a), hi(f(0), a), lo(f(1), a), hi(f(1), a), lo(f(2), a), hi(f(2), a),
      lo(f(3), a), hi(f(3), a), lo(f(4), a), hi(f(4), a))
  }

  /** h = f^(2^n). */
  private def sqrN(h: Array[Long], f: Array[Long], n: Int): Unit = {
    sqr(h, f)
    var i = 1
    while (i < n) { sqr(h, h); i += 1 }
  }

  /** h = z^(p−2) = 1/z (0 for z = 0): 254 squarings and 11 multiplications. */
  private def invert(h: Array[Long], z: Array[Long]): Unit = {
    val t0 = new Array[Long](5); val t1 = new Array[Long](5)
    val t2 = new Array[Long](5); val t3 = new Array[Long](5)
    sqr(t0, z)             // z^2
    sqrN(t1, t0, 2)        // z^8
    mul(t1, z, t1)         // z^9
    mul(t0, t0, t1)        // z^11
    sqr(t2, t0)            // z^22
    mul(t1, t1, t2)        // z^(2^5 - 1)
    sqrN(t2, t1, 5)
    mul(t1, t2, t1)        // z^(2^10 - 1)
    sqrN(t2, t1, 10)
    mul(t2, t2, t1)        // z^(2^20 - 1)
    sqrN(t3, t2, 20)
    mul(t2, t3, t2)        // z^(2^40 - 1)
    sqrN(t2, t2, 10)
    mul(t1, t2, t1)        // z^(2^50 - 1)
    sqrN(t2, t1, 50)
    mul(t2, t2, t1)        // z^(2^100 - 1)
    sqrN(t3, t2, 100)
    mul(t2, t3, t2)        // z^(2^200 - 1)
    sqrN(t2, t2, 50)
    mul(t1, t2, t1)        // z^(2^250 - 1)
    sqrN(t1, t1, 5)        // z^(2^255 - 2^5)
    mul(h, t1, t0)         // z^(2^255 - 21) = z^(p - 2)
  }

  private def word(b: Array[Byte], off: Int): Long = {
    var w = 0L
    var i = 7
    while (i >= 0) { w = (w << 8) | (b(off + i) & 0xffL); i -= 1 }
    w
  }

  /** 32 bytes LE → limbs < 2^51, bit 255 masked (RFC 7748 §5). A value in
    * [p, 2^255) is kept as it is; the arithmetic is correct mod p on it. */
  private def decode(u: Array[Byte]): Array[Long] = {
    val w0 = word(u, 0); val w1 = word(u, 8); val w2 = word(u, 16); val w3 = word(u, 24)
    Array(
      w0 & M,
      ((w0 >>> 51) | (w1 << 13)) & M,
      ((w1 >>> 38) | (w2 << 26)) & M,
      ((w2 >>> 25) | (w3 << 39)) & M,
      (w3 >>> 12) & M)
  }

  /** Limbs ≤ 2^51 → the canonical 32-byte LE encoding of their value mod p. */
  private def encode(f: Array[Long]): Array[Byte] = {
    val t = f.clone()
    // One carry pass; bit 255 re-enters limb 0 times `wrap` (19, or 0 to drop it).
    def carry(wrap: Long): Unit = {
      t(1) += t(0) >>> 51; t(0) &= M
      t(2) += t(1) >>> 51; t(1) &= M
      t(3) += t(2) >>> 51; t(2) &= M
      t(4) += t(3) >>> 51; t(3) &= M
      t(0) += wrap * (t(4) >>> 51); t(4) &= M
    }
    // Two wrapping passes leave every limb < 2^51, so t = v in [0, 2^255).
    carry(19); carry(19)
    // v + 19 carries out of bit 255 exactly when v ≥ p, and the wrap then
    // leaves v − p + 19; either way t = (v mod p) + 19 …
    t(0) += 19
    carry(19)
    // … and adding 2^255 − 19, then dropping bit 255, leaves v mod p.
    t(0) += (1L << 51) - 19
    t(1) += M; t(2) += M; t(3) += M; t(4) += M
    carry(0)
    val out = new Array[Byte](32)
    val ws = Array(
      t(0) | (t(1) << 51),
      (t(1) >>> 13) | (t(2) << 38),
      (t(2) >>> 26) | (t(3) << 25),
      (t(3) >>> 39) | (t(4) << 12))
    var i = 0
    while (i < 32) { out(i) = (ws(i >>> 3) >>> ((i & 7) * 8)).toByte; i += 1 }
    out
  }
}
