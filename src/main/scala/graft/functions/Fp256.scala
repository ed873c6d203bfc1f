package graft.functions

import java.math.BigInteger

/** Fixed-width arithmetic in the secp256k1 base field — elements are 4
  * little-endian 64-bit limbs, reduction exploits p = 2^256 − c with
  * c = 2^32 + 977 (the standard fast-reduction shape for this prime).
  * Replaces BigInteger.mod in the hot EC ladder; inversion and square
  * roots stay on BigInteger (once per recovery).
  *
  * Carry/borrow use the branch-free bit identities:
  *   carry(a+b = s)  = ((a & b) | ((a | b) & ~s)) >>> 63
  *   borrow(a-b = d) = ((~a & b) | (~(a ^ b) & d)) >>> 63
  */
object Fp256 {
  private val C = 0x1000003D1L // 2^32 + 977 (33 bits)
  val P: Array[Long] = Array(
    0xFFFFFFFEFFFFFC2FL, -1L, -1L, -1L)

  @inline private def umulHi(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)

  @inline private def carryOf(a: Long, b: Long, s: Long): Long =
    ((a & b) | ((a | b) & ~s)) >>> 63

  @inline private def borrowOf(a: Long, b: Long, d: Long): Long =
    ((~a & b) | (~(a ^ b) & d)) >>> 63

  /** out = a * b mod p. out must not alias a or b. Fully unrolled
    * straight-line schoolbook product + fold reduction: no temp
    * arrays, no loops — measurably faster than the looped form on
    * the JIT (the ladder runs ~1800 of these per recovery). */
  def mul(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    val a0 = a(0); val a1 = a(1); val a2 = a(2); val a3 = a(3)
    val b0 = b(0); val b1 = b(1); val b2 = b(2); val b3 = b(3)
    var r0 = 0L
    var r1 = 0L
    var r2 = 0L
    var r3 = 0L
    var r4 = 0L
    var r5 = 0L
    var r6 = 0L
    var r7 = 0L
    // row 0
    var cy0 = 0L
    val lo0_0 = a0 * b0; val hi0_0 = umulHi(a0, b0)
    val p0_0 = r0 + lo0_0; val pc0_0 = carryOf(r0, lo0_0, p0_0)
    val q0_0 = p0_0 + cy0; val qc0_0 = carryOf(p0_0, cy0, q0_0)
    r0 = q0_0; cy0 = hi0_0 + pc0_0 + qc0_0
    val lo0_1 = a0 * b1; val hi0_1 = umulHi(a0, b1)
    val p0_1 = r1 + lo0_1; val pc0_1 = carryOf(r1, lo0_1, p0_1)
    val q0_1 = p0_1 + cy0; val qc0_1 = carryOf(p0_1, cy0, q0_1)
    r1 = q0_1; cy0 = hi0_1 + pc0_1 + qc0_1
    val lo0_2 = a0 * b2; val hi0_2 = umulHi(a0, b2)
    val p0_2 = r2 + lo0_2; val pc0_2 = carryOf(r2, lo0_2, p0_2)
    val q0_2 = p0_2 + cy0; val qc0_2 = carryOf(p0_2, cy0, q0_2)
    r2 = q0_2; cy0 = hi0_2 + pc0_2 + qc0_2
    val lo0_3 = a0 * b3; val hi0_3 = umulHi(a0, b3)
    val p0_3 = r3 + lo0_3; val pc0_3 = carryOf(r3, lo0_3, p0_3)
    val q0_3 = p0_3 + cy0; val qc0_3 = carryOf(p0_3, cy0, q0_3)
    r3 = q0_3; cy0 = hi0_3 + pc0_3 + qc0_3
    r4 += cy0
    // row 1
    var cy1 = 0L
    val lo1_0 = a1 * b0; val hi1_0 = umulHi(a1, b0)
    val p1_0 = r1 + lo1_0; val pc1_0 = carryOf(r1, lo1_0, p1_0)
    val q1_0 = p1_0 + cy1; val qc1_0 = carryOf(p1_0, cy1, q1_0)
    r1 = q1_0; cy1 = hi1_0 + pc1_0 + qc1_0
    val lo1_1 = a1 * b1; val hi1_1 = umulHi(a1, b1)
    val p1_1 = r2 + lo1_1; val pc1_1 = carryOf(r2, lo1_1, p1_1)
    val q1_1 = p1_1 + cy1; val qc1_1 = carryOf(p1_1, cy1, q1_1)
    r2 = q1_1; cy1 = hi1_1 + pc1_1 + qc1_1
    val lo1_2 = a1 * b2; val hi1_2 = umulHi(a1, b2)
    val p1_2 = r3 + lo1_2; val pc1_2 = carryOf(r3, lo1_2, p1_2)
    val q1_2 = p1_2 + cy1; val qc1_2 = carryOf(p1_2, cy1, q1_2)
    r3 = q1_2; cy1 = hi1_2 + pc1_2 + qc1_2
    val lo1_3 = a1 * b3; val hi1_3 = umulHi(a1, b3)
    val p1_3 = r4 + lo1_3; val pc1_3 = carryOf(r4, lo1_3, p1_3)
    val q1_3 = p1_3 + cy1; val qc1_3 = carryOf(p1_3, cy1, q1_3)
    r4 = q1_3; cy1 = hi1_3 + pc1_3 + qc1_3
    r5 += cy1
    // row 2
    var cy2 = 0L
    val lo2_0 = a2 * b0; val hi2_0 = umulHi(a2, b0)
    val p2_0 = r2 + lo2_0; val pc2_0 = carryOf(r2, lo2_0, p2_0)
    val q2_0 = p2_0 + cy2; val qc2_0 = carryOf(p2_0, cy2, q2_0)
    r2 = q2_0; cy2 = hi2_0 + pc2_0 + qc2_0
    val lo2_1 = a2 * b1; val hi2_1 = umulHi(a2, b1)
    val p2_1 = r3 + lo2_1; val pc2_1 = carryOf(r3, lo2_1, p2_1)
    val q2_1 = p2_1 + cy2; val qc2_1 = carryOf(p2_1, cy2, q2_1)
    r3 = q2_1; cy2 = hi2_1 + pc2_1 + qc2_1
    val lo2_2 = a2 * b2; val hi2_2 = umulHi(a2, b2)
    val p2_2 = r4 + lo2_2; val pc2_2 = carryOf(r4, lo2_2, p2_2)
    val q2_2 = p2_2 + cy2; val qc2_2 = carryOf(p2_2, cy2, q2_2)
    r4 = q2_2; cy2 = hi2_2 + pc2_2 + qc2_2
    val lo2_3 = a2 * b3; val hi2_3 = umulHi(a2, b3)
    val p2_3 = r5 + lo2_3; val pc2_3 = carryOf(r5, lo2_3, p2_3)
    val q2_3 = p2_3 + cy2; val qc2_3 = carryOf(p2_3, cy2, q2_3)
    r5 = q2_3; cy2 = hi2_3 + pc2_3 + qc2_3
    r6 += cy2
    // row 3
    var cy3 = 0L
    val lo3_0 = a3 * b0; val hi3_0 = umulHi(a3, b0)
    val p3_0 = r3 + lo3_0; val pc3_0 = carryOf(r3, lo3_0, p3_0)
    val q3_0 = p3_0 + cy3; val qc3_0 = carryOf(p3_0, cy3, q3_0)
    r3 = q3_0; cy3 = hi3_0 + pc3_0 + qc3_0
    val lo3_1 = a3 * b1; val hi3_1 = umulHi(a3, b1)
    val p3_1 = r4 + lo3_1; val pc3_1 = carryOf(r4, lo3_1, p3_1)
    val q3_1 = p3_1 + cy3; val qc3_1 = carryOf(p3_1, cy3, q3_1)
    r4 = q3_1; cy3 = hi3_1 + pc3_1 + qc3_1
    val lo3_2 = a3 * b2; val hi3_2 = umulHi(a3, b2)
    val p3_2 = r5 + lo3_2; val pc3_2 = carryOf(r5, lo3_2, p3_2)
    val q3_2 = p3_2 + cy3; val qc3_2 = carryOf(p3_2, cy3, q3_2)
    r5 = q3_2; cy3 = hi3_2 + pc3_2 + qc3_2
    val lo3_3 = a3 * b3; val hi3_3 = umulHi(a3, b3)
    val p3_3 = r6 + lo3_3; val pc3_3 = carryOf(r6, lo3_3, p3_3)
    val q3_3 = p3_3 + cy3; val qc3_3 = carryOf(p3_3, cy3, q3_3)
    r6 = q3_3; cy3 = hi3_3 + pc3_3 + qc3_3
    r7 += cy3
    // fold 1: low4 + high4 * C
    var fc = 0L
    val flo0 = r4 * C; val fhi0 = umulHi(r4, C)
    val fp0 = r0 + flo0; val fpc0 = carryOf(r0, flo0, fp0)
    val fq0 = fp0 + fc; val fqc0 = carryOf(fp0, fc, fq0)
    r0 = fq0; fc = fhi0 + fpc0 + fqc0
    val flo1 = r5 * C; val fhi1 = umulHi(r5, C)
    val fp1 = r1 + flo1; val fpc1 = carryOf(r1, flo1, fp1)
    val fq1 = fp1 + fc; val fqc1 = carryOf(fp1, fc, fq1)
    r1 = fq1; fc = fhi1 + fpc1 + fqc1
    val flo2 = r6 * C; val fhi2 = umulHi(r6, C)
    val fp2 = r2 + flo2; val fpc2 = carryOf(r2, flo2, fp2)
    val fq2 = fp2 + fc; val fqc2 = carryOf(fp2, fc, fq2)
    r2 = fq2; fc = fhi2 + fpc2 + fqc2
    val flo3 = r7 * C; val fhi3 = umulHi(r7, C)
    val fp3 = r3 + flo3; val fpc3 = carryOf(r3, flo3, fp3)
    val fq3 = fp3 + fc; val fqc3 = carryOf(fp3, fc, fq3)
    r3 = fq3; fc = fhi3 + fpc3 + fqc3
    // fold 2: add fc * C (2-limb value)
    val lo2 = fc * C
    val hi2 = umulHi(fc, C)
    val g0 = r0 + lo2; var gc = carryOf(r0, lo2, g0)
    out(0) = g0
    val g1a = r1 + hi2; val g1ca = carryOf(r1, hi2, g1a)
    val g1 = g1a + gc; val g1cb = carryOf(g1a, gc, g1)
    out(1) = g1
    gc = g1ca + g1cb
    val g2 = r2 + gc; gc = carryOf(r2, gc, g2)
    out(2) = g2
    val g3 = r3 + gc; gc = carryOf(r3, gc, g3)
    out(3) = g3
    if (gc != 0) addSmall(out, C) // fold 3 (extremely rare)
    condSubP(out)
  }

  /** out = a² mod p. A dedicated 10-mult squaring was tried and measured
    * SLOWER than the straight-line 16-mult product (90 vs 60 ns): its
    * carry-propagation branches and doubling pass cost more than the six
    * saved multiplies on a multiplyHigh-intrinsic JVM. */
  def sqr(a: Array[Long], out: Array[Long]): Unit = mul(a, a, out)

  /** x += small (mod 2^256); wrap implies value left the 2^256 range, which
    * our callers use exactly as "+ C ≡ − p". */
  @inline private def addSmall(x: Array[Long], v: Long): Unit = {
    var s = x(0) + v
    var c = carryOf(x(0), v, s)
    x(0) = s
    var i = 1
    while (i < 4 && c != 0) {
      s = x(i) + c
      c = carryOf(x(i), c, s)
      x(i) = s
      i += 1
    }
  }

  @inline private def subSmall(x: Array[Long], v: Long): Unit = {
    var d = x(0) - v
    var b = borrowOf(x(0), v, d)
    x(0) = d
    var i = 1
    while (i < 4 && b != 0) {
      d = x(i) - b
      b = borrowOf(x(i), b, d)
      x(i) = d
      i += 1
    }
  }

  @inline private def geP(x: Array[Long]): Boolean = {
    var i = 3
    while (i >= 0) {
      val cmp = java.lang.Long.compareUnsigned(x(i), P(i))
      if (cmp > 0) return true
      if (cmp < 0) return false
      i -= 1
    }
    true
  }

  @inline private def condSubP(x: Array[Long]): Unit =
    if (geP(x)) addSmall(x, C) // x − p = x + C (mod 2^256)

  /** out = a + b mod p (out may alias a or b). */
  def add(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    var c = 0L
    var i = 0
    while (i < 4) {
      val s1 = a(i) + b(i)
      val c1 = carryOf(a(i), b(i), s1)
      val s2 = s1 + c
      val c2 = carryOf(s1, c, s2)
      out(i) = s2
      c = c1 + c2
      i += 1
    }
    if (c != 0) addSmall(out, C)
    condSubP(out)
  }

  /** out = a - b mod p (out may alias a or b). */
  def sub(a: Array[Long], b: Array[Long], out: Array[Long]): Unit = {
    var bo = 0L
    var i = 0
    while (i < 4) {
      val d1 = a(i) - b(i)
      val b1 = borrowOf(a(i), b(i), d1)
      val d2 = d1 - bo
      val b2 = borrowOf(d1, bo, d2)
      out(i) = d2
      bo = b1 + b2
      i += 1
    }
    if (bo != 0) subSmall(out, C) // x + p = x − C (mod 2^256)
  }

  /** out = 2a mod p. */
  def dbl2(a: Array[Long], out: Array[Long]): Unit = add(a, a, out)

  def isZero(x: Array[Long]): Boolean =
    x(0) == 0 && x(1) == 0 && x(2) == 0 && x(3) == 0

  def equalMod(a: Array[Long], b: Array[Long]): Boolean = {
    val d = new Array[Long](4)
    sub(a, b, d)
    isZero(d)
  }

  // ── conversions ──────────────────────────────────────────────────────

  def fromBigInteger(v: BigInteger): Array[Long] = {
    val out = new Array[Long](4)
    val bytes = v.toByteArray
    var i = 0
    while (i < bytes.length && i < 32) {
      val b = bytes(bytes.length - 1 - i) & 0xffL
      out(i / 8) |= b << (8 * (i % 8))
      i += 1
    }
    out
  }

  def toBigInteger(x: Array[Long]): BigInteger = {
    val bytes = new Array[Byte](33)
    var i = 0
    while (i < 32) {
      bytes(32 - i) = ((x(i / 8) >>> (8 * (i % 8))) & 0xff).toByte
      i += 1
    }
    new BigInteger(bytes)
  }

  def copy(x: Array[Long]): Array[Long] = java.util.Arrays.copyOf(x, 4)

  /** Write x as 32 big-endian bytes at out(off..off+31). */
  def toBytesBE(x: Array[Long], out: Array[Byte], off: Int): Unit = {
    var i = 0
    while (i < 32) {
      out(off + i) = ((x(3 - i / 8) >>> (8 * (7 - i % 8))) & 0xff).toByte
      i += 1
    }
  }
}
