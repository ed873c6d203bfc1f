package graft.functions

import java.math.BigInteger

/** secp256k1 ECDSA public-key recovery (SEC 1 v2 §4.1.6) in pure JVM —
  * BigInteger Jacobian point arithmetic, no native libraries. Used by
  * parse_raw_tx for sender recovery (the `types.Sender` behavior at
  * /root/reference/common/txsfile.go:166). Public curve parameters.
  */
object Secp256k1 {
  private val P = new BigInteger(
    "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  private val N = new BigInteger(
    "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  private val HalfN = N.shiftRight(1)
  private val Gx = new BigInteger(
    "79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798", 16)
  private val Gy = new BigInteger(
    "483ada7726a3c4655da4fbfc0e1108a8fd17b448a68554199c47d08ffb10d4b8", 16)
  private val Seven = BigInteger.valueOf(7)
  // (p+1)/4 — sqrt exponent, p ≡ 3 (mod 4)
  private val SqrtExp = P.add(BigInteger.ONE).shiftRight(2)

  /** Jacobian point (x = X/Z², y = Y/Z³); Z = 0 ⇒ infinity. Projective
    * coordinates avoid the per-operation modular inversion of affine math
    * (one inversion total, at the end) — the standard EC speedup. */
  private final case class Pt(x: BigInteger, y: BigInteger, z: BigInteger) {
    def isInfinity: Boolean = z.signum == 0
  }
  private val Infinity = Pt(BigInteger.ONE, BigInteger.ONE, BigInteger.ZERO)
  private val G = Pt(Gx, Gy, BigInteger.ONE)

  private def mod(v: BigInteger): BigInteger = {
    val m = v.mod(P); m
  }

  /** 2·A, Jacobian doubling for a = 0 (secp256k1). */
  private def dbl(p: Pt): Pt = {
    if (p.isInfinity || p.y.signum == 0) return Infinity
    val a = mod(p.x.multiply(p.x)) // X²
    val b = mod(p.y.multiply(p.y)) // Y²
    val c = mod(b.multiply(b)) // Y⁴
    val xb = p.x.add(b)
    val d = mod(xb.multiply(xb).subtract(a).subtract(c).shiftLeft(1)) // 2((X+Y²)²−X²−Y⁴)
    val e = mod(a.multiply(BigInteger.valueOf(3))) // 3X²
    val x3 = mod(e.multiply(e).subtract(d.shiftLeft(1)))
    val y3 = mod(e.multiply(d.subtract(x3)).subtract(c.shiftLeft(3)))
    val z3 = mod(p.y.multiply(p.z).shiftLeft(1))
    Pt(x3, y3, z3)
  }

  /** A + B, general Jacobian addition. */
  private def add(p: Pt, q: Pt): Pt = {
    if (p.isInfinity) return q
    if (q.isInfinity) return p
    val z1z1 = mod(p.z.multiply(p.z))
    val z2z2 = mod(q.z.multiply(q.z))
    val u1 = mod(p.x.multiply(z2z2))
    val u2 = mod(q.x.multiply(z1z1))
    val s1 = mod(p.y.multiply(z2z2).multiply(q.z))
    val s2 = mod(q.y.multiply(z1z1).multiply(p.z))
    val h = mod(u2.subtract(u1))
    val r = mod(s2.subtract(s1))
    if (h.signum == 0) {
      if (r.signum == 0) return dbl(p)
      return Infinity
    }
    val h2 = mod(h.multiply(h))
    val h3 = mod(h2.multiply(h))
    val u1h2 = mod(u1.multiply(h2))
    val x3 = mod(r.multiply(r).subtract(h3).subtract(u1h2.shiftLeft(1)))
    val y3 = mod(r.multiply(u1h2.subtract(x3)).subtract(s1.multiply(h3)))
    val z3 = mod(h.multiply(p.z).multiply(q.z))
    Pt(x3, y3, z3)
  }

  /** Width-w NAF digits (LSB first): zero or odd with |d| < 2^(w-1);
    * nonzero density ~1/(w+1). Runs on 64-bit limbs — the digit loop
    * iterates once per scalar bit, so BigInteger churn here showed up in
    * recovery profiles. */
  private def wnaf(kIn: BigInteger, w: Int): Array[Int] = {
    val l = new Array[Long](5) // ≤ 320 bits, enough for any scalar here
    var tmp = kIn
    var idx = 0
    while (tmp.signum > 0 && idx < 5) {
      l(idx) = tmp.longValue; tmp = tmp.shiftRight(64); idx += 1
    }
    val out = new Array[Int](kIn.bitLength + 1)
    val mask = (1L << w) - 1
    val half = 1L << (w - 1)
    var i = 0
    while (l(0) != 0 || l(1) != 0 || l(2) != 0 || l(3) != 0 || l(4) != 0) {
      if ((l(0) & 1L) != 0) {
        var d = l(0) & mask // k mod 2^w
        if (d >= half) d -= (1L << w)
        out(i) = d.toInt
        if (d > 0) { // k -= d
          var borrow = d
          var j = 0
          while (borrow != 0 && j < 5) {
            val s = l(j) - borrow
            borrow = if (java.lang.Long.compareUnsigned(l(j), borrow) < 0) 1L else 0L
            l(j) = s; j += 1
          }
        } else { // k += |d|
          var carry = -d
          var j = 0
          while (carry != 0 && j < 5) {
            val s = l(j) + carry
            carry = if (java.lang.Long.compareUnsigned(s, l(j)) < 0) 1L else 0L
            l(j) = s; j += 1
          }
        }
      }
      var j = 0
      while (j < 4) { l(j) = (l(j) >>> 1) | (l(j + 1) << 63); j += 1 }
      l(4) >>>= 1
      i += 1
    }
    java.util.Arrays.copyOf(out, i)
  }
  /** R-point window: width 5 → odd |d| ≤ 15 → the 8-entry odd-multiple
    * table computed per recovery. */
  private def wnaf5(k: BigInteger): Array[Int] = wnaf(k, 5)
  /** Fixed-base window: width 8 → odd |d| ≤ 127 → the static 64-entry
    * G tables; ~14 adds per 128-bit GLV scalar instead of ~26 at w=4. */
  private def wnaf8(k: BigInteger): Array[Int] = wnaf(k, 8)

  /** Odd multiples 1·G … 127·G normalized to affine, computed once
    * (the fixed-base wNAF-8 table; class-load cost only). */
  private lazy val gTable: Array[(BigInteger, BigInteger)] = {
    val pts = new Array[Pt](64)
    pts(0) = G
    val g2 = dbl(G)
    var i = 1
    while (i < 64) { pts(i) = add(pts(i - 1), g2); i += 1 }
    pts.map(toAffine)
  }

  // ── limb-based Jacobian arithmetic (hot ladder path) ─────────────────
  // Same formulas as the BigInteger versions above, on Fp256 limbs: no
  // object churn in the inner loop beyond small fixed arrays, no
  // BigInteger.mod. BigInteger remains for scalar (mod n) work, the one
  // final inversion, and the startup GLV derivation.

  private final class JPt(val x: Array[Long], val y: Array[Long], val z: Array[Long])
  private def jInf: JPt = new JPt(new Array[Long](4), new Array[Long](4), new Array[Long](4))
  @inline private def jIsInf(p: JPt): Boolean = Fp256.isZero(p.z)

  private def jDbl(p: JPt): JPt = {
    if (jIsInf(p) || Fp256.isZero(p.y)) return jInf
    val a = new Array[Long](4); Fp256.sqr(p.x, a) // X²
    val b = new Array[Long](4); Fp256.sqr(p.y, b) // Y²
    val c = new Array[Long](4); Fp256.sqr(b, c) // Y⁴
    val xb = new Array[Long](4); Fp256.add(p.x, b, xb)
    val xb2 = new Array[Long](4); Fp256.sqr(xb, xb2)
    val d = new Array[Long](4)
    Fp256.sub(xb2, a, d); Fp256.sub(d, c, d); Fp256.dbl2(d, d) // 2((X+B)²−A−C)
    val e = new Array[Long](4); Fp256.add(a, a, e); Fp256.add(e, a, e) // 3A
    val x3 = new Array[Long](4); Fp256.sqr(e, x3)
    Fp256.sub(x3, d, x3); Fp256.sub(x3, d, x3) // E²−2D
    val y3 = new Array[Long](4)
    Fp256.sub(d, x3, y3); Fp256.mul(e, Fp256.copy(y3), y3)
    val c8 = new Array[Long](4)
    Fp256.dbl2(c, c8); Fp256.dbl2(c8, c8); Fp256.dbl2(c8, c8) // 8C
    Fp256.sub(y3, c8, y3)
    val z3 = new Array[Long](4)
    Fp256.mul(p.y, p.z, z3); Fp256.dbl2(z3, z3)
    new JPt(x3, y3, z3)
  }

  private def jAdd(p: JPt, q: JPt): JPt = {
    if (jIsInf(p)) return q
    if (jIsInf(q)) return p
    val z1z1 = new Array[Long](4); Fp256.sqr(p.z, z1z1)
    val z2z2 = new Array[Long](4); Fp256.sqr(q.z, z2z2)
    val u1 = new Array[Long](4); Fp256.mul(p.x, z2z2, u1)
    val u2 = new Array[Long](4); Fp256.mul(q.x, z1z1, u2)
    val t = new Array[Long](4)
    val s1 = new Array[Long](4); Fp256.mul(p.y, z2z2, t); Fp256.mul(t, q.z, s1)
    val s2 = new Array[Long](4); Fp256.mul(q.y, z1z1, t); Fp256.mul(t, p.z, s2)
    val h = new Array[Long](4); Fp256.sub(u2, u1, h)
    val r = new Array[Long](4); Fp256.sub(s2, s1, r)
    if (Fp256.isZero(h)) {
      if (Fp256.isZero(r)) return jDbl(p)
      return jInf
    }
    val h2 = new Array[Long](4); Fp256.sqr(h, h2)
    val h3 = new Array[Long](4); Fp256.mul(h2, h, h3)
    val u1h2 = new Array[Long](4); Fp256.mul(u1, h2, u1h2)
    val x3 = new Array[Long](4); Fp256.sqr(r, x3)
    Fp256.sub(x3, h3, x3); Fp256.sub(x3, u1h2, x3); Fp256.sub(x3, u1h2, x3)
    val y3 = new Array[Long](4)
    Fp256.sub(u1h2, x3, y3); Fp256.mul(r, Fp256.copy(y3), y3)
    Fp256.mul(s1, h3, t); Fp256.sub(y3, t, y3)
    val z3 = new Array[Long](4)
    Fp256.mul(p.z, q.z, t); Fp256.mul(h, t, z3)
    new JPt(x3, y3, z3)
  }

  // ── GLV endomorphism (secp256k1 has φ(x,y) = (βx, y) = λ·(x,y)) ──────
  // All constants are DERIVED here and self-verified against the curve; if
  // any check fails the code falls back to the plain 2-scalar ladder.

  /** Tonelli-Shanks modular square root (m odd prime). */
  private def sqrtMod(aIn: BigInteger, m: BigInteger): Option[BigInteger] = {
    val a = aIn.mod(m)
    if (a.signum == 0) return Some(BigInteger.ZERO)
    val legendreExp = m.subtract(BigInteger.ONE).shiftRight(1)
    if (a.modPow(legendreExp, m) != BigInteger.ONE) return None
    if (m.testBit(1)) // m ≡ 3 (mod 4)
      return Some(a.modPow(m.add(BigInteger.ONE).shiftRight(2), m))
    // general case: factor m-1 = q·2^s
    var q = m.subtract(BigInteger.ONE)
    var s = 0
    while (!q.testBit(0)) { q = q.shiftRight(1); s += 1 }
    // find a non-residue z
    var z = BigInteger.TWO
    while (z.modPow(legendreExp, m) == BigInteger.ONE) z = z.add(BigInteger.ONE)
    var c = z.modPow(q, m)
    var t = a.modPow(q, m)
    var r = a.modPow(q.add(BigInteger.ONE).shiftRight(1), m)
    var mEx = s
    while (t != BigInteger.ONE) {
      var t2 = t
      var i = 0
      while (t2 != BigInteger.ONE && i < mEx) { t2 = t2.multiply(t2).mod(m); i += 1 }
      if (i == mEx) return None
      val b = c.modPow(BigInteger.ONE.shiftLeft(mEx - i - 1), m)
      r = r.multiply(b).mod(m)
      c = b.multiply(b).mod(m)
      t = t.multiply(c).mod(m)
      mEx = i
    }
    Some(r)
  }

  /** Cube-root-of-unity candidates: roots of x² + x + 1 (mod m). */
  private def cubeRootsOfUnity(m: BigInteger): Seq[BigInteger] =
    sqrtMod(m.subtract(BigInteger.valueOf(3)), m).toSeq.flatMap { s3 =>
      val inv2 = BigInteger.TWO.modInverse(m)
      Seq(
        BigInteger.valueOf(-1).add(s3).multiply(inv2).mod(m),
        BigInteger.valueOf(-1).subtract(s3).multiply(inv2).mod(m))
    }

  /** Plain double-and-add (used only once, to verify λ/β). */
  private def mulPlain(k: BigInteger, p: Pt): Pt = {
    var acc = Infinity
    var i = k.bitLength - 1
    while (i >= 0) {
      acc = dbl(acc)
      if (k.testBit(i)) acc = add(acc, p)
      i -= 1
    }
    acc
  }

  /** (λ, β, basis v1, basis v2) — verified; None disables GLV. */
  private lazy val glvParams: Option[(BigInteger, BigInteger,
      (BigInteger, BigInteger), (BigInteger, BigInteger))] = {
    val pairs = for {
      lam <- cubeRootsOfUnity(N)
      beta <- cubeRootsOfUnity(P)
    } yield (lam, beta)
    val verified = pairs.find { case (lam, beta) =>
      val (lx, ly) = toAffine(mulPlain(lam, G))
      lx == Gx.multiply(beta).mod(P) && ly == Gy
    }
    verified.flatMap { case (lam, beta) =>
      // short lattice basis for (k1 + k2·λ ≡ k): extended Euclid on (n, λ),
      // stop at the first remainder below √n (standard GLV construction)
      val sqrtN = sqrtFloor(N)
      var (r0, r1) = (N, lam)
      var (t0, t1) = (BigInteger.ZERO, BigInteger.ONE)
      while (r1.compareTo(sqrtN) >= 0) {
        val q = r0.divide(r1)
        val r2 = r0.subtract(q.multiply(r1))
        val t2 = t0.subtract(q.multiply(t1))
        r0 = r1; t0 = t1; r1 = r2; t1 = t2
      }
      val v1 = (r1, t1.negate)
      val v2 = (r0, t0.negate)
      // sanity: both basis vectors must satisfy a + b·λ ≡ 0 (mod n)
      def ok(v: (BigInteger, BigInteger)) =
        v._1.add(v._2.multiply(lam)).mod(N).signum == 0
      if (ok(v1) && ok(v2)) Some((lam, beta, v1, v2)) else None
    }
  }

  private def sqrtFloor(v: BigInteger): BigInteger = v.sqrt()

  /** Balanced decomposition k = k1 + k2·λ (mod n), |k1|,|k2| ≈ √n. */
  private def glvDecompose(k: BigInteger, lam: BigInteger,
      v1: (BigInteger, BigInteger), v2: (BigInteger, BigInteger)): (BigInteger, BigInteger) = {
    // Babai rounding of (k,0) onto the lattice: round(num / n) to nearest
    def rnd(num: BigInteger): BigInteger = {
      val qr = num.add(N.shiftRight(1)).divideAndRemainder(N)
      if (qr(1).signum < 0) qr(0).subtract(BigInteger.ONE) else qr(0)
    }
    val c1 = rnd(v2._2.multiply(k))
    val c2 = rnd(v1._2.negate.multiply(k))
    val k1 = k.subtract(c1.multiply(v1._1)).subtract(c2.multiply(v2._1))
    val k2 = c1.multiply(v1._2).add(c2.multiply(v2._2)).negate
    (k1, k2)
  }

  /** φ applied to the affine G table. */
  private lazy val gEndoTable: Array[(BigInteger, BigInteger)] =
    glvParams match {
      case Some((_, beta, _, _)) =>
        gTable.map { case (x, y) => (x.multiply(beta).mod(P), y) }
      case None => Array.empty
    }

  // limb forms of the static affine tables (+ negated y, precomputed)
  private lazy val gTabL: Array[(Array[Long], Array[Long], Array[Long])] =
    gTable.map { case (x, y) =>
      val yl = Fp256.fromBigInteger(y)
      val ny = new Array[Long](4); Fp256.sub(new Array[Long](4), yl, ny)
      (Fp256.fromBigInteger(x), yl, ny)
    }
  private lazy val gEndoTabL: Array[(Array[Long], Array[Long], Array[Long])] =
    gEndoTable.map { case (x, y) =>
      val yl = Fp256.fromBigInteger(y)
      val ny = new Array[Long](4); Fp256.sub(new Array[Long](4), yl, ny)
      (Fp256.fromBigInteger(x), yl, ny)
    }
  private lazy val betaL: Option[Array[Long]] =
    glvParams.map { case (_, beta, _, _) => Fp256.fromBigInteger(beta) }

  private def jOddMultiples(p: JPt): Array[JPt] = {
    val tab = new Array[JPt](8)
    tab(0) = p
    val p2 = jDbl(p)
    var i = 1
    while (i < 8) { tab(i) = jAdd(tab(i - 1), p2); i += 1 }
    tab
  }

  // ── in-place ladder arithmetic ───────────────────────────────────────
  // The ~200-step ladder is the hot loop of every recovery; these mutable
  // variants keep all temporaries in one per-call scratch pool so a step
  // allocates nothing (the functional jDbl/jAdd above allocate ~10 small
  // arrays per step, which costs as much as the field math itself).

  private final class MPt {
    var x = new Array[Long](4)
    var y = new Array[Long](4)
    var z = new Array[Long](4)
    var inf = true
  }

  private final class Scratch {
    val t0 = new Array[Long](4); val t1 = new Array[Long](4)
    val t2 = new Array[Long](4); val t3 = new Array[Long](4)
    val t4 = new Array[Long](4); val t5 = new Array[Long](4)
    var o1 = new Array[Long](4); var o2 = new Array[Long](4)
    var o3 = new Array[Long](4)
  }

  /** p ← 2p (Jacobian, a = 0), in place. */
  private def mDbl(p: MPt, s: Scratch): Unit = {
    if (p.inf) return
    if (Fp256.isZero(p.y)) { p.inf = true; return }
    Fp256.sqr(p.x, s.t0) // A = X²
    Fp256.sqr(p.y, s.t1) // B = Y²
    Fp256.sqr(s.t1, s.t2) // C = Y⁴
    Fp256.add(p.x, s.t1, s.t3) // X+B
    Fp256.sqr(s.t3, s.t4)
    Fp256.sub(s.t4, s.t0, s.t4)
    Fp256.sub(s.t4, s.t2, s.t4)
    Fp256.dbl2(s.t4, s.t4) // D = 2((X+B)²−A−C)
    Fp256.add(s.t0, s.t0, s.t5); Fp256.add(s.t5, s.t0, s.t5) // E = 3A
    Fp256.sqr(s.t5, s.o1)
    Fp256.sub(s.o1, s.t4, s.o1); Fp256.sub(s.o1, s.t4, s.o1) // X3 = E²−2D
    Fp256.sub(s.t4, s.o1, s.t3) // D − X3
    Fp256.mul(s.t5, s.t3, s.o2) // E(D−X3)
    Fp256.dbl2(s.t2, s.t2); Fp256.dbl2(s.t2, s.t2); Fp256.dbl2(s.t2, s.t2) // 8C
    Fp256.sub(s.o2, s.t2, s.o2) // Y3
    Fp256.mul(p.y, p.z, s.t3)
    Fp256.dbl2(s.t3, s.o3) // Z3 = 2YZ
    val ox = p.x; val oy = p.y; val oz = p.z
    p.x = s.o1; p.y = s.o2; p.z = s.o3
    s.o1 = ox; s.o2 = oy; s.o3 = oz
  }

  /** p ← p + (x2, y2) (mixed, affine addend), in place. */
  private def mAddAffine(p: MPt, x2: Array[Long], y2: Array[Long], s: Scratch): Unit = {
    if (p.inf) {
      System.arraycopy(x2, 0, p.x, 0, 4)
      System.arraycopy(y2, 0, p.y, 0, 4)
      p.z(0) = 1L; p.z(1) = 0L; p.z(2) = 0L; p.z(3) = 0L
      p.inf = false
      return
    }
    Fp256.sqr(p.z, s.t0) // Z1²
    Fp256.mul(x2, s.t0, s.t1) // U2
    Fp256.mul(y2, s.t0, s.t2); Fp256.mul(s.t2, p.z, s.t3) // S2
    Fp256.sub(s.t1, p.x, s.t4) // H
    Fp256.sub(s.t3, p.y, s.t5) // R
    if (Fp256.isZero(s.t4)) {
      if (Fp256.isZero(s.t5)) mDbl(p, s) else p.inf = true
      return
    }
    Fp256.sqr(s.t4, s.t0) // H²
    Fp256.mul(s.t0, s.t4, s.t1) // H³
    Fp256.mul(p.x, s.t0, s.t2) // U1H2
    Fp256.sqr(s.t5, s.o1)
    Fp256.sub(s.o1, s.t1, s.o1)
    Fp256.sub(s.o1, s.t2, s.o1); Fp256.sub(s.o1, s.t2, s.o1) // X3
    Fp256.sub(s.t2, s.o1, s.t0) // U1H2 − X3
    Fp256.mul(s.t5, s.t0, s.o2) // R(U1H2−X3)
    Fp256.mul(p.y, s.t1, s.t0) // Y1·H³
    Fp256.sub(s.o2, s.t0, s.o2) // Y3
    Fp256.mul(s.t4, p.z, s.o3) // Z3 = H·Z1
    val ox = p.x; val oy = p.y; val oz = p.z
    p.x = s.o1; p.y = s.o2; p.z = s.o3
    s.o1 = ox; s.o2 = oy; s.o3 = oz
  }

  /** Affine (x || y) as the 64-byte uncompressed public key, straight
    * from limbs — one limb inversion, no BigInteger. */
  private def mToPubBytes(p: MPt): Option[Array[Byte]] =
    if (p.inf) None
    else {
      val zInv = Fp256.fromBigInteger(
        Fp256.toBigInteger(p.z).modInverse(P))
      val zi2 = new Array[Long](4); Fp256.sqr(zInv, zi2)
      val ax = new Array[Long](4); Fp256.mul(p.x, zi2, ax)
      val zi3 = new Array[Long](4); Fp256.mul(zi2, zInv, zi3)
      val ay = new Array[Long](4); Fp256.mul(p.y, zi3, ay)
      val pub = new Array[Byte](64)
      Fp256.toBytesBE(ax, pub, 0); Fp256.toBytesBE(ay, pub, 32)
      Some(pub)
    }

  /** Jacobian points → affine limb triples (x, y, −y) with ONE field
    * inversion (Montgomery batch trick): the ladder then uses the cheaper
    * mixed addition for the R table too, not just the static G tables.
    * Callers guarantee no input is infinity (odd multiples of a valid
    * R < n never are). */
  private def jBatchAffine(pts: Array[JPt]): Array[(Array[Long], Array[Long], Array[Long])] = {
    val n = pts.length
    val prefix = new Array[Array[Long]](n)
    var acc: Array[Long] = Array(1L, 0L, 0L, 0L)
    var i = 0
    while (i < n) {
      prefix(i) = acc
      val nxt = new Array[Long](4); Fp256.mul(acc, pts(i).z, nxt); acc = nxt
      i += 1
    }
    var invAcc = Fp256.fromBigInteger(Fp256.toBigInteger(acc).modInverse(P))
    val out = new Array[(Array[Long], Array[Long], Array[Long])](n)
    i = n - 1
    while (i >= 0) {
      val zInv = new Array[Long](4); Fp256.mul(invAcc, prefix(i), zInv)
      val nxtInv = new Array[Long](4); Fp256.mul(invAcc, pts(i).z, nxtInv); invAcc = nxtInv
      val zi2 = new Array[Long](4); Fp256.sqr(zInv, zi2)
      val x = new Array[Long](4); Fp256.mul(pts(i).x, zi2, x)
      val zi3 = new Array[Long](4); Fp256.mul(zi2, zInv, zi3)
      val y = new Array[Long](4); Fp256.mul(pts(i).y, zi3, y)
      val ny = new Array[Long](4); Fp256.sub(new Array[Long](4), y, ny)
      out(i) = (x, y, ny)
      i -= 1
    }
    out
  }

  /** k1·R + k2·G. With GLV: 4 interleaved 128-bit wNAF scalars over
    * {R, φR, G, φG} → half the doublings of the 2-scalar ladder. The R
    * tables are batch-normalized to affine (one inversion) and the G
    * scalars use the static wNAF-8 fixed-base tables, so every ladder
    * addition is the cheap mixed form. Without GLV (derivation failed):
    * plain interleaved 2-scalar ladder. */
  private def shamir(k1: BigInteger, rx: Array[Long], ry: Array[Long], k2: BigInteger): MPt = {
    glvParams match {
      case Some((lam, beta, v1, v2)) =>
        val (r1, r2) = glvDecompose(k1.mod(N), lam, v1, v2)
        val (g1, g2) = glvDecompose(k2.mod(N), lam, v1, v2)
        // correctness guard: decomposition must reconstruct the scalars
        if (r1.add(r2.multiply(lam)).subtract(k1).mod(N).signum != 0 ||
            g1.add(g2.multiply(lam)).subtract(k2).mod(N).signum != 0)
          return shamirPlain(k1, rx, ry, k2)
        val rTab = jBatchAffine(jOddMultiples(
          new JPt(Fp256.copy(rx), Fp256.copy(ry), Array(1L, 0L, 0L, 0L))))
        val bl = betaL.get
        val rTabE = rTab.map { case (x, y, ny) =>
          val ex = new Array[Long](4); Fp256.mul(x, bl, ex)
          (ex, y, ny)
        }
        def digits(k: BigInteger) = (wnaf5(k.abs), k.signum < 0)
        def gDigits(k: BigInteger) = (wnaf8(k.abs), k.signum < 0)
        val (d1, n1) = digits(r1); val (d2, n2) = digits(r2)
        val (d3, n3) = gDigits(g1); val (d4, n4) = gDigits(g2)
        val acc = new MPt
        val s = new Scratch
        var j = Seq(d1.length, d2.length, d3.length, d4.length).max - 1
        while (j >= 0) {
          mDbl(acc, s)
          if (j < d1.length && d1(j) != 0) {
            val d = d1(j); val (x, y, ny) = rTab(math.abs(d) >> 1)
            mAddAffine(acc, x, if ((d > 0) != n1) y else ny, s)
          }
          if (j < d2.length && d2(j) != 0) {
            val d = d2(j); val (x, y, ny) = rTabE(math.abs(d) >> 1)
            mAddAffine(acc, x, if ((d > 0) != n2) y else ny, s)
          }
          if (j < d3.length && d3(j) != 0) {
            val d = d3(j); val (gx, gy, gny) = gTabL(math.abs(d) >> 1)
            mAddAffine(acc, gx, if ((d > 0) != n3) gy else gny, s)
          }
          if (j < d4.length && d4(j) != 0) {
            val d = d4(j); val (gx, gy, gny) = gEndoTabL(math.abs(d) >> 1)
            mAddAffine(acc, gx, if ((d > 0) != n4) gy else gny, s)
          }
          j -= 1
        }
        acc
      case None => shamirPlain(k1, rx, ry, k2)
    }
  }

  /** The non-GLV 2-scalar interleaved wNAF ladder (limb arithmetic). */
  private def shamirPlain(k1: BigInteger, rx: Array[Long], ry: Array[Long], k2: BigInteger): MPt = {
    val rTab = jBatchAffine(jOddMultiples(
      new JPt(Fp256.copy(rx), Fp256.copy(ry), Array(1L, 0L, 0L, 0L))))
    val d1 = wnaf5(k1)
    val d2 = wnaf8(k2)
    val acc = new MPt
    val s = new Scratch
    var j = math.max(d1.length, d2.length) - 1
    while (j >= 0) {
      mDbl(acc, s)
      if (j < d1.length && d1(j) != 0) {
        val d = d1(j)
        val (x, y, ny) = rTab(math.abs(d) >> 1)
        mAddAffine(acc, x, if (d > 0) y else ny, s)
      }
      if (j < d2.length && d2(j) != 0) {
        val d = d2(j)
        val (gx, gy, gny) = gTabL(math.abs(d) >> 1)
        mAddAffine(acc, gx, if (d > 0) gy else gny, s)
      }
      j -= 1
    }
    acc
  }

  /** Jacobian → affine (the one inversion). */
  private def toAffine(p: Pt): (BigInteger, BigInteger) = {
    val zInv = p.z.modInverse(P)
    val zInv2 = mod(zInv.multiply(zInv))
    (mod(p.x.multiply(zInv2)), mod(p.y.multiply(zInv2).multiply(zInv)))
  }

  /** Recover the uncompressed public key point from a signature.
    * Enforces go-ethereum's rules for modern signers: r,s ∈ [1, n-1] and
    * s ≤ n/2 (low-s, EIP-2 / homestead).
    * @return 20-byte Ethereum address (keccak(pub)[12..]) or None. */
  def recoverAddress(msgHash: Array[Byte], r: BigInteger, s: BigInteger, recId: Int): Option[Array[Byte]] = {
    if (recId < 0 || recId > 3) return None
    if (r.signum <= 0 || s.signum <= 0) return None
    if (r.compareTo(N) >= 0 || s.compareTo(N) >= 0) return None
    if (s.compareTo(HalfN) > 0) return None // low-s rule
    val x = r.add(BigInteger.valueOf(recId >> 1).multiply(N))
    if (x.compareTo(P) >= 0) return None
    // y² = x³ + 7; the sqrt/inversions stay on BigInteger modPow —
    // its intrinsified Montgomery is ~2x faster than a limb window-pow
    // here (measured on the 1M merge: 48.3 s vs 52.0 s), and the parse
    // path's parallel throughput is bound by memory traffic, not by the
    // modest GC these calls add
    val ySq = x.modPow(BigInteger.valueOf(3), P).add(Seven).mod(P)
    var y = ySq.modPow(SqrtExp, P)
    if (y.multiply(y).mod(P) != ySq) return None // not a quadratic residue
    val wantOdd = (recId & 1) == 1
    if (y.testBit(0) != wantOdd) y = P.subtract(y)
    val xL = Fp256.fromBigInteger(x)
    val yL = Fp256.fromBigInteger(y)
    val e = new BigInteger(1, msgHash).mod(N)
    val rInv = r.modInverse(N)
    // Q = r⁻¹ (s·R − e·G)
    val q = shamir(
      s.multiply(rInv).mod(N), xL, yL,
      N.subtract(e).multiply(rInv).mod(N))
    mToPubBytes(q).map(pub => Keccak256.hash(pub).slice(12, 32))
  }

}
