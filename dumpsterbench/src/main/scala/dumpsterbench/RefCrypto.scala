package dumpsterbench

import java.math.BigInteger

/** Reference Keccak-256, RLP encoding and secp256k1 signing, written from
  * the public specs. The input generator signs its transactions with these
  * so the expected senders, hashes and trash verdicts are derived without
  * the engine's own kernels (`graft.functions`), which are what the
  * benchmark measures and checks.
  */
object RefCrypto {

  // ── Keccak-256 (the pre-NIST padding Ethereum uses) ──────────────────

  private val RoundConstants: Array[Long] = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  // rotation offset of lane (x, y), indexed x + 5y
  private val Rotations: Array[Int] = Array(
    0, 1, 62, 28, 27, 36, 44, 6, 55, 20, 3, 10, 43, 25, 39,
    41, 45, 15, 21, 8, 18, 2, 61, 56, 14)

  private def permute(a: Array[Long]): Unit = {
    val c = new Array[Long](5)
    val b = new Array[Long](25)
    var round = 0
    while (round < 24) {
      for (x <- 0 until 5) c(x) = a(x) ^ a(x + 5) ^ a(x + 10) ^ a(x + 15) ^ a(x + 20)
      for (x <- 0 until 5) {
        val d = c((x + 4) % 5) ^ java.lang.Long.rotateLeft(c((x + 1) % 5), 1)
        for (y <- 0 until 5) a(x + 5 * y) ^= d
      }
      for (x <- 0 until 5; y <- 0 until 5)
        b(y + 5 * ((2 * x + 3 * y) % 5)) =
          java.lang.Long.rotateLeft(a(x + 5 * y), Rotations(x + 5 * y))
      for (x <- 0 until 5; y <- 0 until 5)
        a(x + 5 * y) = b(x + 5 * y) ^ (~b((x + 1) % 5 + 5 * y) & b((x + 2) % 5 + 5 * y))
      a(0) ^= RoundConstants(round)
      round += 1
    }
  }

  def keccak256(in: Array[Byte]): Array[Byte] = {
    val rate = 136
    val n = (in.length / rate + 1) * rate
    val padded = java.util.Arrays.copyOf(in, n)
    padded(in.length) = (padded(in.length) ^ 0x01).toByte
    padded(n - 1) = (padded(n - 1) ^ 0x80).toByte
    val a = new Array[Long](25)
    var off = 0
    while (off < n) {
      for (i <- 0 until rate / 8) {
        var lane = 0L
        for (k <- 7 to 0 by -1) lane = (lane << 8) | (padded(off + 8 * i + k) & 0xffL)
        a(i) ^= lane
      }
      permute(a)
      off += rate
    }
    Array.tabulate(32)(i => (a(i / 8) >>> (8 * (i % 8))).toByte)
  }

  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16))
      .append(Character.forDigit(x & 0xf, 16)))
    sb.toString
  }

  // ── RLP ──────────────────────────────────────────────────────────────

  sealed trait Item
  final case class Str(bytes: Array[Byte]) extends Item
  final case class Lst(items: Seq[Item]) extends Item

  def num(v: BigInteger): Str = Str(unsigned(v))
  def num(v: Long): Str = num(BigInteger.valueOf(v))

  /** Minimal big-endian bytes; zero is the empty string. */
  def unsigned(v: BigInteger): Array[Byte] = v.toByteArray.dropWhile(_ == 0)

  def rlp(item: Item): Array[Byte] = item match {
    case Str(b) if b.length == 1 && (b(0) & 0xff) < 0x80 => b
    case Str(b) => header(0x80, b.length) ++ b
    case Lst(items) =>
      val body = items.map(rlp).foldLeft(Array.emptyByteArray)(_ ++ _)
      header(0xc0, body.length) ++ body
  }

  private def header(base: Int, len: Int): Array[Byte] =
    if (len < 56) Array((base + len).toByte)
    else {
      val lb = unsigned(BigInteger.valueOf(len.toLong))
      Array((base + 55 + lb.length).toByte) ++ lb
    }

  // ── secp256k1 (affine, BigInteger; only a handful of point ops per run) ─

  val P = new BigInteger("fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  val N = new BigInteger("fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  private val HalfN = N.shiftRight(1)
  private val G = (
    new BigInteger("79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798", 16),
    new BigInteger("483ada7726a3c4655da4fbfc0e1108a8fd17b448a68554199c47d08ffb10d4b8", 16))

  private type Pt = Option[(BigInteger, BigInteger)] // None = infinity

  private def add(p: Pt, q: Pt): Pt = (p, q) match {
    case (None, _) => q
    case (_, None) => p
    case (Some((x1, y1)), Some((x2, y2))) =>
      if (x1 == x2 && y1.add(y2).mod(P).signum == 0) None
      else {
        val l =
          if (x1 == x2) x1.multiply(x1).multiply(BigInteger.valueOf(3))
            .multiply(y1.shiftLeft(1).modInverse(P)).mod(P)
          else y2.subtract(y1).multiply(x2.subtract(x1).modInverse(P)).mod(P)
        val x3 = l.multiply(l).subtract(x1).subtract(x2).mod(P)
        Some((x3, l.multiply(x1.subtract(x3)).subtract(y1).mod(P)))
      }
  }

  private def mul(k: BigInteger, p: Pt): Pt =
    (k.bitLength - 1 to 0 by -1).foldLeft(None: Pt) { (acc, i) =>
      val d = add(acc, acc)
      if (k.testBit(i)) add(d, p) else d
    }

  private def be32(v: BigInteger): Array[Byte] = {
    val b = unsigned(v)
    Array.fill[Byte](32 - b.length)(0) ++ b
  }

  /** An ECDSA key with one fixed signing nonce: every signature shares the
    * same R, so signing costs one modular multiply instead of a point
    * multiplication. Insecure by design and irrelevant here — recovery
    * does the full work on every transaction regardless. */
  final class Signer(d: BigInteger, k: BigInteger) {
    val address: String = {
      val (x, y) = mul(d, Some(G)).get
      "0x" + hex(keccak256(be32(x) ++ be32(y)).drop(12))
    }
    private val (rx, ry) = mul(k, Some(G)).get
    private val r = rx.mod(N)
    private val kInv = k.modInverse(N)

    /** (recovery id, r, s) with low s, as go-ethereum requires. */
    def sign(hash: Array[Byte]): (Int, BigInteger, BigInteger) = {
      val s = kInv.multiply(new BigInteger(1, hash).add(r.multiply(d))).mod(N)
      val recId = if (ry.testBit(0)) 1 else 0
      if (s.compareTo(HalfN) > 0) (recId ^ 1, r, N.subtract(s)) else (recId, r, s)
    }
  }

  def signer(seed: Long, i: Int): Signer = {
    def scalar(tag: String) =
      new BigInteger(1, keccak256(s"dumpsterbench:$tag:$seed:$i".getBytes("UTF-8")))
        .mod(N.subtract(BigInteger.ONE)).add(BigInteger.ONE)
    new Signer(scalar("key"), scalar("nonce"))
  }
}
