package graft.functions

import java.math.BigInteger

/** Scratch profiler for the recovery hot path (dev tool, not engine
  * surface): times full recoverAddress plus the BigInteger pieces it
  * still uses, to size optimization work. */
object RecProfile {
  def main(args: Array[String]): Unit = {
    val P = new BigInteger(
      "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
    val N = new BigInteger(
      "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
    val sqrtExp = P.add(BigInteger.ONE).shiftRight(2)

    // a real parsed tx fixture drives recoverAddress end-to-end
    val (_, _, raw) = TxFixtures.rawRow(0L)
    val parsed = EthTx.decodeHex(raw)
    require(parsed.fromValid, "fixture must recover")

    def time(label: String, n: Int)(f: => Unit): Unit = {
      var i = 0; while (i < math.min(n, 2000)) { f; i += 1 } // warmup
      val t0 = System.nanoTime()
      i = 0; while (i < n) { f; i += 1 }
      val us = (System.nanoTime() - t0) / 1000.0 / n
      println(f"$label%-28s $us%10.2f us/op")
    }

    val nIter = 20000
    time("full decode+recover", nIter) { EthTx.decodeHex(raw) }

    // isolate recovery: a known-good (msgHash, r, s, recId) — generated by
    // signing nothing; instead reuse the library end-to-end and time the
    // recover call with synthetic-but-valid inputs derived from k*G
    {
      val e = new BigInteger("1122334455667788990011223344556677889900112233445566778899001122", 16)
      // craft signature: pick k, R = k*G, r = R.x; s = k^-1(e + r*d) with key d
      val d = new BigInteger("2b7e151628aed2a6abf7158809cf4f3c762e7160f38b4da56a784d9045190cfe", 16)
      val n = new BigInteger("fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
      val k = new BigInteger("3c5f2d1e0b4a69788695a4b3c2d1e0f1122334455667788990aabbccddeef102", 16)
      // R via the public surface: recoverAddress exercises the ladder; for
      // timing we only need valid r/s/recId producing Some(_)
      val msg = e.toByteArray.takeRight(32)
      var best: Option[(BigInteger, Int)] = None
      val s = k.modInverse(n).multiply(e.add(k.multiply(d))).mod(n) // r=k placeholder
      // brute-force a valid combination by trying recIds over a plausible r
      // (cheap: at most 4 tries each for a few candidate r values)
      var rCand = k
      var found = false
      var tries = 0
      while (!found && tries < 64) {
        var recId = 0
        while (!found && recId < 4) {
          if (Secp256k1.recoverAddress(msg, rCand, s.min(n.subtract(s)), recId).isDefined) {
            best = Some((rCand, recId)); found = true
          }
          recId += 1
        }
        rCand = rCand.add(BigInteger.ONE); tries += 1
      }
      best.foreach { case (r0, recId) =>
        val sLow = s.min(n.subtract(s))
        time("recoverAddress only", nIter) {
          Secp256k1.recoverAddress(msg, r0, sLow, recId)
        }
      }
    }

    val x = new BigInteger(
      "9b0c8a1ba6b8a62c04ca5d5a1f0eab6a0ba865b6a4556c31076a96c6ca3dbf92", 16)
    time("modPow sqrt (y from x)", nIter) { x.modPow(sqrtExp, P) }
    time("modInverse mod N", nIter) { x.modInverse(N) }
    time("modInverse mod P", nIter) { x.modInverse(P) }
    val h = new Array[Byte](64)
    time("keccak 64B", nIter) { Keccak256.hash(h) }

    val la = Fp256.fromBigInteger(x)
    val lb = Fp256.fromBigInteger(x.shiftRight(1).add(BigInteger.ONE))
    val lo = new Array[Long](4)
    time("Fp256.mul", 2000000) { Fp256.mul(la, lb, lo) }
    time("Fp256.sqr", 2000000) { Fp256.sqr(la, lo) }
    time("Fp256.add", 2000000) { Fp256.add(la, lb, lo) }
  }
}
