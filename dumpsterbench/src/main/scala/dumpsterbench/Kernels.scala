package dumpsterbench

import java.util.SplittableRandom
import graft.functions.{Keccak256, ParseTx, Rlp, Secp256k1}

/** The `functions` layer timed on the benchmark's thread over a fixed seeded
  * sample of the merge day's transaction mix: the custom kernels
  * `parse_raw_tx` is built from, without Spark around them.
  */
object Kernels {

  /** Each kernel is timed over the sample repeated for at least this long. */
  private val MinMs = 400L

  /** Calls per second of `f` over the sample, repeated for at least `MinMs`. */
  private def rate(xs: IndexedSeq[Gen.Signed])(f: Gen.Signed => Any): Double = {
    var calls = 0L
    var sink = 0
    val t0 = System.nanoTime
    while (System.nanoTime - t0 < MinMs * 1000000L)
      xs.foreach { x => sink ^= f(x).hashCode; calls += 1 }
    if (sink == 42) System.err.print("") // keeps the results live
    calls / ((System.nanoTime - t0) / 1e9)
  }

  private def sampleOf(seed: Long) = Gen.txSample(new SplittableRandom(seed ^ 0x6b65726eL), 256,
    Array.tabulate(4)(RefCrypto.signer(seed + 2, _)))

  def measure(seed: Long): Map[String, Double] = {
    val xs = sampleOf(seed)
    rate(xs)(x => ParseTx.parseHex(x.rawHex)) // JIT warm-up, not reported
    val valid = xs.count(x => ParseTx.parseHex(x.rawHex).exists(_.reason.isEmpty))
    Map(
      "functions.parse_hex.calls_per_s" -> rate(xs)(x => ParseTx.parseHex(x.rawHex)),
      "functions.secp_recover.calls_per_s" ->
        rate(xs)(x => Secp256k1.recoverAddress(x.sigHash, x.r, x.s, x.recId)),
      "functions.keccak.calls_per_s" -> rate(xs)(x => Keccak256.hash(x.raw)),
      "functions.rlp_decode.calls_per_s" ->
        rate(xs)(x => Rlp.decode(if ((x.raw(0) & 0xff) < 0x80) x.raw.drop(1) else x.raw)),
      "functions.parse_hex.valid_ratio" -> valid.toDouble / xs.size)
  }
}
