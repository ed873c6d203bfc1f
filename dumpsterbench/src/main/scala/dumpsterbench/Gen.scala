package dumpsterbench

import java.math.BigInteger
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.ops.Analyze.{SourceStat, Summary, TypeStat}
import dumpsterbench.RefCrypto.{Lst, Str, num}

/** Seeded inputs for the three workloads, each with the answers the engine
  * must produce, derived here in plain Scala from the generator's own
  * choices (which tx is valid, blacklisted, included, re-sent) rather than
  * by running any engine code. Same seed, same bytes.
  */
object Gen {

  val DayStartMs = 1693526400000L // 2023-09-01T00:00:00Z

  /** splitmix64 finalizer: a stateless per-(seed, row, field) draw. */
  def mix(a: Long, b: Long, c: Long = 0L): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b * 0xbf58476d1ce4e5b9L + c * 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def unit(a: Long, b: Long, c: Long): Double = (mix(a, b, c) >>> 11) * (1.0 / (1L << 53))

  def write(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def day(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString.take(10)

  // ── signed transactions ───────────────────────────────────────────────

  /** One transaction's fields; `chainId` 0 and `tip > feeCap` are the
    * trash verdicts the engine must reach, `breakSig` signs with r = 0. */
  final case class Tx(txType: Int, chainId: Long, nonce: Long, tip: Long,
      feeCap: Long, gas: Long, to: Array[Byte], value: Long, data: Array[Byte])

  final case class Signed(tx: Tx, raw: Array[Byte], sigHash: Array[Byte], recId: Int,
      r: BigInteger, s: BigInteger) {
    val hash: String = "0x" + RefCrypto.hex(RefCrypto.keccak256(raw))
    def rawHex: String = "0x" + RefCrypto.hex(raw)
  }

  def sign(tx: Tx, signer: RefCrypto.Signer, breakSig: Boolean): Signed = {
    import tx._
    val body = txType match {
      case 0 => Seq(num(nonce), num(feeCap), num(gas), Str(to), num(value), Str(data))
      case 1 => Seq(num(chainId), num(nonce), num(feeCap), num(gas), Str(to),
        num(value), Str(data), Lst(Nil))
      case 2 => Seq(num(chainId), num(nonce), num(tip), num(feeCap), num(gas),
        Str(to), num(value), Str(data), Lst(Nil))
    }
    def typed(items: Seq[RefCrypto.Item]) =
      Array(txType.toByte) ++ RefCrypto.rlp(Lst(items))
    val sigHash = RefCrypto.keccak256(
      if (txType == 0) RefCrypto.rlp(Lst(body ++ Seq(num(chainId), num(0), num(0))))
      else typed(body))
    val (recId, r0, s) = signer.sign(sigHash)
    val r = if (breakSig) BigInteger.ZERO else r0
    val raw =
      if (txType == 0)
        RefCrypto.rlp(Lst(body ++ Seq(num(recId + 35 + 2 * chainId), num(r), num(s))))
      else typed(body ++ Seq(num(recId), num(r), num(s)))
    Signed(tx, raw, sigHash, recId, r, s)
  }

  /** The geth/alchemy push shape: the tx as a JSON-RPC object. */
  def rpcObject(t: Signed): String = {
    def h(v: Long) = "0x" + java.lang.Long.toHexString(v)
    def hb(b: BigInteger) = "0x" + b.toString(16)
    val x = t.tx
    val common =
      s""""nonce":"${h(x.nonce)}","gas":"${h(x.gas)}","to":"0x${RefCrypto.hex(x.to)}",""" +
        s""""value":"${h(x.value)}","input":"0x${RefCrypto.hex(x.data)}","r":"${hb(t.r)}","s":"${hb(t.s)}""""
    val fields = x.txType match {
      case 0 => s""""type":"0x0","gasPrice":"${h(x.feeCap)}","v":"${h(t.recId + 35 + 2 * x.chainId)}""""
      case 2 => s""""type":"0x2","chainId":"${h(x.chainId)}","maxPriorityFeePerGas":"${h(x.tip)}",""" +
        s""""maxFeePerGas":"${h(x.feeCap)}","accessList":[],"yParity":"${h(t.recId.toLong)}""""
    }
    s"""{"params":{"result":{$fields,$common}}}"""
  }

  /** Shared shape of a random transaction for the merge and collect days. */
  private def randomTx(rnd: SplittableRandom, txType: Int, chainId: Long,
      feeCapBelowTip: Boolean, toPool: Array[Array[Byte]], selectors: Array[Array[Byte]]): Tx = {
    val tip = 1000000000L + rnd.nextInt(1000000000)
    val feeCap = if (feeCapBelowTip) tip - 1 - rnd.nextInt(1000) else tip + rnd.nextInt(1000000000)
    val data =
      if (rnd.nextInt(3) == 0) Array.emptyByteArray
      else selectors(rnd.nextInt(selectors.length)) ++ Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
    Tx(txType, chainId, rnd.nextInt(5000).toLong, tip, feeCap, 21000L + rnd.nextInt(200000),
      toPool(rnd.nextInt(toPool.length)), rnd.nextLong() >>> 8, data)
  }

  /** The merge day's transaction mix without the day around it: types 0, 1
    * and 2, one in twenty with a broken signature. */
  def txSample(rnd: SplittableRandom, n: Int, signers: Array[RefCrypto.Signer]): IndexedSeq[Signed] = {
    val toPool = bytesPool(rnd.nextLong(), 1, 64, 20)
    val selectors = bytesPool(rnd.nextLong(), 2, 16, 4)
    (0 until n).map { _ =>
      val t = rnd.nextDouble()
      sign(randomTx(rnd, if (t < 0.2) 0 else if (t < 0.25) 1 else 2, 1L, false, toPool, selectors),
        signers(rnd.nextInt(signers.length)), rnd.nextDouble() < 0.05)
    }
  }

  private def bytesPool(seed: Long, tag: Int, n: Int, len: Int): Array[Array[Byte]] =
    Array.tabulate(n)(j => Array.tabulate(len)(k => mix(seed, tag * 100000L + j, k).toByte))

  // ── merge_day: one collector day ───────────────────────────────────────

  val MergeSources: Seq[String] = Seq("alchemy", "bloxroute", "chainbound", "eden", "infura", "local")

  /** `kept`: distinct hashes that survive the dedup and the blacklist and
    * decode (the rows `Merge.run` parses). */
  final case class MergeExpect(rawRows: Long, kept: Long, archived: Long,
      trash: Long, summary: Summary, senders: Set[String], days: Set[String],
      delaySum: Long)

  /** Writes tx/, sourcelog/, blacklist/ and blocks/ under `dir`. */
  def mergeDay(dir: Path, seed: Long, nTx: Int): MergeExpect = {
    val rnd = new SplittableRandom(seed)
    val signers = Array.tabulate(8)(RefCrypto.signer(seed, _))
    val toPool = bytesPool(seed, 1, 400, 20)
    val selectors = bytesPool(seed, 2, 24, 4)
    val txFiles = Array.fill(3)(Vector.newBuilder[(Long, String)])
    val sourcelog = Vector.newBuilder[(Long, String)]
    val blacklist = Vector.newBuilder[String]
    val blocks = Vector.newBuilder[String]
    var rawRows = 0L
    var trash = 0L
    var kept = 0L
    var delaySum = 0L
    final class Arch(val txType: Int, val bytes: Int, val sources: Seq[String],
        val included: Boolean, val ts: Long, val sender: String)
    val archived = Vector.newBuilder[Arch]
    val spacing = 86400000L / nTx

    for (i <- 0 until nTx) {
      val ts = DayStartMs + i * spacing + rnd.nextInt(spacing.toInt)
      // categories by index, so every seed has the same mix: 3 % blacklisted,
      // 2 % bad signature, 1.5 % chainId 0, 1 % feeCap < tip, 0.5 %
      // undecodable, the rest valid
      val u = (i * 37 % 200) / 200.0
      val blacklisted = u < 0.03
      val badSig = u >= 0.03 && u < 0.05
      val noChain = u >= 0.05 && u < 0.065
      val lowCap = u >= 0.065 && u < 0.075
      val undecodable = u >= 0.075 && u < 0.08
      val txType = if (badSig || noChain || lowCap) 2 else (i * 13 % 20) match {
        case t if t < 4 => 0
        case 4 => 1
        case _ => 2
      }
      val signer = signers(rnd.nextInt(signers.length))
      val signed = sign(randomTx(rnd, txType, if (noChain) 0L else 1L, lowCap, toPool, selectors),
        signer, badSig)
      val (hash, rawHex) =
        if (undecodable) ("0x" + RefCrypto.hex(Array.fill(32)(rnd.nextInt(256).toByte)), "0x02c0")
        else (signed.hash, signed.rawHex)
      val line = s"$hash,$rawHex"
      val f = rnd.nextInt(3)
      txFiles(f) += ts -> line
      rawRows += 1
      if (i % 10 == 3) { // the same tx from a second collector, later
        txFiles((f + 1 + rnd.nextInt(2)) % 3) += (ts + 1 + rnd.nextInt(5000)) -> line
        rawRows += 1
      }
      // 1-3 sources, each first seen at a distinct time, some re-logged later
      val srcs = rnd.ints(0, MergeSources.size).distinct().limit(1 + i % 3)
        .toArray.toSeq.map(MergeSources)
      srcs.zipWithIndex.foreach { case (s, k) =>
        sourcelog += (ts + 40L * k + rnd.nextInt(30)) -> s"$hash,$s"
        if (rnd.nextDouble() < 0.1) sourcelog += (ts + 5000L + rnd.nextInt(5000)) -> s"$hash,$s"
      }
      if (blacklisted) blacklist += hash
      if (!blacklisted && !undecodable) kept += 1
      if (badSig || noChain || lowCap) trash += 1
      if (!blacklisted && !undecodable && !badSig && !noChain && !lowCap) {
        val included = i % 4 == 1
        val delay = if (included) rnd.nextInt(120000) - 20000L else 0L
        if (included)
          blocks += s"$hash,${18000000L + i / 10},${ts + delay}"
        if (delay > -Gen.AlreadyIncludedMs) {
          delaySum += delay
          archived += new Arch(txType, signed.raw.length, srcs, included, ts, signer.address)
        }
      }
    }

    for (f <- 0 until 3)
      write(dir.resolve(s"tx/tx-$f.csv"),
        txFiles(f).result().sortBy(_._1).iterator.map { case (ts, l) => s"$ts,$l" })
    write(dir.resolve("sourcelog/sourcelog.csv"),
      sourcelog.result().sortBy(_._1).iterator.map { case (ts, l) => s"$ts,$l" })
    write(dir.resolve("blacklist/metadata.csv"),
      Iterator("timestamp_ms,hash,chain_id") ++ blacklist.result().iterator.map(h => s"0,$h,1"))
    write(dir.resolve("blocks/blocks.csv"), blocks.result().iterator)

    val a = archived.result()
    val inc = a.count(_.included).toLong
    val summary = Summary(a.size.toLong, inc, a.size - inc,
      a.map(_.ts).min, a.map(_.ts).max,
      a.groupBy(_.txType).toSeq.sortBy(_._1).map { case (t, xs) =>
        TypeStat(t.toLong, xs.size.toLong, xs.map(_.bytes.toLong).sum) },
      MergeSources.flatMap { s =>
        val xs = a.filter(_.sources.contains(s))
        if (xs.isEmpty) None
        else Some(SourceStat(s, xs.size.toLong, xs.count(_.included).toLong,
          xs.count(!_.included).toLong, xs.count(_.sources.size == 1).toLong,
          xs.count(x => x.sources.size == 1 && x.included).toLong))
      })
    MergeExpect(rawRows, kept, a.size.toLong, trash, summary,
      a.map(_.sender).toSet, a.map(x => day(x.ts)).toSet, delaySum)
  }

  val AlreadyIncludedMs = 12000L

  // ── collect_stream: a backlog of push-feed envelope files ─────────────

  val FeedSources: Seq[String] = Seq("bloxroute", "eden", "geth")

  final case class FeedExpect(lines: Long, received: Long, first: Long, trash: Long)

  /** Writes `files` JSON-lines envelope files under `dir`, spanning five
    * minutes of receive time (inside the collector's 30-minute dedup TTL,
    * so no key expires and no row is late). */
  def feed(dir: Path, seed: Long, nTx: Int, files: Int): FeedExpect = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val signers = Array.tabulate(4)(RefCrypto.signer(seed + 1, _))
    val toPool = bytesPool(seed, 3, 200, 20)
    val selectors = bytesPool(seed, 4, 16, 4)
    val spanMs = 5 * 60000L
    val start = DayStartMs + 12 * 3600000L
    val lines = Vector.newBuilder[(Long, String)]
    var received = 0L
    var first = 0L
    var trash = 0L
    def envelope(ts: Long, src: String, msg: String): String =
      s"""{"timestamp_ms":$ts,"source":"$src","msg":"${msg.replace("\"", "\\\"")}"}"""
    for (i <- 0 until nTx) {
      val ts = start + i * spanMs / nTx
      // categories and source counts by index, so every seed has the same mix
      val u = (i * 37 % 100) / 100.0
      val badSig = u < 0.04
      val noChain = u >= 0.04 && u < 0.07
      val txType = if (noChain || i % 5 != 2) 2 else 0
      val t = sign(randomTx(rnd, txType, if (noChain) 0L else 1L, false, toPool, selectors),
        signers(rnd.nextInt(signers.length)), badSig)
      if (badSig || noChain) trash += 1 else first += 1
      // 1-3 sources re-send the same tx, each a little later
      val srcs = rnd.ints(0, FeedSources.size).distinct().limit(1 + i % 3)
        .toArray.toSeq.map(FeedSources)
      srcs.zipWithIndex.foreach { case (src, k) =>
        val at = ts + k * (200L + rnd.nextInt(20000))
        val msg = src match {
          case "bloxroute" => s"""{"params":{"result":{"rawTx":"${t.rawHex}"}}}"""
          case "eden" => s"""{"params":{"result":{"rlp":"${t.rawHex}"}}}"""
          case _ => rpcObject(t)
        }
        lines += at -> envelope(at, src, msg)
        received += 1
      }
      if (i % 33 == 7) // an undecodable push the decoder drops
        lines += ts -> envelope(ts, "bloxroute", """{"params":{"result":{"rawTx":"0x02c0"}}}""")
    }
    val all = lines.result().sortBy(_._1)
    val per = (all.size + files - 1) / files
    all.grouped(per).zipWithIndex.foreach { case (g, f) =>
      write(dir.resolve(f"part-$f%05d.json"), g.iterator.map(_._2))
    }
    FeedExpect(all.size.toLong, received, first, trash)
  }
}
