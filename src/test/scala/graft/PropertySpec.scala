package graft

import graft.functions.{EthTx, Keccak256, Rlp, TxFixtures}
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5 strategy item 3): RLP codec round-trips and
  * fixture determinism. Uses raw ScalaCheck generators with fixed seeds
  * (the scalatest bridge artifact isn't in the offline cache). */
class PropertySpec extends AnyFunSuite {

  private val genBytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 300).flatMap(n => Gen.listOfN(n, Arbitrary.arbByte.arbitrary).map(_.toArray))

  private lazy val genItem: Gen[Rlp.Item] = Gen.sized { size =>
    if (size <= 1) genBytes.map(Rlp.Bytes)
    else Gen.frequency(
      3 -> genBytes.map(Rlp.Bytes),
      1 -> Gen.chooseNum(0, 4).flatMap(n =>
        Gen.listOfN(n, Gen.resize(size / 2, genItem)).map(l => Rlp.Lst(l.toVector))))
  }

  /** Deterministic sample stream. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def eq(a: Rlp.Item, b: Rlp.Item): Boolean = (a, b) match {
    case (Rlp.Bytes(x), Rlp.Bytes(y)) => java.util.Arrays.equals(x, y)
    case (Rlp.Lst(x), Rlp.Lst(y)) =>
      x.length == y.length && x.zip(y).forall { case (i, j) => eq(i, j) }
    case _ => false
  }

  test("rlp: decode(encode(item)) == item for 300 random items") {
    samples(genItem, 300).foreach { item =>
      assert(eq(Rlp.decode(Rlp.encode(item)), item))
    }
  }

  test("rlp: big-int round trip for unsigned values") {
    samples(Gen.chooseNum(0L, Long.MaxValue), 200).foreach { n =>
      val v = BigInt(n)
      assert(Rlp.toBigInt(Rlp.fromBigInt(v)) == v)
    }
  }

  test("keccak: deterministic, 32 bytes, avalanche on 1-bit flip") {
    samples(genBytes, 200).foreach { b =>
      val h1 = Keccak256.hash(b)
      assert(h1.length == 32)
      assert(java.util.Arrays.equals(h1, Keccak256.hash(b)))
      if (b.nonEmpty) {
        val b2 = b.clone(); b2(0) = (b2(0) ^ 1).toByte
        assert(!java.util.Arrays.equals(h1, Keccak256.hash(b2)))
      }
    }
  }

  test("fixture txs always decode and re-encode canonically") {
    samples(Gen.chooseNum(0L, 5000L), 150).foreach { i =>
      val hex = TxFixtures.rawTxHex(i)
      val p = EthTx.decodeHex(hex)
      assert("0x" + Keccak256.hex(p.rawTx) == hex) // already canonical
      assert(p.txType == 2 && p.chainId == "1")
      assert(p.hash == "0x" + Keccak256.hex(Keccak256.hash(p.rawTx)))
    }
  }

  test("rpc tx-object encode is the inverse of the parser for random fields") {
    // random EIP-1559 field tuples → RPC JSON → EthTxEncode → EthTx.decode:
    // the decoded summary must reproduce the generated fields
    val genTx = for {
      nonce <- Gen.chooseNum(0L, 1000000L)
      tip <- Gen.chooseNum(1L, 500000000000L)
      feeDelta <- Gen.chooseNum(0L, 500000000000L)
      gas <- Gen.chooseNum(21000L, 30000000L)
      hasTo <- Arbitrary.arbBool.arbitrary
      to <- Gen.listOfN(20, Arbitrary.arbByte.arbitrary).map(_.toArray)
      value <- Gen.chooseNum(0L, Long.MaxValue)
      data <- Gen.chooseNum(0, 64).flatMap(n =>
        Gen.listOfN(n, Arbitrary.arbByte.arbitrary).map(_.toArray))
      yPar <- Gen.chooseNum(0, 1)
      r <- Gen.chooseNum(1L, Long.MaxValue)
      s <- Gen.chooseNum(1L, Long.MaxValue)
    } yield (nonce, tip, tip + feeDelta, gas, hasTo, to, value, data, yPar, r, s)
    samples(genTx, 200).foreach {
      case (nonce, tip, feeCap, gas, hasTo, to, value, data, yPar, r, s) =>
        def hex(b: Array[Byte]) = "0x" + b.map("%02x".format(_)).mkString
        val toJson = if (hasTo) hex(to) else "0x"
        val json =
          s"""{"params":{"result":{"type":"0x2","chainId":"0x1","nonce":"0x${nonce.toHexString}",""" +
            s""""maxPriorityFeePerGas":"0x${tip.toHexString}","maxFeePerGas":"0x${feeCap.toHexString}",""" +
            s""""gas":"0x${gas.toHexString}","to":"$toJson","value":"0x${value.toHexString}",""" +
            s""""input":"${hex(data)}","accessList":[],"yParity":"0x$yPar",""" +
            s""""r":"0x${r.toHexString}","s":"0x${s.toHexString}"}}}"""
        val raw = graft.functions.EthTxEncode.fromRpcEnvelope(json)
        assert(raw.isDefined, json)
        val p = EthTx.decodeHex(raw.get)
        assert(p.txType == 2L)
        assert(p.nonce == nonce.toString)
        assert(p.gas == gas.toString)
        assert(p.gasTipCap == tip.toString)
        assert(p.gasFeeCap == feeCap.toString)
        assert(p.value == value.toString)
        assert(p.to == (if (hasTo) hex(to) else ""))
        assert(p.dataSize == data.length.toLong)
    }
  }

  test("secp recovery: arbitrary (hash, r, s, recId) returns None or a 20-byte address, deterministically") {
    import graft.functions.Secp256k1
    val genCase = for {
      msg <- Gen.listOfN(32, Arbitrary.arbByte.arbitrary).map(_.toArray)
      r <- Gen.listOfN(33, Arbitrary.arbByte.arbitrary)
        .map(b => new java.math.BigInteger(1, b.toArray))
      s <- Gen.listOfN(33, Arbitrary.arbByte.arbitrary)
        .map(b => new java.math.BigInteger(1, b.toArray))
      recId <- Gen.chooseNum(-1, 4)
    } yield (msg, r, s, recId)
    samples(genCase, 200).foreach { case (msg, r, s, recId) =>
      val a1 = Secp256k1.recoverAddress(msg, r, s, recId)
      a1.foreach(addr => assert(addr.length == 20))
      val a2 = Secp256k1.recoverAddress(msg, r, s, recId)
      assert(a1.map(_.toSeq) == a2.map(_.toSeq), "recovery must be deterministic")
    }
  }

  test("rlp: malformed inputs throw RlpException, never loop or OOM") {
    val bad = Seq(
      Array[Byte](0xb8.toByte), // truncated long-string header
      Array[Byte](0xf8.toByte, 0x7f.toByte), // list payload missing
      Array[Byte](0xbb.toByte, 0x7f.toByte, 0x7f.toByte, 0x7f.toByte, 0x7f.toByte), // huge len
      Array[Byte](0x81.toByte)) // short string missing byte
    bad.foreach(b => intercept[Exception](Rlp.decode(b)))
  }

  test("strict hex: parseHex, parse_raw_tx and raw_tx_hash agree on any string; a kept row is its input") {
    import graft.functions.ParseTx
    import org.apache.spark.sql.functions.col
    val spark = SparkTestSession.spark
    import spark.implicits._
    val fixture = Gen.chooseNum(0L, 5000L).map(TxFixtures.rawTxHex)
    // chars that a lenient hex reader (Integer.parseInt, BigInt) accepts
    // or that look like digits, none of them in [0-9a-fA-F]
    val junk = Gen.oneOf('+', '-', ' ', 'g', 'x', 'Z', '_', '\u0663', '\uff10')
    val genStr: Gen[String] = Gen.frequency(
      3 -> fixture,
      2 -> fixture.map("0x" + _.drop(2).toUpperCase),
      1 -> fixture.map(_.drop(2)),
      3 -> (for { h <- fixture; i <- Gen.chooseNum(2, h.length - 1); c <- junk }
        yield h.updated(i, c)),
      2 -> (for { h <- fixture; i <- Gen.chooseNum(2, h.length); c <- junk }
        yield h.patch(i, c.toString, 0)),
      2 -> (for { h <- fixture; n <- Gen.chooseNum(0, h.length - 1) } yield h.take(n)),
      1 -> fixture.map("0x+2" + _.drop(4)),
      1 -> Arbitrary.arbString.arbitrary,
      1 -> Gen.alphaNumStr.map("0x" + _),
      1 -> Gen.const(null: String))
    val xs = samples(genStr, 400)
    // through the codegen kernels: over a local relation the optimizer
    // would fold the projection into interpreted evaluation instead
    val dir = java.nio.file.Files.createTempDirectory("graft-hex-prop").resolve("s").toString
    xs.toDF("s").write.parquet(dir)
    val got = spark.read.parquet(dir).select(col("s"),
      ParseTx.parse_raw_tx(col("s")).isNull, ParseTx.raw_tx_hash(col("s"))).collect()
    assert(got.length == xs.length)
    val isHex = (c: Char) => Character.digit(c, 16) >= 0 && c < 128
    got.foreach { r =>
      val in = r.getString(0)
      val parsed = ParseTx.parseHex(in)
      assert(r.getBoolean(1) == parsed.isEmpty, String.valueOf(in))
      assert(Option(r.getString(2)) == parsed.map(_.hash), String.valueOf(in))
      parsed.foreach { p =>
        val digits = in.stripPrefix("0x")
        assert(digits.length % 2 == 0 && digits.forall(isHex), in)
        assert(Keccak256.hex(p.rawTx) == digits.toLowerCase, in)
      }
    }
    val kept = got.count(!_.getBoolean(1))
    assert(kept > 50 && kept < 300, s"$kept of ${got.length} kept")
  }

  test("water-fill quotas: invariants hold for 200 random count/budget sets") {
    import graft.queries.TextOps.waterFillQuotas
    val genCase: Gen[(Map[String, Long], Long)] = for {
      n <- Gen.chooseNum(1, 12)
      counts <- Gen.listOfN(n, Gen.chooseNum(0L, 10000L))
      budget <- Gen.chooseNum(0L, 30000L)
    } yield (counts.zipWithIndex.map { case (c, i) => s"s$i" -> c }.toMap, budget)
    samples(genCase, 200).foreach { case (counts, budget) =>
      val q = waterFillQuotas(counts, budget)
      assert(q.keySet == counts.keySet)
      // full budget used up to availability
      assert(q.values.sum == math.min(budget, counts.values.sum),
        s"budget not exhausted: $counts budget=$budget -> $q")
      // no stratum over-drawn
      assert(counts.forall { case (k, n) => q(k) <= n }, s"$counts -> $q")
      // equalization: non-capped strata all sit within 1 of each other
      val open = q.filter { case (k, v) => v < counts(k) }.values
      if (open.nonEmpty)
        assert(open.max - open.min <= 1, s"unequal open shares: $counts budget=$budget -> $q")
    }
  }

  test("winnowing guarantee: a shared >=8-char substring yields a shared fingerprint") {
    // the Schleimer 2003 theorem for k=5, w=4: any substring of length
    // >= k+w-1 = 8 shared by two documents forces at least one common
    // SELECTED fingerprint — checked on random doc pairs built around a
    // random shared substring at random positions
    val spark = SparkTestSession.spark
    import spark.implicits._
    val lc = Gen.chooseNum('a'.toInt, 'z'.toInt).map(_.toChar)
    def str(min: Int, max: Int): Gen[String] =
      Gen.chooseNum(min, max).flatMap(n => Gen.listOfN(n, lc).map(_.mkString))
    val genPair = for {
      shared <- str(8, 20)
      a1 <- str(10, 60); a2 <- str(10, 60)
      b1 <- str(10, 60); b2 <- str(10, 60)
    } yield (a1 + shared + a2, b1 + shared + b2)
    val cases = samples(genPair, 60)
    val docs = cases.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a), (2L * i + 1, b)) }.toDF("doc_id", "text")
    val sel = graft.queries.DedupOps.winnowSelectedFromDocs(spark, docs)
      .select("doc_id", "mh").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    cases.indices.foreach { i =>
      val inter = sel(2L * i).intersect(sel(2L * i + 1))
      assert(inter.nonEmpty,
        s"case $i: shared substring produced no shared fingerprint")
    }
  }
}
