package graft.functions

import java.math.BigInteger

/** Ethereum transaction decoding: EIP-2718 typed envelopes (types 1/2/3/4),
  * legacy RLP, and the "double-wrapped" legacy-RLP-around-typed form the
  * reference normalizes (/root/reference/common/utils.go:69-95 behavior,
  * golden vectors common/rlp_test.go:16-35). Pure public-spec logic:
  * EIP-155/1559/2930/4844/7702.
  */
object EthTx {

  /** Parsed summary — field semantics mirror the reference's
    * TxSummaryEntry projection (common/txsfile.go:161-209): decimal strings
    * for 256-bit quantities, lowercase hex addresses, canonical re-encoded
    * raw bytes. */
  final case class Parsed(
      hash: String,
      chainId: String,
      txType: Long,
      from: String, // lowercase 0x…; zero address when recovery fails
      to: String, // "" for contract creation
      value: String,
      nonce: String,
      gas: String,
      gasPrice: String,
      gasTipCap: String,
      gasFeeCap: String,
      dataSize: Long,
      data4Bytes: String,
      rawTx: Array[Byte],
      fromValid: Boolean, // signature recovered OK
      hasBlobSidecar: Boolean)

  private val ZeroAddress = "0x" + "0" * 40

  final case class TxDecodeException(msg: String) extends Exception(msg)

  /** Decode raw tx bytes → Parsed. Throws TxDecodeException on malformed
    * input; signature-recovery failure is NOT an error (from = zero address,
    * fromValid = false), matching the reference which ignores Sender errors
    * (common/txsfile.go:166-169). With `recover = false` the sender
    * recovery is skipped (from = zero address, fromValid = false); since
    * recovery never throws, the same inputs throw either way. */
  def decode(raw: Array[Byte], recover: Boolean = true): Parsed = {
    if (raw.isEmpty) throw TxDecodeException("empty input")
    val first = raw(0) & 0xff
    if (first <= 0x7f) decodeTyped(raw, recover)
    else {
      Rlp.decode(raw) match {
        case l: Rlp.Lst => decodeLegacy(l, recover)
        case Rlp.Bytes(inner) => decode(inner, recover) // double-wrapped envelope
      }
    }
  }

  def decodeHex(hexStr: String, recover: Boolean = true): Parsed = {
    decode(unhex(if (hexStr.startsWith("0x")) hexStr.substring(2) else hexStr), recover)
  }

  // ── typed envelopes ──────────────────────────────────────────────────

  private def decodeTyped(raw: Array[Byte], recover: Boolean): Parsed = {
    val txType = raw(0) & 0xff
    if (txType < 1 || txType > 4) throw TxDecodeException(s"unsupported tx type $txType")
    val body = Rlp.decode(raw.slice(1, raw.length)) match {
      case l: Rlp.Lst => l
      case _          => throw TxDecodeException("typed payload not a list")
    }
    // EIP-4844 network wrapper: [tx_payload, blobs, commitments, proofs]
    val (payload, hasSidecar) = body.items match {
      case items if txType == 3 && items.length == 4 && items.head.isInstanceOf[Rlp.Lst] =>
        (items.head.asInstanceOf[Rlp.Lst].items, true)
      case items => (items, false)
    }
    val (nUnsigned, expected) = txType match {
      case 1 => (8, 11) // chainId,nonce,gasPrice,gas,to,value,data,accessList
      case 2 => (9, 12) // chainId,nonce,tip,feeCap,gas,to,value,data,accessList
      case 3 => (11, 14) // … + maxFeePerBlobGas, blobHashes
      case 4 => (10, 13) // … + authorizationList
    }
    if (payload.length != expected)
      throw TxDecodeException(s"type $txType: ${payload.length} fields, want $expected")

    val chainId = Rlp.toBigInt(payload(0))
    val nonce = Rlp.toBigInt(payload(1))
    val (gasTipCap, gasFeeCap, gasIdx) = txType match {
      case 1 => val gp = Rlp.toBigInt(payload(2)); (gp, gp, 3)
      case _ => (Rlp.toBigInt(payload(2)), Rlp.toBigInt(payload(3)), 4)
    }
    val gas = Rlp.toBigInt(payload(gasIdx))
    val toBytes = Rlp.toBytes(payload(gasIdx + 1))
    val value = Rlp.toBigInt(payload(gasIdx + 2))
    val data = Rlp.toBytes(payload(gasIdx + 3))
    val yParity = Rlp.toBigInt(payload(expected - 3)).intValue
    val r = Rlp.toBigInt(payload(expected - 2))
    val s = Rlp.toBigInt(payload(expected - 1))

    // canonical encoding = type byte ++ rlp(minimal payload); for a blob tx
    // with sidecar keep the wrapper bytes (go-ethereum re-encodes blobs too)
    val minimal = Array(txType.toByte) ++ Rlp.encode(Rlp.Lst(payload))
    val canonical = if (hasSidecar) raw else minimal
    val hash = Keccak256.hash(Array(txType.toByte) ++ Rlp.encode(Rlp.Lst(payload)))

    val from =
      if (!recover) None
      else Secp256k1.recoverAddress(Keccak256.hash(
          Array(txType.toByte) ++ Rlp.encode(Rlp.Lst(payload.take(nUnsigned)))),
        toJBig(r), toJBig(s), yParity)

    build(hash, chainId, txType.toLong, from, toBytes, value, nonce, gas,
      gasPrice = gasFeeCap, gasTipCap, gasFeeCap, data, canonical, hasSidecar)
  }

  // ── legacy ───────────────────────────────────────────────────────────

  private def decodeLegacy(l: Rlp.Lst, recover: Boolean): Parsed = {
    if (l.items.length != 9)
      throw TxDecodeException(s"legacy: ${l.items.length} fields, want 9")
    val Vector(nonceI, gasPriceI, gasI, toI, valueI, dataI, vI, rI, sI) = l.items
    val v = Rlp.toBigInt(vI)
    val r = Rlp.toBigInt(rI)
    val s = Rlp.toBigInt(sI)
    val protectedTx = v >= 35
    val chainId: BigInt = if (protectedTx) (v - 35) / 2 else BigInt(0)
    val recId: Int =
      if (protectedTx) (v - 35 - chainId * 2).intValue
      else if (v == 27 || v == 28) (v - 27).intValue
      else -1

    // EIP-155 signing payload: 6 fields (+ chainId, 0, 0 when protected)
    def unsignedItems =
      if (protectedTx)
        Vector(nonceI, gasPriceI, gasI, toI, valueI, dataI,
          Rlp.fromBigInt(chainId), Rlp.Bytes(Array.emptyByteArray), Rlp.Bytes(Array.emptyByteArray))
      else Vector(nonceI, gasPriceI, gasI, toI, valueI, dataI)
    val from =
      if (!recover || recId < 0) None
      else Secp256k1.recoverAddress(Keccak256.hash(Rlp.encode(Rlp.Lst(unsignedItems))),
        toJBig(r), toJBig(s), recId)

    val canonical = Rlp.encode(l)
    val hash = Keccak256.hash(canonical)
    val gasPrice = Rlp.toBigInt(gasPriceI)
    build(hash, chainId, 0L, from, Rlp.toBytes(toI), Rlp.toBigInt(valueI),
      Rlp.toBigInt(nonceI), Rlp.toBigInt(gasI),
      gasPrice, gasPrice, gasPrice, Rlp.toBytes(dataI), canonical,
      hasSidecar = false)
  }

  // ── shared ───────────────────────────────────────────────────────────

  private def build(hash: Array[Byte], chainId: BigInt, txType: Long,
      from: Option[Array[Byte]], toBytes: Array[Byte], value: BigInt,
      nonce: BigInt, gas: BigInt, gasPrice: BigInt, gasTipCap: BigInt,
      gasFeeCap: BigInt, data: Array[Byte], canonical: Array[Byte],
      hasSidecar: Boolean): Parsed = {
    Parsed(
      hash = "0x" + Keccak256.hex(hash),
      chainId = chainId.toString,
      txType = txType,
      from = from.map(a => "0x" + Keccak256.hex(a)).getOrElse(ZeroAddress),
      to = if (toBytes.isEmpty) "" else "0x" + Keccak256.hex(toBytes),
      value = value.toString,
      nonce = nonce.toString,
      gas = gas.toString,
      gasPrice = gasPrice.toString,
      gasTipCap = gasTipCap.toString,
      gasFeeCap = gasFeeCap.toString,
      dataSize = data.length.toLong,
      data4Bytes = if (data.length >= 4) "0x" + Keccak256.hex(data.take(4)) else "",
      rawTx = canonical,
      fromValid = from.isDefined,
      hasBlobSidecar = hasSidecar)
  }

  /** Validation reason chain (F2, collector/tx_processor.go:327-416):
    * first failing rule, or None when valid. */
  def validationReason(p: Parsed): Option[String] = {
    val feeCap = BigInt(p.gasFeeCap)
    val tipCap = BigInt(p.gasTipCap)
    if (p.chainId == "0") Some("chainId not set")
    else if (!p.fromValid) Some("signature-error")
    else if (BigInt(p.value) < 0) Some("negative value")
    else if (feeCap.bitLength > 256) Some("extremely large gasFeeCap")
    else if (tipCap.bitLength > 256) Some("extremely large gasTipCap")
    else if (feeCap < tipCap) Some("gasFeeCap lower than gasTipCap")
    else if (p.txType == 3 && !p.hasBlobSidecar) Some("invalid blob transaction")
    else None
  }

  private def toJBig(v: BigInt): BigInteger = v.bigInteger

  /** Value of each ASCII hex digit, -1 for every other ASCII char. */
  private val Nibble: Array[Int] = Array.tabulate(128)(c => Character.digit(c, 16))

  /** Hex digits (no `0x`) → bytes. Throws [[TxDecodeException]] on odd
    * length or on any char outside `[0-9a-fA-F]`, so a sign, a space or a
    * stray nibble never reads as a different byte string. */
  def unhex(h: String): Array[Byte] = {
    if ((h.length & 1) != 0) throw TxDecodeException("odd-length hex")
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      val a = h.charAt(2 * i)
      val b = h.charAt(2 * i + 1)
      val hi = if (a < 128) Nibble(a) else -1
      val lo = if (b < 128) Nibble(b) else -1
      if ((hi | lo) < 0) throw TxDecodeException("non-hex digit")
      out(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    out
  }
}
