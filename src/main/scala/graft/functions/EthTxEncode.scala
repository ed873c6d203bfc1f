package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Inverse of the parse path, for push-feed sources that deliver tx JSON
  * OBJECTS instead of raw RLP (S6: geth `newPendingTransactions` full-tx
  * mode and alchemy_pendingTransactions — collector/node_conn.go:87-118,
  * where go-ethereum hands the adapter an already-unmarshaled
  * types.Transaction): rebuild the canonical signed encoding from the
  * public JSON-RPC transaction-object fields, so downstream operators see
  * the same `raw_tx_hex` rows as every other source.
  *
  * Encodings follow the public specs: legacy + EIP-155 (v carries the
  * chain id), EIP-2930 (type 1), EIP-1559 (type 2), EIP-4844 (type 3,
  * payload-only — the RPC object never carries blobs).
  */
object EthTxEncode {

  private val mapper = new ObjectMapper()

  /** A JSON-RPC quantity: unsigned hex digits, odd length allowed
    * (`0x1`); a sign or any other char throws, as [[EthTx.unhex]] does. */
  private def hexNum(n: JsonNode): BigInt = {
    if (n == null || n.isNull) return BigInt(0)
    val h = n.asText("").stripPrefix("0x")
    if (h.isEmpty) BigInt(0) else BigInt(1, EthTx.unhex(if (h.length % 2 == 0) h else "0" + h))
  }
  private def hexBytes(n: JsonNode): Array[Byte] = {
    if (n == null || n.isNull) return Array.emptyByteArray
    val h = n.asText("").stripPrefix("0x")
    if (h.isEmpty) Array.emptyByteArray else EthTx.unhex(h)
  }

  /** The wire envelope `{"params":{"result":{...tx obj...}}}` → canonical
    * 0x-hex raw tx; None on anything missing or undecodable (the adapter
    * `continue` policy). */
  def fromRpcEnvelope(msg: String): Option[String] =
    try {
      val root = mapper.readTree(msg)
      val tx = root.path("params").path("result")
      if (!tx.isObject) None else fromRpcTx(tx)
    } catch { case _: Exception => None }

  private def fromRpcTx(t: JsonNode): Option[String] = {
    import Rlp._
    def num(name: String) = fromBigInt(hexNum(t.get(name)))
    def bytes(name: String) = Bytes(hexBytes(t.get(name)))
    val typ = hexNum(t.get("type")).toInt
    val r = num("r"); val s = num("s")
    // typed txs carry the parity as yParity (geth also mirrors it in v)
    val yParity =
      if (t.has("yParity")) fromBigInt(hexNum(t.get("yParity"))) else num("v")
    val acl: Item = Lst(Option(t.get("accessList")).filter(_.isArray)
      .map(_.elements())
      .map(it => Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toVector)
      .getOrElse(Vector.empty)
      .map { e =>
        Lst(Vector(Bytes(hexBytes(e.get("address"))),
          Lst(Option(e.get("storageKeys")).filter(_.isArray)
            .map(ks => (0 until ks.size()).map(i => Bytes(hexBytes(ks.get(i))): Item).toVector)
            .getOrElse(Vector.empty))))
      })
    val payload: Option[Array[Byte]] = typ match {
      case 0 =>
        Some(encode(Lst(Vector(num("nonce"), num("gasPrice"), num("gas"),
          bytes("to"), num("value"), bytes("input"), num("v"), r, s))))
      case 1 =>
        Some(Array(1.toByte) ++ encode(Lst(Vector(num("chainId"), num("nonce"),
          num("gasPrice"), num("gas"), bytes("to"), num("value"),
          bytes("input"), acl, yParity, r, s))))
      case 2 =>
        Some(Array(2.toByte) ++ encode(Lst(Vector(num("chainId"), num("nonce"),
          num("maxPriorityFeePerGas"), num("maxFeePerGas"), num("gas"),
          bytes("to"), num("value"), bytes("input"), acl, yParity, r, s))))
      case 3 =>
        val blobHashes = Lst(Option(t.get("blobVersionedHashes")).filter(_.isArray)
          .map(hs => (0 until hs.size()).map(i => Bytes(hexBytes(hs.get(i))): Item).toVector)
          .getOrElse(Vector.empty))
        Some(Array(3.toByte) ++ encode(Lst(Vector(num("chainId"), num("nonce"),
          num("maxPriorityFeePerGas"), num("maxFeePerGas"), num("gas"),
          bytes("to"), num("value"), bytes("input"), acl,
          num("maxFeePerBlobGas"), blobHashes, yParity, r, s))))
      case _ => None
    }
    payload.map(p => "0x" + Keccak256.hex(p))
  }
}
