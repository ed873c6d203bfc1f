package graft.streaming

import java.nio.charset.StandardCharsets

/** Minimal HTTP/2 + gRPC client-stream framing — the wire transport under
  * the reference's gRPC feed subscriptions (S8-S10:
  * collector/node_conn_bloxroute.go:210-267, node_conn_eden.go:208-263,
  * node_conn_chainbound.go:53-112 all read a server-streaming RPC off an
  * established HTTP/2 connection; this implements that transport from the
  * public RFC 9113 / gRPC-over-HTTP2 specs). Pure byte-level codec:
  * [[FeedConnector]] owns the socket and reconnects, this object owns the
  * connection preface, frame encode/decode, the gRPC length-prefixed
  * message deframer, ping/settings acks and flow-control bookkeeping, so
  * specs drive both the client and a loopback server from the same code.
  *
  * Scope (a subscribe-and-read CLIENT):
  *  - connection preface + SETTINGS exchange (client settings empty,
  *    server settings acked);
  *  - one client-initiated stream (id 1): request HEADERS encoded as
  *    HPACK literal-never-indexed fields (no Huffman, no dynamic table —
  *    the always-valid encoding), END_HEADERS+no END_STREAM, i.e. a
  *    server-streaming POST;
  *  - response HEADERS / CONTINUATION blocks HPACK-decode through
  *    [[Hpack]] (static + dynamic table, Huffman — RFC 7541): `:status`
  *    gates the subscribe (non-200 → failed dial, backoff grows) and the
  *    `grpc-status` trailer records the RPC outcome; trailers carry
  *    END_STREAM which ends the subscription;
  *  - DATA frames (PADDED stripped via [[dataPayload]]) concatenate into
  *    the gRPC message stream `[compressed:1][length:4 BE][payload]`*;
  *    each complete payload is one feed message, decoded by the mode's
  *    [[ProtoWire.GrpcCodec]] — per-source protobuf extraction exactly
  *    where the reference's generated unmarshal sits;
  *  - PING answered with ACK, WINDOW_UPDATE issued for consumed DATA,
  *    GOAWAY/RST_STREAM end the connection (redial upstream).
  */
object H2Framing {

  /** RFC 9113 §3.4 client connection preface. */
  val Preface: Array[Byte] =
    "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(StandardCharsets.US_ASCII)

  /** Frame types (RFC 9113 §6). */
  val TData = 0x0
  val THeaders = 0x1
  val TRstStream = 0x3
  val TSettings = 0x4
  val TPing = 0x6
  val TGoAway = 0x7
  val TWindowUpdate = 0x8
  val TContinuation = 0x9

  val FlagAck = 0x1
  val FlagEndStream = 0x1
  val FlagEndHeaders = 0x4
  val FlagPadded = 0x8
  val FlagPriority = 0x20

  /** Defensive cap, same policy as [[WsFraming.MaxFrameBytes]]. */
  val MaxFrameBytes: Int = 16 * 1024 * 1024

  /** One decoded HTTP/2 frame. */
  final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

  /** Encode one frame (§4.1 header + payload). */
  def encodeFrame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](9 + payload.length)
    val n = payload.length
    out(0) = ((n >> 16) & 0xFF).toByte
    out(1) = ((n >> 8) & 0xFF).toByte
    out(2) = (n & 0xFF).toByte
    out(3) = tpe.toByte
    out(4) = flags.toByte
    out(5) = ((streamId >> 24) & 0x7F).toByte
    out(6) = ((streamId >> 16) & 0xFF).toByte
    out(7) = ((streamId >> 8) & 0xFF).toByte
    out(8) = (streamId & 0xFF).toByte
    System.arraycopy(payload, 0, out, 9, n)
    out
  }

  /** HPACK "literal field line never indexed, new name" (RFC 7541 §6.2.3)
    * with plain (non-Huffman) length-prefixed strings — decodable by any
    * conformant peer with no dynamic-table state. Lengths must fit 7 bits
    * (plenty for the subscribe pseudo-headers). */
  def hpackLiteral(name: String, value: String): Array[Byte] = {
    val n = name.getBytes(StandardCharsets.US_ASCII)
    val v = value.getBytes(StandardCharsets.UTF_8)
    require(n.length < 127 && v.length < 127, "header too long for 7-bit prefix")
    val out = new java.io.ByteArrayOutputStream(2 + n.length + v.length + 1)
    out.write(0x10)
    out.write(n.length); out.write(n, 0, n.length)
    out.write(v.length); out.write(v, 0, v.length)
    out.toByteArray
  }

  /** The gRPC subscribe request header block: POST to `path`, the gRPC
    * content type, scheme/authority pseudo-headers. */
  def requestHeaderBlock(authority: String, path: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    Seq(
      ":method" -> "POST",
      ":scheme" -> "http",
      ":path" -> path,
      ":authority" -> authority,
      "content-type" -> "application/grpc",
      "te" -> "trailers"
    ).foreach { case (k, v) => out.write(hpackLiteral(k, v)) }
    out.toByteArray
  }

  /** Incremental HTTP/2 frame decoder — same contract as
    * [[WsFraming.Decoder]]: feed raw bytes in read-sized chunks, complete
    * frames come out, partials stay buffered byte-exact. */
  final class FrameDecoder {
    private var buf = Array.emptyByteArray
    private var used = 0

    private def append(chunk: Array[Byte], n: Int): Unit = {
      if (used + n > buf.length) {
        val grown = new Array[Byte](math.max(used + n, buf.length * 2 + 64))
        System.arraycopy(buf, 0, grown, 0, used)
        buf = grown
      }
      System.arraycopy(chunk, 0, buf, used, n)
      used += n
    }

    def feed(chunk: Array[Byte], n: Int): Seq[Frame] = {
      append(chunk, n)
      val frames = Seq.newBuilder[Frame]
      var more = true
      while (more) {
        if (used < 9) more = false
        else {
          val len = ((buf(0) & 0xFF) << 16) | ((buf(1) & 0xFF) << 8) | (buf(2) & 0xFF)
          if (len > MaxFrameBytes)
            throw new WsFraming.ProtocolError(s"h2 frame too large: $len")
          if (used < 9 + len) more = false
          else {
            val payload = new Array[Byte](len)
            System.arraycopy(buf, 9, payload, 0, len)
            frames += Frame(buf(3) & 0xFF, buf(4) & 0xFF,
              ((buf(5) & 0x7F) << 24) | ((buf(6) & 0xFF) << 16) |
                ((buf(7) & 0xFF) << 8) | (buf(8) & 0xFF),
              payload)
            System.arraycopy(buf, 9 + len, buf, 0, used - 9 - len)
            used -= 9 + len
          }
        }
      }
      frames.result()
    }
  }

  /** Incremental gRPC message deframer over the DATA byte stream:
    * `[compressed:1][length:4 BE][payload]`* — compressed messages are a
    * protocol error here (the feed stubs never negotiate an encoding). */
  final class GrpcDeframer {
    private var buf = Array.emptyByteArray
    private var used = 0

    def feed(data: Array[Byte]): Seq[Array[Byte]] = {
      if (used + data.length > buf.length) {
        val grown = new Array[Byte](math.max(used + data.length, buf.length * 2 + 64))
        System.arraycopy(buf, 0, grown, 0, used)
        buf = grown
      }
      System.arraycopy(data, 0, buf, used, data.length)
      used += data.length
      val msgs = Seq.newBuilder[Array[Byte]]
      var more = true
      while (more) {
        if (used < 5) more = false
        else {
          if (buf(0) != 0)
            throw new WsFraming.ProtocolError("compressed grpc message in a plaintext stream")
          val len = ((buf(1) & 0xFF) << 24) | ((buf(2) & 0xFF) << 16) |
            ((buf(3) & 0xFF) << 8) | (buf(4) & 0xFF)
          if (len < 0 || len > MaxFrameBytes)
            throw new WsFraming.ProtocolError(s"grpc message too large: $len")
          if (used < 5 + len) more = false
          else {
            val msg = new Array[Byte](len)
            System.arraycopy(buf, 5, msg, 0, len)
            msgs += msg
            System.arraycopy(buf, 5 + len, buf, 0, used - 5 - len)
            used -= 5 + len
          }
        }
      }
      msgs.result()
    }
  }

  /** DATA payload with RFC 9113 §6.1 padding stripped: PADDED (0x8) means
    * a leading pad-length byte plus that many trailing padding bytes —
    * legal from any conformant server, and feeding it raw into the gRPC
    * deframer corrupts the message stream (ADVICE r6). A pad length that
    * reaches or exceeds the frame payload is a connection-level protocol
    * error per the RFC. NOTE: flow-control accounting still charges the
    * FULL frame payload (padding included) — callers must window-update
    * with `payload.length`, not the stripped length. */
  def dataPayload(f: Frame): Array[Byte] =
    if ((f.flags & FlagPadded) == 0) f.payload
    else {
      if (f.payload.isEmpty)
        throw new WsFraming.ProtocolError("PADDED frame without pad length")
      val pad = f.payload(0) & 0xFF
      if (pad >= f.payload.length)
        throw new WsFraming.ProtocolError(
          s"pad length $pad >= frame payload ${f.payload.length}")
      java.util.Arrays.copyOfRange(f.payload, 1, f.payload.length - pad)
    }

  /** HEADERS payload reduced to its header-block fragment: strips the
    * PADDED pad-length byte + trailing padding and the 5-byte PRIORITY
    * prefix (RFC 9113 §6.2) when their flags are set. */
  def headersFragment(f: Frame): Array[Byte] = {
    val p = f.payload
    var start = 0
    var end = p.length
    if ((f.flags & FlagPadded) != 0) {
      if (p.isEmpty) throw new WsFraming.ProtocolError("PADDED HEADERS without pad length")
      val pad = p(0) & 0xFF
      if (pad >= p.length) throw new WsFraming.ProtocolError("HEADERS pad length overflow")
      start += 1
      end -= pad
    }
    if ((f.flags & FlagPriority) != 0) {
      if (end - start < 5)
        throw new WsFraming.ProtocolError("PRIORITY HEADERS shorter than 5 bytes")
      start += 5
    }
    java.util.Arrays.copyOfRange(p, start, end)
  }

  /** Wrap a payload in a padded DATA frame (loopback servers exercising
    * the PADDED path; `pad` zero bytes of padding). */
  def encodePaddedData(streamId: Int, payload: Array[Byte], pad: Int): Array[Byte] = {
    require(pad >= 0 && pad <= 255, "pad length is one byte")
    val body = new Array[Byte](1 + payload.length + pad)
    body(0) = pad.toByte
    System.arraycopy(payload, 0, body, 1, payload.length)
    encodeFrame(TData, FlagPadded, streamId, body)
  }

  /** Wrap one message payload in the gRPC length-prefix (loopback servers
    * and the subscribe request body use this). */
  def grpcMessage(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + payload.length)
    out(0) = 0
    out(1) = ((payload.length >> 24) & 0xFF).toByte
    out(2) = ((payload.length >> 16) & 0xFF).toByte
    out(3) = ((payload.length >> 8) & 0xFF).toByte
    out(4) = (payload.length & 0xFF).toByte
    System.arraycopy(payload, 0, out, 5, payload.length)
    out
  }
}
