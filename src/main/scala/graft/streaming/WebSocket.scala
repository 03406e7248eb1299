package graft.streaming

import java.io.{DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

/** RFC-6455 framing — exactly the subset the reference's consumer
  * exercises (noaa consumer/async.go via gorilla/websocket): text and
  * binary data frames, close frames carrying a 2-byte status code,
  * ping/pong keepalive, client-side masking, 7/16/64-bit payload
  * lengths. No extensions, no fragmentation (the firehose sends whole
  * envelopes per frame; a fragmented frame fails loudly rather than
  * silently corrupting a protobuf).
  *
  * Close code 1008 (policy violation) is the wire signal for "consumer
  * too slow" — see go-nozzle detector.go:70-90, which maps it to the
  * slowConsumerAlert side channel; [[NozzleReader.run]] does the same
  * via `onAlert`.
  */
object WebSocket {

  val OpText = 0x1
  val OpBinary = 0x2
  val OpClose = 0x8
  val OpPing = 0x9
  val OpPong = 0xA

  /** 1008 — the slow-consumer close (RFC 6455 §11.7 ClosePolicyViolation). */
  val ClosePolicyViolation = 1008

  final case class Frame(opcode: Int, payload: Array[Byte]) {
    def text: String = new String(payload, UTF_8)
  }

  private val HandshakeGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** Sec-WebSocket-Accept for a client key (RFC 6455 §4.2.2). */
  def acceptKey(key: String): String =
    Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest((key + HandshakeGuid).getBytes(UTF_8)))

  /** A fresh random Sec-WebSocket-Key (16 random bytes, base64). */
  def newKey(): String = {
    val b = new Array[Byte](16)
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(b)
    Base64.getEncoder.encodeToString(b)
  }

  /** Write one unfragmented frame. Client→server frames MUST set
    * `mask = true` (RFC 6455 §5.3); server→client MUST NOT. */
  def writeFrame(out: OutputStream, opcode: Int, payload: Array[Byte],
                 mask: Boolean): Unit = {
    out.write(0x80 | (opcode & 0x0F)) // FIN + opcode
    val maskBit = if (mask) 0x80 else 0x00
    val n = payload.length
    if (n < 126) out.write(maskBit | n)
    else if (n < 65536) {
      out.write(maskBit | 126)
      out.write((n >>> 8) & 0xFF); out.write(n & 0xFF)
    } else {
      out.write(maskBit | 127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >>> (8 * i)) & 0xFF).toInt); i -= 1 }
    }
    if (mask) {
      val key = new Array[Byte](4)
      java.util.concurrent.ThreadLocalRandom.current().nextBytes(key)
      out.write(key)
      val masked = new Array[Byte](n)
      var i = 0
      while (i < n) { masked(i) = (payload(i) ^ key(i % 4)).toByte; i += 1 }
      out.write(masked)
    } else out.write(payload)
    out.flush()
  }

  /** Read one frame; throws EOFException on a half-frame or closed
    * stream, IOException on fragmentation (unsupported by design). */
  def readFrame(in: InputStream): Frame = {
    val din = new DataInputStream(in)
    val b0 = din.read()
    if (b0 < 0) throw new EOFException("stream closed between frames")
    if ((b0 & 0x80) == 0)
      throw new java.io.IOException("fragmented websocket frame (unsupported)")
    val opcode = b0 & 0x0F
    val b1 = din.readUnsignedByte()
    val masked = (b1 & 0x80) != 0
    var len: Long = (b1 & 0x7F).toLong
    if (len == 126) len = din.readUnsignedShort().toLong
    else if (len == 127) len = din.readLong()
    if (len < 0 || len > Int.MaxValue)
      throw new java.io.IOException(s"websocket frame too large: $len")
    val key = if (masked) { val k = new Array[Byte](4); din.readFully(k); k } else null
    val payload = new Array[Byte](len.toInt)
    din.readFully(payload)
    if (masked) {
      var i = 0
      while (i < payload.length) { payload(i) = (payload(i) ^ key(i % 4)).toByte; i += 1 }
    }
    Frame(opcode, payload)
  }

  /** Close payload: 2-byte big-endian status code + UTF-8 reason. */
  def closePayload(code: Int, reason: String = ""): Array[Byte] = {
    val r = reason.getBytes(UTF_8)
    val b = new Array[Byte](2 + r.length)
    b(0) = ((code >>> 8) & 0xFF).toByte
    b(1) = (code & 0xFF).toByte
    System.arraycopy(r, 0, b, 2, r.length)
    b
  }

  /** Status code of a close frame (None when the frame has no body —
    * RFC 6455 allows a bare close, treated as 1005 "no status"). */
  def closeCode(f: Frame): Option[Int] =
    if (f.opcode != OpClose || f.payload.length < 2) None
    else Some(((f.payload(0) & 0xFF) << 8) | (f.payload(1) & 0xFF))
}
