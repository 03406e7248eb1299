package graft.streaming

import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.ISO_8859_1

/** The network edge of O1: an RFC-6455 reader that wires the connector
  * control plane ([[Connector.TokenFetcher]], [[Connector.Backoff]])
  * into an actual dial→read loop over the reference consumer's one
  * transport — WebSocket frames (noaa consumer/async.go over
  * gorilla/websocket):
  *
  *  - HTTP/1.1 upgrade handshake with the token in `Authorization`
  *    (async.go:423-424); `101` accepts, `401` refreshes the token and
  *    re-dials ONCE immediately (async.go:372-406 `websocketConn` /
  *    `websocketConnNewToken`; a second 401 is an ordinary retryable
  *    error), anything else is a retryable bad handshake;
  *  - per-read idle deadline (async.go:255-257 `SetReadDeadline`): a
  *    silent connection trips `SO_TIMEOUT` and is torn down and
  *    re-dialed — timeouts are retryable (async.go:267-269);
  *  - retry loop with exponential sleep and budget
  *    (async.go:298-351 `retryAction`): every retryable failure —
  *    refused dial, bad handshake, mid-stream EOF, idle timeout,
  *    close frame — consumes backoff budget; a successful handshake
  *    resets it (the onConnect callback, async.go:307-313);
  *  - text frames are delivered to `onFrame` as UTF-8 (RFC 6455
  *    §5.6); binary frames (the dropsonde protobuf path) as
  *    ISO-8859-1, so their bytes survive a String round-trip;
  *  - pings answered with pongs inline (gorilla does the same under
  *    the SetPingHandler default);
  *  - a close frame with code 1008 (ClosePolicyViolation) is the
  *    "consumer too slow" signal: surfaced through `onAlert` — the O4
  *    side channel, mirroring go-nozzle detector.go:70-90 — and then
  *    the connection re-dials under the normal backoff, exactly like
  *    the reference where the alert goes to detectCh while the close
  *    error still flows down the retry path (cli.go:299-303 counts
  *    SlowConsumerAlert; noaa retries the connection); any other close
  *    code is a plain retryable disconnect;
  *  - malformed frames are the CONSUMER's problem (async.go:274-280
  *    skips frames that fail proto.Unmarshal and keeps the
  *    connection): the reader delivers raw frames; decode-and-drop
  *    happens downstream → NULL, via `envelope_proto_decode` (the
  *    proto.Unmarshal analogue) for dropsonde protobuf frames or
  *    `envelope_decode` for canonical JSON ones.
  *
  * The reader is transport only — it feeds frames to `onFrame` and
  * stops after `maxFrames`, on `shouldStop`, or when the retry budget
  * is exhausted; a production caller runs it on a source thread and
  * pumps frames into the decode path (FirehoseSocketSource).
  */
object NozzleReader {

  /** Lifecycle counters surfaced for assertions/metrics. */
  final case class ReaderStats(frames: Long, dials: Long, refreshes: Long,
                               alerts: Long)

  def run(
      host: String,
      port: Int,
      fetcher: Connector.TokenFetcher,
      backoff: Connector.Backoff,
      idleTimeoutMs: Int,
      maxFrames: Long,
      onFrame: String => Unit,
      onAlert: String => Unit = _ => (),
      shouldStop: () => Boolean = () => false,
      onSocket: Socket => Unit = _ => (),
      path: String = "/firehose/graft"): Either[String, ReaderStats] = {
    var dials = 0L
    var refreshes = 0L
    var frames = 0L
    var alerts = 0L
    var token: String = fetcher.fetch() match {
      case Left(e) => return Left(s"token fetch failed: $e")
      case Right(t) => t
    }
    var result: Either[String, ReaderStats] = null
    def done(): Either[String, ReaderStats] =
      Right(ReaderStats(frames, dials, refreshes, alerts))
    while (result == null) {
      if (shouldStop()) return done() // conn.Close() analogue
      var retryable: String = null
      var redial401 = true
      var refreshedThisDial = false
      while (redial401 && result == null) {
        redial401 = false
        var sock: Socket = null
        try {
          sock = new Socket()
          sock.connect(new InetSocketAddress(host, port), idleTimeoutMs)
          sock.setSoTimeout(idleTimeoutMs) // the idle read deadline
          onSocket(sock) // expose for external teardown (stream stop)
          dials += 1
          val out = sock.getOutputStream
          val in = new java.io.BufferedInputStream(sock.getInputStream)
          val key = WebSocket.newKey()
          out.write(
            (s"GET $path HTTP/1.1\r\n" +
              s"Host: $host:$port\r\n" +
              "Upgrade: websocket\r\n" +
              "Connection: Upgrade\r\n" +
              s"Sec-WebSocket-Key: $key\r\n" +
              "Sec-WebSocket-Version: 13\r\n" +
              s"Authorization: $token\r\n\r\n").getBytes("UTF-8"))
          out.flush()
          val (status, headers) = readHttpResponse(in)
          status match {
            case 101 if headers.get("sec-websocket-accept")
                .contains(WebSocket.acceptKey(key)) =>
              backoff.onConnected() // reset delay + budget
              var closed = false
              while (!closed && result == null) {
                val f = WebSocket.readFrame(in)
                f.opcode match {
                  case WebSocket.OpText | WebSocket.OpBinary =>
                    onFrame(
                      if (f.opcode == WebSocket.OpText) f.text
                      else new String(f.payload, ISO_8859_1))
                    frames += 1
                    if (frames >= maxFrames || shouldStop()) result = done()
                  case WebSocket.OpPing =>
                    WebSocket.writeFrame(out, WebSocket.OpPong, f.payload, mask = true)
                  case WebSocket.OpClose =>
                    closed = true
                    // RFC 6455 §5.5.1: echo the close before teardown
                    // (best effort — the server may already be gone)
                    try WebSocket.writeFrame(out, WebSocket.OpClose, f.payload, mask = true)
                    catch { case _: java.io.IOException => () }
                    WebSocket.closeCode(f) match {
                      case Some(WebSocket.ClosePolicyViolation) =>
                        alerts += 1
                        onAlert("websocket terminates the connection because " +
                          "connection is too slow (ClosePolicyViolation)")
                        retryable = "closed 1008 (slow consumer)"
                      case c =>
                        retryable = s"connection closed (code ${c.getOrElse(1005)})"
                    }
                  case _ => // unknown control frame: ignore, keep reading
                }
                if (result == null && !closed && shouldStop()) result = done()
              }
            case 101 => retryable = "bad handshake: Sec-WebSocket-Accept mismatch"
            case 401 =>
              if (!refreshedThisDial) fetcher.refresh() match {
                case Left(e) => result = Left(s"token refresh failed: $e")
                case Right(t) =>
                  token = t; refreshes += 1
                  refreshedThisDial = true; redial401 = true
              }
              else retryable = "unauthorized after token refresh"
            case other => retryable = s"bad handshake: HTTP $other"
          }
        } catch {
          case _: SocketTimeoutException => retryable = "i/o timeout (idle)"
          case _: java.io.EOFException => retryable = "connection closed mid-stream"
          case e: java.io.IOException => retryable = s"connection error: ${e.getMessage}"
        } finally if (sock != null) sock.close()
      }
      if (result == null && retryable != null) backoff.nextDelayMs() match {
        case None => result = Left(s"max retries reached (last: $retryable)")
        case Some(d) =>
          // an interrupt (external stop) just ends the sleep early;
          // the loop head re-checks shouldStop
          try Thread.sleep(d) catch { case _: InterruptedException => () }
      }
    }
    result
  }

  /** Minimal HTTP/1.1 response head parse: status code + lower-cased
    * headers. Reads up to the blank line, never the body. */
  private def readHttpResponse(
      in: java.io.InputStream): (Int, Map[String, String]) = {
    def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      if (c == -1 && sb.isEmpty) throw new java.io.EOFException("EOF in HTTP response")
      sb.toString
    }
    val statusLine = readLine()
    val status = statusLine.split(" ") match {
      case a if a.length >= 2 && a(1).forall(_.isDigit) => a(1).toInt
      case _ => throw new java.io.IOException(s"bad status line: $statusLine")
    }
    val headers = Map.newBuilder[String, String]
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0) headers += line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim
      line = readLine()
    }
    (status, headers.result())
  }
}
