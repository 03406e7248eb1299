package graft

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.WebSocket

/** A loopback RFC-6455 server for the firehose reader specs. Every
  * accepted connection runs `script(idx, conn)` on its own daemon
  * thread, `idx` counting connections from 0 in accept order; the
  * socket is closed when the script returns (a mid-stream EOF unless
  * the script sent a close frame first). Script exceptions end that
  * connection only — assertions belong on the reader side. */
final class WsTestServer(script: (Int, WsTestServer.Conn) => Unit)
    extends AutoCloseable {
  private val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
  private val accepted = new AtomicInteger(0)

  def port: Int = server.getLocalPort

  /** Connections accepted so far. */
  def connections: Int = accepted.get()

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      val idx = accepted.getAndIncrement()
      val t = new Thread(() =>
        try script(idx, new WsTestServer.Conn(s))
        catch { case _: Exception => () }
        finally s.close())
      t.setDaemon(true)
      t.start()
    } catch { case _: Exception => () }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = server.close()
}

object WsTestServer {

  /** Server side of one connection. The upgrade request head is read
    * on first use of `request`. */
  final class Conn(socket: Socket) {
    val in: InputStream = new BufferedInputStream(socket.getInputStream)
    val out: OutputStream = socket.getOutputStream

    /** The upgrade request: `:path` plus lower-cased header names. */
    lazy val request: Map[String, String] = {
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      val first = line()
      require(first.startsWith("GET ") && first.endsWith(" HTTP/1.1"), first)
      val h = Map.newBuilder[String, String]
      h += ":path" -> first.stripPrefix("GET ").stripSuffix(" HTTP/1.1")
      var l = line()
      while (l.nonEmpty) {
        val i = l.indexOf(':')
        if (i > 0) h += l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim
        l = line()
      }
      h.result()
    }

    def token: String = request.getOrElse("authorization", "<none>")

    /** Answer the upgrade with 101 and the matching accept key. */
    def accept(): Unit =
      respond("101 Switching Protocols", "Upgrade: websocket", "Connection: Upgrade",
        "Sec-WebSocket-Accept: " +
          WebSocket.acceptKey(request.getOrElse("sec-websocket-key", "")))

    /** Answer the upgrade with any other status line and headers. */
    def respond(status: String, headers: String*): Unit = {
      require(request.contains(":path")) // the upgrade request is read first
      out.write((s"HTTP/1.1 $status\r\n" + headers.map(_ + "\r\n").mkString + "\r\n")
        .getBytes(UTF_8))
      out.flush()
    }

    /** Server→client frames are unmasked (RFC 6455 §5.1). */
    def send(opcode: Int, payload: Array[Byte]): Unit =
      WebSocket.writeFrame(out, opcode, payload, mask = false)

    def text(s: String): Unit = send(WebSocket.OpText, s.getBytes(UTF_8))

    def closeWith(code: Int, reason: String): Unit =
      send(WebSocket.OpClose, WebSocket.closePayload(code, reason))
  }
}
