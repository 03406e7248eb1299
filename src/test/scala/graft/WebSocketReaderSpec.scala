package graft

import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Connector, NozzlePipeline, NozzleReader, Stats, WebSocket}

/** O1/O4/O18/O19 over the REAL wire protocol: RFC-6455 frames on a
  * loopback socket — upgrade handshake with Authorization, text AND
  * binary data frames, ping/pong, and the close-code semantics the
  * reference's detector keys on (go-nozzle detector.go:70-90): a 1008
  * close is a slow-consumer ALERT on the side channel and then a
  * normal re-dial; a 1000 close is a plain retryable disconnect.
  *
  * Server script (one thread per accepted connection):
  *   conn 0: 101 + 2 text frames + PING (pong must come back) +
  *           CLOSE 1008 → alert + re-dial;
  *   conn 1: HTTP 401 → token refresh, immediate re-dial;
  *   conn 2: expects refreshed token; 101 + 2 text + 1 BINARY frame
  *           (high-bit bytes — the dropsonde protobuf path) +
  *           CLOSE 1000 → no alert, re-dial;
  *   conn 3: 101 + 3 text frames (the last one non-ASCII — text
  *           frames are UTF-8), held open → client stops at
  *           maxFrames = 8.
  */
class WebSocketReaderSpec extends AnyFunSuite {

  private val binPayload = Array[Byte](0x01, 0xFF.toByte, 0x80.toByte, 0x00, 0x7F)

  private val nonAscii = "f7 café — 日本 🔥"

  test("ws: handshake → frames → ping/pong → 1008 alert → 401 refresh → binary → resume") {
    val seenTokens = new CopyOnWriteArrayList[String]()
    val pongs = new CopyOnWriteArrayList[String]()
    val server = new WsTestServer((idx, c) => {
      seenTokens.add(c.token)
      idx match {
        case 0 =>
          c.accept()
          c.text("f0"); c.text("f1")
          c.send(WebSocket.OpPing, "hb-1".getBytes)
          val pong = WebSocket.readFrame(c.in) // client must answer the ping
          if (pong.opcode == WebSocket.OpPong) pongs.add(pong.text)
          c.closeWith(1008, "too slow")
        case 1 =>
          c.respond("401 Unauthorized")
        case 2 =>
          c.accept()
          c.text("f2"); c.text("f3")
          c.send(WebSocket.OpBinary, binPayload)
          c.closeWith(1000, "bye")
        case _ =>
          c.accept()
          c.text("f5"); c.text("f6"); c.text(nonAscii)
          Thread.sleep(5000) // held open; client stops at maxFrames
      }
    })

    val fetches = new AtomicInteger(0)
    val fetcher = new Connector.TokenFetcher(
      "https://uaa.example", "u", "p", () => s"tok-${fetches.incrementAndGet()}")
    val backoff = new Connector.Backoff(minDelayMs = 10, maxDelayMs = 50, maxRetries = 10)
    val received = new CopyOnWriteArrayList[String]()
    val alerts = new CopyOnWriteArrayList[String]()

    try {
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher, backoff,
        idleTimeoutMs = 2000, maxFrames = 8,
        onFrame = received.add(_), onAlert = alerts.add(_))

      val stats = result.fold(e => fail(s"reader failed: $e"), identity)
      assert(stats.frames === 8L)
      assert(stats.dials === 4L, "conn0 + 401 + conn2 + conn3")
      assert(stats.refreshes === 1L)
      assert(stats.alerts === 1L, "exactly the 1008 close alerts; 1000 must not")

      // the 1008 close surfaced on the O4 side channel with the
      // reference's detector message, and the reader STILL re-dialed
      assert(alerts.size === 1)
      assert(alerts.get(0).contains("connection is too slow (ClosePolicyViolation)"))

      // frames in order; the binary frame survives byte-exact via the
      // ISO-8859-1 string surface
      val fs = java.util.Collections.list(java.util.Collections.enumeration(received))
      assert(fs.get(0) === "f0" && fs.get(1) === "f1")
      assert(fs.get(2) === "f2" && fs.get(3) === "f3")
      assert(fs.get(4) === new String(binPayload, "ISO-8859-1"))
      assert(fs.get(4).getBytes("ISO-8859-1") === binPayload)
      assert(fs.get(5) === "f5" && fs.get(6) === "f6")
      // text frames decode as UTF-8 (RFC 6455 §5.6), not byte-per-char
      assert(fs.get(7) === nonAscii)

      // ping answered with an echoing pong before the close
      assert(pongs.size === 1 && pongs.get(0) === "hb-1")

      // token lifecycle: conn0 and the 401 see tok-1, the re-dial
      // after refresh presents tok-2
      assert(seenTokens.get(0) === "tok-1" && seenTokens.get(1) === "tok-1")
      assert(seenTokens.get(2) === "tok-2" && seenTokens.get(3) === "tok-2")
    } finally server.close()
  }

  test("ws e2e: readStream protocol=ws serves frames as rows and 1008 bumps the O4 counter") {
    val spark = SparkTestSession.spark
    val paths = new CopyOnWriteArrayList[String]()
    val server = new WsTestServer((idx, c) => {
      paths.add(c.request.getOrElse(":path", "<none>"))
      c.accept()
      if (idx == 0) {
        (0 until 3).foreach(i => c.text(s"wf$i"))
        c.closeWith(1008, "too slow")
      } else {
        (3 until 6).foreach(i => c.text(s"wf$i"))
        Thread.sleep(20000) // hold open until the test ends
      }
    })

    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    val ck = java.nio.file.Files.createTempDirectory("ws-src-ck").toString
    val q = spark.readStream.format("graft-firehose-socket")
      .option("host", "127.0.0.1")
      .option("port", server.port)
      .option("protocol", "ws")
      .option("subscriptionId", "graft-sub-7")
      .option("filterType", "metrics")
      .option("idleTimeoutMs", 60000)
      .option("backoffMinMs", 10)
      .option("backoffMaxMs", 50)
      .load()
      .writeStream
      .format("memory")
      .queryName("ws_frames")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()

    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def count(): Long = spark.sql("SELECT count(*) FROM ws_frames").head().getLong(0)
      while (count() < 6 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(count() === 6, s"conns=${server.connections}")
      val got = spark.sql("SELECT frame FROM ws_frames").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got === (0 until 6).map(i => s"wf$i"))
      // the 1008 close crossed the reconnect AND surfaced as an alert,
      // carried by the source's metrics through the Listener into Stats
      while (stats.slowConsumerAlert.get() < 1 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(stats.slowConsumerAlert.get() === 1)
      // the stream path carries the subscription id (firehose.go:42-44)
      // and the server-side filter query param (filter.go:10-20)
      assert(paths.get(0) === "/firehose/graft-sub-7?filter-type=metrics", paths)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      server.close()
    }
  }

  test("ws: one alert per 1008 close; the successful handshake keeps resetting the budget") {
    val server = new WsTestServer((_, c) => { c.accept(); c.closeWith(1008, "too slow") })
    val fetcher = new Connector.TokenFetcher("https://uaa.example", "u", "p", () => "tok")
    val backoff = new Connector.Backoff(minDelayMs = 5, maxDelayMs = 10, maxRetries = 3)
    val alerts = new CopyOnWriteArrayList[String]()
    try {
      // every connection closes 1008 with no frames. Each dial's
      // SUCCESSFUL handshake resets the retry budget (reference
      // semantics: onConnected resets backoff), so the loop never
      // exhausts — the caller's stop signal is what ends it, and the
      // alert count tracks the closes one-to-one.
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher, backoff,
        idleTimeoutMs = 2000, maxFrames = 10,
        onFrame = _ => (), onAlert = alerts.add(_),
        shouldStop = () => alerts.size >= 4)
      val stats = result.fold(e => fail(s"reader failed: $e"), identity)
      assert(stats.frames === 0L)
      assert(stats.alerts >= 4L, "one alert per 1008 close")
      assert(alerts.size === stats.alerts)
    } finally server.close()
  }
}
