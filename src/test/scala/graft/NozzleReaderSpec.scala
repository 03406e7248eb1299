package graft

import java.net.ServerSocket
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Connector, NozzleReader}

/** End-to-end drive of the O1/O18/O19 network seam over a REAL
  * loopback WebSocket server: dial → upgrade with the token → frame
  * read → idle-timeout teardown → backoff re-dial → 401 → token
  * refresh → re-dial → resume — the noaa consumer lifecycle
  * (async.go:228-351, 372-406) that was previously covered only as
  * pure policy objects.
  *
  * Server script (one thread per accepted connection):
  *   conn 0: 101 + 3 frames, then SILENCE (held open) → the only way
  *           the client progresses is its idle read deadline;
  *   conn 1: 401 → client must refresh the token and re-dial;
  *   conn 2: expects the REFRESHED token, 101 + 4 more frames (one
  *           malformed — transport delivers it; decode drops it).
  */
class NozzleReaderSpec extends AnyFunSuite {

  private def frame(i: Int): String = {
    val ts = 1700000000000000000L + i
    s"""{"origin":"loop","eventType":5,"timestamp":$ts,"logMessage":{"message_type":1,"timestamp":$ts,"app_id":"app-$i","source_type":"DEA"}}"""
  }
  private val malformed = """{"origin": truncated"""

  test("dial → read → idle-timeout → reconnect → 401 → refresh → resume, over a real socket") {
    val seenTokens = new CopyOnWriteArrayList[String]()
    val server = new WsTestServer((idx, c) => {
      seenTokens.add(c.token)
      idx match {
        case 0 =>
          c.accept()
          (0 until 3).foreach(i => c.text(frame(i)))
          Thread.sleep(5000) // silent — only the idle deadline frees the client
        case 1 =>
          c.respond("401 Unauthorized")
        case _ =>
          c.accept()
          c.text(frame(3))
          c.text(frame(4))
          c.text(malformed)
          c.text(frame(5))
          Thread.sleep(5000)
      }
    })

    val fetches = new AtomicInteger(0)
    val fetcher = new Connector.TokenFetcher(
      "https://uaa.example", "u", "p", () => s"tok-${fetches.incrementAndGet()}")
    val backoff = new Connector.Backoff(minDelayMs = 10, maxDelayMs = 50, maxRetries = 10)
    val received = new CopyOnWriteArrayList[String]()

    try {
      // idle deadline: must be far under the server's 5 s silence (it
      // is what frees the client from conn 0) but wide enough that a
      // GC/descheduling pause on a loaded box can't fire it BETWEEN
      // frames mid-connection — at 250 ms a >250 ms stall mid-conn 2
      // produced a legitimate 4th dial and a one-off test failure
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher, backoff,
        idleTimeoutMs = 1500, maxFrames = 7, onFrame = received.add(_))

      val stats = result.fold(e => fail(s"reader failed: $e"), identity)
      assert(stats.frames === 7, "3 + 4 transport frames (malformed included)")
      assert(stats.dials === 3, "initial dial + idle-timeout re-dial + post-401 re-dial")
      assert(stats.refreshes === 1, "exactly one 401-triggered refresh")
      // conn 0 and the 401'd conn 1 used the original token; conn 2 the
      // refreshed one (async.go:372-406)
      assert(seenTokens.toArray.toSeq === Seq("tok-1", "tok-1", "tok-2"))
      assert(fetches.get() === 2, "one initial fetch + one refresh")
      // in-order, no loss, no duplication across reconnects
      assert(received.toArray.toSeq ===
        (0 until 5).map(frame) ++ Seq(malformed, frame(5)))
    } finally server.close()

    // The frames feed the row path: canonical JSON decodes to envelope
    // rows (and re-encodes byte-identically); the malformed frame maps
    // to NULL — DROPMALFORMED, exactly the reference's skip-and-continue
    // (async.go:274-280).
    val spark = SparkTestSession.spark
    import spark.implicits._
    if (!spark.catalog.functionExists("envelope_decode")) Functions.register(spark)
    val rows = received.toArray.map(_.toString).toSeq.toDF("j")
      .selectExpr("j", "envelope_decode(j) AS env",
        "envelope_json(envelope_decode(j)) AS rt")
      .collect()
    assert(rows.count(_.isNullAt(1)) === 1, "only the malformed frame drops")
    rows.filter(!_.isNullAt(1)).foreach { r =>
      assert(r.getString(2) === r.getString(0), "decoded frames round-trip byte-exactly")
    }
  }

  test("retry budget exhaustion surfaces as an error (ErrMaxRetriesReached analogue)") {
    // a port with nothing listening: every dial is refused
    val dead = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val fetcher = new Connector.TokenFetcher(
      "https://uaa.example", "u", "p", () => "tok")
    val backoff = new Connector.Backoff(minDelayMs = 1, maxDelayMs = 2, maxRetries = 3)
    val result = NozzleReader.run(
      "127.0.0.1", dead, fetcher, backoff,
      idleTimeoutMs = 100, maxFrames = 1, onFrame = _ => ())
    assert(result.isLeft)
    assert(result.swap.getOrElse("").contains("max retries"))

    // a live server whose every connection dies before the upgrade
    // answers: failed handshakes never reset the budget, so the reader
    // gives up after exactly 1 + maxRetries dials
    val server = new WsTestServer((_, c) => require(c.request.contains(":path")))
    try {
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher,
        new Connector.Backoff(minDelayMs = 1, maxDelayMs = 2, maxRetries = 3),
        idleTimeoutMs = 1000, maxFrames = 1, onFrame = _ => ())
      assert(result === Left("max retries reached (last: connection closed mid-stream)"))
      assert(server.connections === 4)
    } finally server.close()
  }

  test("a garbage handshake is retryable and reports the last error on exhaustion") {
    // alternate a non-101 answer with a 101 whose accept key is wrong
    val server = new WsTestServer((idx, c) =>
      if (idx % 2 == 0) c.respond("500 oops")
      else c.respond("101 Switching Protocols", "Upgrade: websocket",
        "Connection: Upgrade", "Sec-WebSocket-Accept: bogus"))
    try {
      val fetcher = new Connector.TokenFetcher(
        "https://uaa.example", "u", "p", () => "tok")
      val backoff = new Connector.Backoff(minDelayMs = 1, maxDelayMs = 2, maxRetries = 3)
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher, backoff,
        idleTimeoutMs = 200, maxFrames = 1, onFrame = _ => ())
      assert(result.isLeft)
      val msg = result.swap.getOrElse("")
      assert(msg.contains("max retries") && msg.contains("bad handshake"), msg)
      // 4 dials: the 4th (idx 3) is the accept-key mismatch
      assert(msg.contains("Sec-WebSocket-Accept mismatch"), msg)
    } finally server.close()
  }

  test("a failed initial token fetch fails the reader before any dial (nozzle.go:113-138)") {
    val server = new WsTestServer((_, c) => c.accept())
    try {
      val fetcher = new Connector.TokenFetcher(
        "", "u", "p", () => "tok") // empty UaaAddr → validate() fails
      val backoff = new Connector.Backoff(minDelayMs = 1, maxDelayMs = 2, maxRetries = 3)
      val result = NozzleReader.run(
        "127.0.0.1", server.port, fetcher, backoff,
        idleTimeoutMs = 100, maxFrames = 1, onFrame = _ => ())
      assert(result === Left("token fetch failed: UaaAddr must not be empty"))
      assert(server.connections === 0, "no dial without a token")
    } finally server.close()
  }
}
