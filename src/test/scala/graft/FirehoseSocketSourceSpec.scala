package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The network-backed firehose source inside a LIVE streaming query:
  * frames flow ws server → NozzleReader → micro-batches → memory sink,
  * across a mid-stream disconnect (EOF → backoff re-dial), and decode
  * through `envelope_decode` with the malformed frame dropping to
  * NULL — the full O1→O2 edge running end to end. */
class FirehoseSocketSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def frame(i: Int): String = {
    val ts = 1700000000000000000L + i
    s"""{"origin":"sock","eventType":5,"timestamp":$ts,"logMessage":{"message_type":1,"timestamp":$ts,"app_id":"app-$i","source_type":"DEA"}}"""
  }
  private val malformed = """{"origin": nope"""

  test("socket frames flow through micro-batches across a reconnect") {
    val server = new WsTestServer((idx, c) => {
      c.accept()
      if (idx == 0) {
        (0 until 6).foreach(i => c.text(frame(i)))
        // returning drops the socket without a close frame: EOF
        // mid-stream → the reader must re-dial
      } else {
        // only the first re-dial serves the remainder; any further
        // connection holds silently (a live firehose does not replay)
        if (idx == 1) {
          (6 until 11).foreach(i => c.text(frame(i)))
          c.text(malformed)
        }
        Thread.sleep(20000) // hold open until the test ends
      }
    })

    val ck = java.nio.file.Files.createTempDirectory("socket-src-ck").toString
    val q = spark.readStream.format("graft-firehose-socket")
      .option("host", "127.0.0.1")
      .option("port", server.port)
      // long idle deadline: the reconnect under test is the EOF path;
      // the idle-timeout path is NozzleReaderSpec's (a short deadline
      // here would re-dial the held connection and a live server
      // would stream fresh data — this scripted one cannot)
      .option("idleTimeoutMs", 60000)
      .option("backoffMinMs", 10)
      .option("backoffMaxMs", 50)
      .option("rowsPerBatch", 4)
      .load()
      .writeStream
      .format("memory")
      .queryName("socket_frames")
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(100))
      .start()

    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def count(): Long = spark.sql("SELECT count(*) FROM socket_frames").head().getLong(0)
      while (count() < 12 && System.nanoTime() < deadline) Thread.sleep(100)
      if (count() != 12) {
        val rows = spark.sql("SELECT frame FROM socket_frames").collect().map(_.getString(0))
        val hist = rows.groupBy(identity).map { case (k, v) => (k.take(60), v.length) }
        fail(s"count=${count()} conns=${server.connections} hist=${hist.toSeq.sortBy(_._1).mkString("\n")}")
      }
      assert(count() === 12, "6 frames before + 6 after the reconnect")

      // O2 over the live-received frames: canonical frames decode and
      // round-trip; the malformed one maps to NULL (DROPMALFORMED)
      if (!spark.catalog.functionExists("envelope_decode")) Functions.register(spark)
      val decoded = spark.sql(
        """SELECT frame, envelope_decode(frame) AS env,
                  envelope_json(envelope_decode(frame)) AS rt
           FROM socket_frames""").collect()
      assert(decoded.count(_.isNullAt(1)) === 1)
      decoded.filter(!_.isNullAt(1)).foreach { r =>
        assert(r.getString(2) === r.getString(0))
      }
      // no duplication across the reconnect: every good frame once
      val got = decoded.filter(!_.isNullAt(1)).map(_.getString(0)).sorted.toSeq
      assert(got === (0 until 11).map(frame).sorted)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("restart origin aligns before the reader can buffer (no silent loss)") {
    // A restarted query resumes from checkpointed offset 3 while this
    // fresh buffer starts empty. The origin MUST be re-based to 3
    // before the reader thread can buffer anything; the pre-fix guard
    // (`offset > base + frames.length`) skipped re-basing once a fast
    // server had delivered >= 3 frames, so the first 3 new frames got
    // pre-restart offsets and were silently trimmed.
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap

    val server = new WsTestServer((_, c) => {
      c.accept()
      (0 until 5).foreach(i => c.text(frame(i)))
      Thread.sleep(20000) // hold open; a live firehose does not replay
    })

    val opts = new java.util.HashMap[String, String]()
    opts.put("host", "127.0.0.1")
    opts.put("port", server.port.toString)
    opts.put("idleTimeoutMs", "60000")
    opts.put("backoffMinMs", "10")
    opts.put("backoffMaxMs", "50")
    val stream = new graft.sources.FirehoseSocketSource()
      .getTable(graft.sources.FirehoseSocketSource.schema, Array.empty, opts)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new CaseInsensitiveStringMap(opts))
      .build()
      .toMicroBatchStream("unused")
    try {
      val ac = stream.asInstanceOf[SupportsAdmissionControl]
      // first driver call after restart: resume from offset 3
      val start = stream.deserializeOffset("3")
      ac.latestOffset(start, ReadLimit.maxRows(100))
      // wait until all 5 frames arrived; with the origin at 3 they
      // occupy [3, 8)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def avail(): Long = ac.reportLatestOffset().json().trim.toLong
      while (avail() < 8 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(avail() === 8, s"expected origin 3 + 5 frames, got ${avail()}")
      val end = ac.latestOffset(start, ReadLimit.maxRows(100))
      val parts = stream.planInputPartitions(start, end)
      val served = parts.flatMap { p =>
        val r = stream.createReaderFactory().createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (r.next()) buf += r.get().getUTF8String(0).toString
        buf
      }
      assert(served.toSeq === (0 until 5).map(frame),
        "all post-restart frames must be served, none trimmed as pre-restart")
    } finally {
      stream.stop()
      server.close()
    }
  }

  test("protocol=lines fails at stream creation, before any dial") {
    // a server that would accept: the query must fail without dialing it
    val server = new WsTestServer((_, c) => c.accept())
    try {
      val ck = java.nio.file.Files.createTempDirectory("socket-src-lines").toString
      val q = spark.readStream.format("graft-firehose-socket")
        .option("host", "127.0.0.1")
        .option("port", server.port)
        .option("protocol", "lines")
        .load()
        .writeStream
        .format("memory")
        .queryName("socket_lines")
        .option("checkpointLocation", ck)
        .start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(30000))
      assert(e.getCause.isInstanceOf[IllegalArgumentException], e)
      assert(e.getCause.getMessage.contains("only 'ws' is supported, got 'lines'"), e)
      assert(server.connections === 0, "no dial with an unsupported protocol")
    } finally {
      server.close()
      // the failed query stays in the shared session's terminated list and
      // would be rethrown by any later awaitAnyTermination in other suites
      spark.streams.resetTerminated()
    }
  }
}
