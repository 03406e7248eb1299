package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files
import scala.io.Source

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.config.GraftConfig
import graft.streaming.NozzlePipeline.Publisher

/** Top-level so executors hit the same JVM-singleton counter (a
  * class-nested object would be serialized as a copy). */
object CountingPublisher extends Publisher {
  val n = new java.util.concurrent.atomic.AtomicLong
  override def publish(topic: String, payload: String): Unit = {
    n.incrementAndGet(); ()
  }
}

/** Full-lifecycle test of the CLI.Run analogue: config → firehose
  * source → routed pipeline (one query, slow-consumer count in its
  * observe) → DLQ sink + stats server + reporter → graceful shutdown. */
class NozzleAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val cfg = {
    val basic = GraftConfig.load("fixtures/basic.toml").toOption.get
    basic.copy(kafka = basic.kafka.copy(topic = graft.config.TopicConfigT(
      logMessageFmt = "log-%s", valueMetric = "metric",
      counterEvent = "counter", httpStartStop = "http", error = "")))
  }

  private def eventually(cond: => Boolean): Unit = {
    val dl = System.currentTimeMillis() + 10000
    while (!cond && System.currentTimeMillis() < dl) Thread.sleep(100)
    assert(cond)
  }

  private def checkpoints(base: String): Set[String] =
    new java.io.File(s"$base/ck").list().toSet

  test("end-to-end lifecycle from config to shutdown") {
    val base = Files.createTempDirectory("nozzle-app").toString
    val source = spark.readStream.format("graft-firehose")
      .option("rowsPerBatch", 500).option("totalRows", 1000).load()
    val logLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // onQueryStarted runs synchronously inside start(), so the count is
    // complete as soon as NozzleApp.start returns
    val started = new java.util.concurrent.atomic.AtomicInteger
    val startListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(startListener)
    val running =
      try NozzleApp.start(spark, cfg, source,
        checkpointDir = s"$base/ck", dlqPath = s"$base/dlq",
        publisher = Some(CountingPublisher),
        statsPort = Some(0), statsIntervalMs = 200, log = logLines.add(_))
      finally spark.streams.removeListener(startListener)
    try {
      // one query, one checkpoint: the slow-consumer count rides its observe
      assert(started.get() === 1)
      running.awaitTermination()
      assert(checkpoints(base) === Set("main"))
      // 1000 generated rows cycle 5 types; 'error' unrouted => 800 published
      assert(CountingPublisher.n.get() === 800)
      assert(running.stats.publish.get() === 800)
      // listener folded consume/forward/ignored counters
      eventually(running.stats.consume.get() === 1000)
      assert(running.stats.forwarded.get() === 800)
      assert(running.stats.ignored.get() === 200)
      // stats HTTP endpoint is live and coherent
      val port = running.server.get.boundPort
      val conn = new URI(s"http://127.0.0.1:$port/stats/app").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      assert(body.contains("\"publish\":800"))
      assert(body.contains("\"slow_consumer_alert\":0"))
      // periodic reporter ticked at least once
      eventually(logLines.size() >= 9)
    } finally running.shutdown()
    // shutdown is idempotent-safe for the engine surfaces we hold
    assert(!running.query.isActive)
  }

  test("-debug mode prints every routed row to the console sink (producer.go:51-63)") {
    val base = Files.createTempDirectory("nozzle-debug").toString
    val source = spark.readStream.format("graft-firehose")
      .option("rowsPerBatch", 500).option("totalRows", 1000).load()
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    // the console sink prints on the stream thread, which inherits the
    // redirect only when start() spawns it inside this scope
    val running = Console.withOut(ps) {
      val r = NozzleApp.start(spark, cfg, source,
        checkpointDir = s"$base/ck", dlqPath = s"$base/dlq",
        publisher = None, kafkaSink = false, statsIntervalMs = 0)
      r.awaitTermination()
      r
    }
    try {
      assert(checkpoints(base) === Set("main"))
      ps.flush()
      val out = buf.toString("UTF-8")
      assert(out.contains("log-app-"), "no templated log topic in console output")
      assert(out.contains("|metric"), "no value-metric topic in console output")
      // 1000 rows, 'error' unrouted => 800 rows printed, each with its
      // whole payload: a cell that runs to its closing brace, never a
      // truncated "..." cell, and no "only showing top" cut
      assert("""\{"origin":"ev-[^|]*\}""".r.findAllIn(out).size === 800)
      assert(!out.contains("only showing top"))
      eventually(running.stats.consume.get() === 1000)
      assert(running.stats.forwarded.get() === 800)
      assert(running.stats.publish.get() === 0)
    } finally running.shutdown()
    assert(!running.query.isActive)
  }

  test("-version prints '<name> version <version>' to stderr and exits 0 (cli.go:129-131)") {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try NozzleMain.main(Array("-version"))
    finally System.setErr(prev)
    assert(buf.toString("UTF-8").trim === BuildInfo.versionLine)
    assert(BuildInfo.versionLine === s"${BuildInfo.Name} version ${BuildInfo.Version}")
    // and it never touched config/Spark: a bogus config path after the
    // flag must not matter
    val buf2 = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(buf2, true, "UTF-8"))
    try NozzleMain.main(Array("--version", "/no/such/config.toml"))
    finally System.setErr(prev)
    assert(buf2.toString("UTF-8").trim === BuildInfo.versionLine)
  }
}
