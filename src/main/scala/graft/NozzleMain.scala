package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.GraftConfig
import graft.streaming.{NozzlePipeline, Stats, StatsReporter, StatsServer}
import graft.streaming.NozzlePipeline.Publisher

/** The engine's `CLI.Run` analogue (reference cli.go:73-376, traced in
  * SURVEY §3.1): load config, resolve flag > config > default
  * precedence, assemble source → detector → route → encode → sink as
  * one streaming query, stand up the stats plane (listener + HTTP
  * server + periodic reporter), run until stopped, and shut down
  * gracefully (stop queries → checkpoints make the restart resume).
  *
  * Assembly is exposed as [[NozzleApp]] so tests (and embedders) can
  * run the whole lifecycle against bounded sources with an in-process
  * publisher or the console sink; [[NozzleMain.main]] is the thin argv
  * wrapper.
  */
object NozzleApp {

  final case class Running(
      spark: SparkSession,
      stats: Stats,
      query: StreamingQuery,
      alerts: StreamingQuery,
      server: Option[StatsServer],
      reporter: Option[StatsReporter],
      listener: NozzlePipeline.Listener) {

    /** O20: graceful shutdown — stop queries, close the stats plane.
      * Checkpoints carry the resume point. */
    def shutdown(): Unit = {
      query.stop()
      alerts.stop()
      reporter.foreach(_.stop())
      server.foreach(_.stop())
      spark.streams.removeListener(listener)
    }

    def awaitTermination(): Unit = {
      query.awaitTermination()
      alerts.awaitTermination()
    }
  }

  /** Assemble and start the full pipeline.
    *
    * @param source the envelope-surrogate stream (graft-firehose or
    *               file replay)
    * @param publisher sink target; None with `kafkaSink = false` is
    *                  the reference's -debug mode: every routed row
    *                  prints to the console sink
    */
  def start(
      spark: SparkSession,
      cfg: GraftConfig,
      source: DataFrame,
      checkpointDir: String,
      dlqPath: String,
      publisher: Option[Publisher],
      statsPort: Option[Int] = None,
      statsIntervalMs: Long = 10000,
      kafkaSink: Boolean = false,
      log: String => Unit = s => System.err.println(s"[nozzle] $s")): Running = {

    val resolved = GraftConfig.resolve(cfg)
    val stats = Stats()
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)

    val routed = NozzlePipeline.build(source,
      GraftConfig.toRouting(resolved.kafka.topic))

    // main query: the real Kafka sink (non-debug production path — the
    // reference's NewKafkaProducer, which likewise fails fast on a bad
    // config, cli.go:228-235), a Kafka-sink stand-in with bounded
    // retry + DLQ, or the console sink for debug mode
    val query =
      if (kafkaSink)
        graft.streaming.Connector.kafkaWriter(routed, resolved.kafka,
            s"$checkpointDir/main", resolved.insecureSSLSkipVerify) match {
          case Right(w) => w.start()
          case Left(e) => throw new IllegalArgumentException(s"kafka producer: $e")
        }
      else publisher match {
        case Some(p) =>
          NozzlePipeline.startDlq(routed, s"$checkpointDir/main", p,
            resolved.kafka.repartitionMax, stats, dlqPath)
        case None =>
          NozzlePipeline.startConsole(routed, s"$checkpointDir/main")
      }

    // O4 side-output: slow-consumer alerts over the same source
    val alerts = NozzlePipeline.startAlerts(
      NozzlePipeline.withEnvelope(source), s"$checkpointDir/alerts", stats)

    val server = statsPort.map(p => new StatsServer(stats, p).start())
    val reporter =
      if (statsIntervalMs > 0)
        Some(new StatsReporter(stats, statsIntervalMs, log).start())
      else None

    Running(spark, stats, query, alerts, server, reporter, listener)
  }
}

object NozzleMain {
  /** The full reference flag surface (cli.go:92-116) via [[NozzleCli]]:
    * -config -subscription -username -password -log-level -worker
    * -stats-interval -server -debug -version, plus the historical
    * positional form `<config.toml> [checkpointDir] [dlqPath]`.
    *
    * `-version`/`--version` prints "<name> version <version>" to
    * stderr and exits 0, before any config/Spark work — reference
    * cli.go:107,129-131. */
  def main(args: Array[String]): Unit =
    NozzleCli.parse(args.toIndexedSeq) match {
      case Left(err) =>
        // flag errors print the usage text, like the reference's
        // flags.Usage (cli.go:96-98)
        System.err.println(s"[nozzle] $err")
        System.err.println(NozzleCli.helpText)
        sys.exit(1)
      case Right(o) if o.version =>
        System.err.println(BuildInfo.versionLine)
      case Right(o) => run(o)
    }

  private def run(o: NozzleCli.CliOptions): Unit = {
    val cfg0 = GraftConfig.load(o.configPath) match {
      case Right(c) => c
      case Left(err) => System.err.println(s"[nozzle] config: $err"); sys.exit(1)
    }
    // flag > config > default (cli.go:157-179) — resolve() treats ""
    // as "flag unset", exactly like the reference's empty-string tests
    val cfg = GraftConfig.resolve(cfg0, o.subscriptionID, o.username, o.password)
    val spark = GraftSession.local()
    val log = NozzleCli.levelLog(o.logLevel, s => System.err.println(s"[nozzle] $s"))
    val source = spark.readStream.format("graft-firehose")
      .option("rowsPerBatch", 5000)
      .option("partitions", o.worker) // -worker → O11 fan-out, cli.go:103
      .load()
    val running = NozzleApp.start(spark, cfg, source,
      o.checkpointDir, o.dlqPath,
      publisher = None,
      statsPort = if (o.server) Some(8080) else None, // cli.go:186-193
      statsIntervalMs = o.statsIntervalMs,
      kafkaSink = !o.debug, // cli.go:224-235: debug → log producer
      log = log)
    sys.addShutdownHook(running.shutdown()) // O20: SIGINT → graceful stop
    running.awaitTermination()
  }
}
