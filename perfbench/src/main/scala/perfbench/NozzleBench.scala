package perfbench

import java.net.{HttpURLConnection, URI}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.LongType

import graft.NozzleApp
import graft.config.{GraftConfig, KafkaConfig, TopicConfigT}
import graft.streaming.{NozzlePipeline, Stats}

/** Closed drains of a replay backlog through the nozzle.
  *
  * Every sink in NozzlePipeline runs with Trigger.AvailableNow, so a
  * drain starts the full application (NozzleApp.start: main query with
  * the retry/DLQ sink, alerts side query, stats listener and server)
  * over files written before the clock starts, and ends when both
  * queries have consumed them. One file is one micro-batch.
  */
object NozzleBench {
  import Main.{Args, Metric, Result}

  /** Drains per untraced run, at least; more while under --seconds. */
  val MinDrains = 3

  /** Rounds of the ablation ladder; each rung reports its median. */
  val LadderRounds = 3

  /** Seconds from the first micro-batch's start to the last one's end:
    * a drain without query start and stop, which a long-running nozzle
    * pays once. */
  def batchSpanS(batches: Seq[StreamingQueryProgress]): Double = {
    val t = batches.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (start, start + p.durationMs.get("triggerExecution").toLong)
    }
    (t.map(_._2).max - t.map(_._1).min) / 1e3
  }

  /** A finished query's micro-batches that read input, in order. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).toSeq.sortBy(_.batchId)

  /** All micro-batches but the first, which also carries the query's
    * start-up (first planning and code generation, the first offset
    * and commit log entries): a long-running nozzle pays that once,
    * not per batch. */
  def steady(batches: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    batches.drop(1)

  def batchMs(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution").toDouble

  /** What one drain produced, captured before the application stops. */
  final case class Drain(seconds: Double, batches: Seq[StreamingQueryProgress],
      alertRows: Long, stats: Map[String, Long], attempts: Long, successes: Long,
      failures: Long, digest: Long, dlqPath: String, scrapeMs: Seq[Double]) {
    def dlqRows: Long = stats.getOrElse("publish_fail", 0L)
    def delivered: Long = successes + dlqRows
    /** Events per second over the steady batches. */
    def steadyRate: Double =
      steady(batches).map(_.numInputRows).sum / batchSpanS(steady(batches))
  }

  def run(a: Args): Result = {
    val m = a.manifest
    val f = m.get("faults")
    val plan = Faults.Plan(m.get("seed").asLong, f.get("permanent_per_10k").asInt,
      f.get("transient_per_10k").asInt, f.get("max_transient").asInt.max(1))
    val publisher: CountingPublisher =
      if (plan.permanentPer10k + plan.transientPer10k == 0) OkPublisher
      else {
        FaultyPublisher.plan = plan
        FaultyPublisher.t0Us = m.get("t0_us").asLong
        FaultyPublisher
      }
    val t = m.get("topics")
    val cfg = GraftConfig(kafka = KafkaConfig(
      repartitionMax = m.get("repartition_max").asInt,
      topic = TopicConfigT(logMessageFmt = t.get("log_message_fmt").asText,
        httpStartStopFmt = t.get("http_start_stop_fmt").asText,
        valueMetric = t.get("value_metric").asText,
        counterEvent = t.get("counter_event").asText,
        error = t.get("error").asText)))
    val routing = GraftConfig.toRouting(cfg.kafka.topic)
    val expected = m.get("expected").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val dlqIds = m.get("dlq_ids").elements.asScala.map(_.asLong).toSet
    val events = m.get("events").asLong
    val replay = s"${a.input}/replay"
    val tracer = new Tracer(a.trace)

    // Set-up: session build to a ready replay source, several times;
    // the last session is the one measured.
    var spark: SparkSession = null
    var src: DataFrame = null
    val setupS = Main.step("setup")((1 to Main.SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = Main.session(a)
        src = NozzlePipeline.source(spark, replay)
      }
      (System.nanoTime() - t0) / 1e9
    })

    // computed when first needed, after the timed drains have warmed the JVM
    lazy val (wantDigest, wantDelivered) =
      Main.step("expected_digest")(expectedDigest(spark, replay, routing, plan))

    // The listener folds each batch's counters asynchronously, one
    // counter after another with `forwarded` last: wait (bounded) until
    // every event has reached `ignored` or `forwarded`, so no batch is
    // read half-folded.
    def settle(stats: Stats, total: Long): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (stats.ignored.get() + stats.forwarded.get() < total &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    }

    def drainApp(source: DataFrame, total: Long, scrape: Boolean = false): Drain = {
      publisher.reset()
      val dlq = a.fresh("dlq")
      val t0 = System.nanoTime()
      val running = NozzleApp.start(spark, cfg, source, a.fresh("ck"), dlq,
        Some(publisher), statsPort = Some(0), statsIntervalMs = 0, log = _ => ())
      try {
        val scraper = if (scrape) Some(new Scraper(running.server.get.boundPort)) else None
        running.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val scrapeMs = scraper.map(_.stop()).getOrElse(Nil)
        settle(running.stats, total)
        Drain(secs, dataBatches(running.query),
          running.alerts.recentProgress.map(_.numInputRows).sum,
          statsSnapshot(running.stats), publisher.attempts.sum, publisher.successes.sum,
          publisher.failures.sum, publisher.digest.get, dlq, scrapeMs)
      } finally running.shutdown()
    }

    // warm-up: JIT, codegen and the parquet reader, one untimed drain
    // of one file. A traced run needs none: each ladder rung reports
    // its median over rounds, so a cold first round drops out.
    if (!a.trace)
      Main.step("warm_drain")(tracer.span("warm")(
        drainApp(NozzlePipeline.source(spark, s"${a.input}/warm"), m.get("warm_events").asLong)))

    var attempted = 0L
    var failed = 0L
    val mismatches = ArrayBuffer.empty[String]
    def check(d: Drain): Unit = {
      attempted += events
      val got = d.stats
      expected.foreach { case (k, v) =>
        val diff = math.abs(got.getOrElse(k, -1L) - v)
        if (diff != 0) { failed += diff; mismatches += s"stats.$k=${got.getOrElse(k, -1L)} want $v" }
      }
      val dlq = readDlq(spark, d.dlqPath)
      val bad = (dlq.toSet diff dlqIds).size + (dlqIds diff dlq.toSet).size +
        (dlq.size - dlq.toSet.size)
      if (bad != 0) { failed += bad; mismatches += s"dlq ids differ in $bad" }
      if (d.successes != wantDelivered) {
        failed += math.abs(d.successes - wantDelivered)
        mismatches += s"delivered ${d.successes} want $wantDelivered"
      } else if (d.digest != wantDigest) {
        failed += 1; mismatches += "delivered digest differs from the batch build"
      }
    }

    val rows = ArrayBuffer.empty[(String, String)]
    val metrics =
      if (!a.trace) {
        val drains = ArrayBuffer.empty[Drain]
        var measured = 0.0
        while (drains.size < MinDrains || measured < a.seconds) {
          drains += drainApp(src, events)
          measured += drains.last.seconds
        }
        Main.step("check")(drains.foreach(check))
        val rates = drains.map(_.steadyRate).toSeq
        val lat = drains.flatMap(d => steady(d.batches).map(batchMs)).toSeq
        rows ++= Seq("drains" -> drains.size.toString, "batches" -> lat.size.toString,
          "drain_rate_per_s" -> rates.map(Json.num).mkString("[", ",", "]"),
          "batch_ms" -> lat.map(Json.num).mkString("[", ",", "]"),
          "first_batch_ms" -> drains.map(d => Json.num(batchMs(d.batches.head)))
            .mkString("[", ",", "]"),
          "drain_s" -> drains.map(d => Json.num(d.seconds)).mkString("[", ",", "]"),
          "setup_samples_s" -> setupS.map(Json.num).mkString("[", ",", "]"))
        Seq(
          Metric("throughput_per_s", Stat.median(rates), "1/s"),
          Metric("latency_ms_p50", Stat.median(lat), "ms"),
          Metric("setup_s", Stat.median(setupS), "s"),
          Metric("live_heap_mb", Jvm.liveHeapMb(), "MiB"))
      } else traced(a, spark, src, routing, publisher, tracer, cfg.kafka.repartitionMax,
        drainApp(_, events, _),
        check, events, rows)

    if (mismatches.nonEmpty) rows += "mismatches" -> Json.str(mismatches.take(20).mkString("; "))
    Result(attempted, failed, metrics, rows.toSeq)
  }

  /** The traced run: the ablation ladder (untraced drains, one rung
    * more of the pipeline each, repeated for a median per rung), then
    * one drain with listeners and a stats scraper attached for the
    * per-batch split. A rung's time is the span of its steady batches,
    * the quantity throughput_per_s divides by. */
  private def traced(a: Args, spark: SparkSession, src: DataFrame,
      routing: NozzlePipeline.TopicConfig, publisher: CountingPublisher, tracer: Tracer,
      repartitionMax: Int, drainApp: (DataFrame, Boolean) => Drain,
      check: Drain => Unit, events: Long,
      rows: ArrayBuffer[(String, String)]): Seq[Metric] = {
    def rung(name: String)(start: => StreamingQuery): Double =
      tracer.span(s"ladder[$name]") {
        val q = start
        q.awaitTermination()
        batchSpanS(steady(dataBatches(q)))
      }
    def noop(df: DataFrame): StreamingQuery =
      df.writeStream.format("noop").option("checkpointLocation", a.fresh("ck"))
        .trigger(Trigger.AvailableNow()).start()
    val envDf = NozzlePipeline.withEnvelope(src)
    val rungs: Seq[() => Double] = Seq(
      () => rung("source")(noop(src)),
      () => rung("withEnvelope")(noop(envDf)),
      () => rung("routeExpr")(
        noop(envDf.withColumn("topic", NozzlePipeline.routeExpr(routing, col("envelope"))))),
      () => rung("build")(noop(NozzlePipeline.build(src, routing))),
      () => rung("startDlq") {
        publisher.reset()
        NozzlePipeline.startDlq(NozzlePipeline.build(src, routing), a.fresh("ck"), publisher,
          repartitionMax, Stats(), a.fresh("dlq"))
      },
      () => tracer.span("ladder[NozzleApp.start]") {
        val d = drainApp(src, false)
        check(d)
        batchSpanS(steady(d.batches))
      })
    val rounds = (1 to LadderRounds).map(_ => rungs.map(_()))
    val perRung = rungs.indices.map(i => rounds.map(_(i)))
    val rungS = perRung.map(Stat.median)
    // half the range of a rung's rounds: differences between rungs
    // smaller than about twice this are not resolved
    val halfRange = perRung.map(xs => (xs.max - xs.min) / 2)

    // traced drain
    val jobs = new JobListener
    val prog = new ProgressListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(prog)
    val floor = Main.jobFloorMs(spark)
    jobs.reset()
    val gc0 = Jvm.gcMs()
    val d = tracer.span("drain")(drainApp(src, true))
    val gcMs = Jvm.gcMs() - gc0
    jobs.drain()
    val mainId = d.batches.headOption.map(_.id.toString).getOrElse("")
    def mainProgress = prog.progress.asScala.toSeq
      .filter(p => p.id.toString == mainId && p.numInputRows > 0)
    val deadline = System.currentTimeMillis() + 10000
    while (mainProgress.size < d.batches.size && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(prog)
    check(d)

    val drainSpan = tracer.all.find(_.name == "drain").get
    val batchSpans = mainProgress.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dm = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val id = tracer.add(drainSpan.id, s"batch[${p.batchId}]", start,
          start + dm.getOrElse("triggerExecution", 0.0))
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { phase =>
          val ms = dm.getOrElse(phase, 0.0)
          tracer.add(id, phase, at, at + ms)
          at += ms
        }
        p
      }
    val jobSpans = jobs.finished.map(j => Span(-j.id - 1, drainSpan.id, s"spark.job[${j.id}]",
      j.start, j.end, Map("query" -> j.props.getOrElse("sql.streaming.queryId", ""))))
    val adopted = tracer.adopt(jobSpans, s => s.start >= drainSpan.start)
    val spans = tracer.tree(adopted)
    tracer.write(s"${a.work}/spans.json", spans)
    val self = tracer.selfTimes(spans)

    def phase(k: String): Double =
      Stat.median(steady(batchSpans.sortBy(_.batchId)).map(_.durationMs.getOrDefault(k, 0L).toDouble))
    val mainJobs = jobSpans.count(_.attrs("query") == mainId)
    // against the untraced drain just before it: drains still speed up
    // as the JIT warms, so a median over earlier rounds would flatter
    // the traced drain
    val tracedSpan = batchSpanS(steady(d.batches))
    val untracedSpan = perRung.last.last
    val overhead = 100.0 * (tracedSpan - untracedSpan) / untracedSpan
    rows ++= Seq("ladder_s" -> rungS.map(Json.num).mkString("[", ",", "]"),
      "ladder_rounds_s" -> perRung.map(_.map(Json.num).mkString("[", ",", "]"))
        .mkString("[", ",", "]"),
      "ladder_half_range_s" -> halfRange.map(Json.num).mkString("[", ",", "]"),
      "self_ms" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "traced_batch_span_s" -> Json.num(tracedSpan),
      "untraced_batch_span_s" -> Json.num(untracedSpan),
      "publish_failures" -> d.failures.toString,
      "spans" -> spans.size.toString)
    val ok = d.successes.toDouble
    Seq(
      Metric("streaming.source_s", rungS(0), "s"),
      Metric("streaming.assembly_s", rungS(1) - rungS(0), "s"),
      Metric("streaming.route_s", rungS(2) - rungS(1), "s"),
      Metric("functions.envelope_json_s", rungS(3) - rungS(2), "s"),
      Metric("streaming.sink_s", rungS(4) - rungS(3), "s"),
      Metric("streaming.alerts_s", rungS(5) - rungS(4), "s"),
      Metric("streaming.scan_amplification",
        (d.batches.map(_.numInputRows).sum + d.alertRows).toDouble / events, "ratio"),
      Metric("streaming.latest_offset_ms", phase("latestOffset"), "ms"),
      Metric("streaming.get_batch_ms", phase("getBatch"), "ms"),
      Metric("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
      Metric("streaming.add_batch_ms", phase("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", phase("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", phase("commitOffsets"), "ms"),
      Metric("streaming.jobs_per_batch", mainJobs.toDouble / batchSpans.size.max(1), "count"),
      Metric("streaming.publish_attempts", d.attempts.toDouble, "count"),
      Metric("streaming.publish_retries", (d.attempts - d.delivered).toDouble, "count"),
      Metric("streaming.publish_useful_ratio", ok / d.attempts.max(1), "ratio"),
      Metric("streaming.dlq_rows", d.dlqRows.toDouble, "count"),
      Metric("streaming.stats_scrape_ms",
        if (d.scrapeMs.isEmpty) Double.NaN else Stat.median(d.scrapeMs), "ms"),
      Metric("spark.job_floor_ms", floor, "ms"),
      Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
      Metric("trace.overhead_pct", overhead, "%"))
  }

  /** Stats counters by their `/stats/app` names. */
  def statsSnapshot(s: Stats): Map[String, Long] = Map(
    "consume" -> s.consume.get, "consume_http_start_stop" -> s.consumeHttpStartStop.get,
    "consume_value_metric" -> s.consumeValueMetric.get,
    "consume_counter_event" -> s.consumeCounterEvent.get,
    "consume_log_message" -> s.consumeLogMessage.get, "consume_error" -> s.consumeError.get,
    "consume_container_metric" -> s.consumeContainerMetric.get,
    "consume_unknown" -> s.consumeUnknown.get, "ignored" -> s.ignored.get,
    "forwarded" -> s.forwarded.get, "publish" -> s.publish.get,
    "publish_fail" -> s.publishFail.get, "slow_consumer_alert" -> s.slowConsumerAlert.get,
    "delay" -> (s.forwarded.get - (s.publish.get + s.publishFail.get)))

  /** The same replay files read as a batch, normalised the way
    * NozzlePipeline.source normalises the stream. */
  def batchSource(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(dir)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumnRenamed("ts", "ts_ns")
      case _ => raw.withColumn("ts_ns",
        expr("unix_micros(cast(ts as timestamp)) * 1000L")).drop("ts")
    }
  }

  /** Digest and count of what the sink should deliver: the batch
    * evaluation of NozzlePipeline.build minus the planned permanent
    * failures. */
  def expectedDigest(spark: SparkSession, dir: String, routing: NozzlePipeline.TopicConfig,
      plan: Faults.Plan): (Long, Long) = {
    import spark.implicits._
    NozzlePipeline.build(batchSource(spark, dir), routing)
      .select("event_id", "topic", "payload").as[(Long, String, String)]
      .mapPartitions { it =>
        var sum = 0L
        var n = 0L
        it.foreach { case (id, topic, payload) =>
          if (Faults.failures(plan, id) != -1) { sum += Digest.record(topic, payload); n += 1 }
        }
        Iterator((sum, n))
      }
      .collect().foldLeft((0L, 0L)) { case ((s, n), (s1, n1)) => (s + s1, n + n1) }
  }

  def readDlq(spark: SparkSession, path: String): Seq[Long] =
    if (!new java.io.File(path).exists()) Nil
    else spark.read.parquet(path).select("event_id").collect().map(_.getLong(0)).toSeq
}

/** Polls `GET /stats/app` every 20 ms until stopped and keeps each
  * request's latency in milliseconds. */
final class Scraper(port: Int) {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val t0 = System.nanoTime()
      val c = new URI(s"http://127.0.0.1:$port/stats/app").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try { c.getInputStream.readAllBytes(); samples.add((System.nanoTime() - t0) / 1e6) }
      catch { case _: java.io.IOException => () }
      finally c.disconnect()
      Thread.sleep(20)
    }
  })
  thread.setDaemon(true)
  thread.start()

  def stop(): Seq[Double] = { running = false; thread.join(); samples.asScala.toSeq }
}
