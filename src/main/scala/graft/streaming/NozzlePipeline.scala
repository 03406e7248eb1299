package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.Functions
import graft.config.TopicConfigT
import graft.sources.FirehoseSocketSource

/** The always-on nozzle pipeline (SURVEY §3.1) as one Structured
  * Streaming query:
  *
  * {{{
  * source(file replay of the firehose surrogate)            O1/O2
  *   → envelope assembly: one surrogate_envelope node
  *     (tagged union, exactly one payload)
  *   → one projection over the envelope:
  *       eventType, route(eventType → topic, templating,    O5/O6/O7
  *       drop rules), isTruncated flag (O4), and
  *       envelope_json canonical encoding of routed rows    O8
  *   → observe() consume + per-type counters                O12
  *     + slow-consumer count, over those narrow columns
  *   → filter(topic is set)
  *   → sink: console (O16, debug) or a DSv2 streaming write
  *     with bounded retry + per-epoch DLQ files (O9/O10)
  * }}}
  *
  * The plan is kept small because a micro-batch's cost on small
  * batches is mostly planning plus the sink's `addBatch`: the
  * checkpoint log writes take ~1 ms each since file creates stopped
  * forking `chmod` ([[graft.InProcessLocalFileSystem]]), and the
  * optimizer runs over this plan three times per micro-batch (once for
  * the batch, then once for each of the two `SQLExecutionStart` plan
  * descriptions Spark builds in the sink's `addBatch`). The envelope
  * is one opaque node because Catalyst inlines a `named_struct` into
  * each consumer: the router became a CASE of
  * CASEs over the `event_type` string, re-planned and re-generated on
  * every batch. Only narrow columns cross `observe`, because
  * `CollectMetrics` is a stage boundary where a struct would be copied
  * whole into an UnsafeRow. On 1,000-event batches (4 cores) this cut
  * the formatted explain from 6.1 KB to 3.7 KB and the generated code
  * from 122 KB to 85 KB (`plans/r21/`).
  *
  * The whole pre-sink pipeline is narrow (map-only): no shuffle at any
  * scale; parallelism is the source's file-split parallelism. A
  * 50k-event replay file (~2 MB) is one parquet row group, so one task.
  * A hash fan-out (`repartition(defaultParallelism, event_id)` ahead of
  * assembly) measured no gain at that size on 4 cores: a batch `build`
  * of one such file took 198 ms plain and 252 ms fanned out (min of
  * 15), since its shuffle write costs about what spreading the per-row
  * work saves, and a streaming batch's time is mostly driver-side. Counters
  * flow through `observe()` (zero extra pass — metrics are collected
  * by the running query itself) into [[Stats]] via
  * [[NozzlePipeline.Listener]], mirroring the reference's atomic
  * counter plane (stats.go:113-146).
  *
  * Delivery semantics: with checkpointing the pipeline is at-least-once
  * and never silently drops on backpressure — strictly stronger than
  * the reference, which drops when its retry buffer overflows
  * (kafka.go:269-272). The reference's `PublishFail` counter therefore
  * maps to our DLQ count (SURVEY §7.4 divergence note).
  */
object NozzlePipeline {

  /** The router's per-type topic table is the config's `[kafka.topic]`
    * table, [[graft.config.TopicConfigT]]. This alias and its companion
    * are kept only until a benchmark change moves off the name. */
  type TopicConfig = TopicConfigT
  val TopicConfig: TopicConfigT.type = TopicConfigT

  /** Streaming-read schema of the events surrogate (ts is
    * TIMESTAMP(NANOS) in parquet; with nanosAsLong it reads as the
    * raw nanosecond long). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-replay streaming source over events parquet (O1/O2). One
    * file per micro-batch keeps replays deterministic in tests.
    *
    * Streaming reads need a declared schema, and the driver has
    * shipped `ts` both as TIMESTAMP(NANOS) (→ long ns via
    * `nanosAsLong`) and as plain µs timestamps across testdata
    * generations — so the schema is sniffed from a one-time static
    * footer read (driver-side metadata only, no data scan) and `ts`
    * is normalized to the `ts_ns` long every stage downstream keys
    * on (the Tables.events contract). */
  def source(spark: SparkSession, dir: String): DataFrame = {
    // A testdata dir holds EVERY table's parquet — sniff events.parquet
    // specifically there; a staged replay dir holds only event files.
    val sniffed =
      try {
        val ev = new java.io.File(dir, "events.parquet")
        val s = spark.read.parquet(
          if (ev.exists()) ev.getPath else dir).schema
        if (s.fieldNames.contains("ts")) s else eventsSchema
      } catch { // empty dir: replay layout (a bad footer still fails)
        case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          eventsSchema
      }
    val raw = spark.readStream
      .schema(sniffed)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    sniffed("ts").dataType match {
      case LongType => raw.withColumnRenamed("ts", "ts_ns")
      case _ => raw.withColumn("ts_ns",
        expr("unix_micros(cast(ts as timestamp)) * 1000L")).drop("ts")
    }
  }

  private def nullOf(t: DataType): Column = lit(null).cast(t)

  /** Surrogate-to-Envelope assembly: one
    * [[graft.functions.SurrogateEnvelope]] node over `event_id, ts_ns,
    * user_id, event_type, value, props`. The five surrogate event types
    * map onto five envelope payload types; anything else becomes the
    * unknown fixture (eventType -1, no payload, helper_test.go:101).
    * Exactly one payload is non-null — the tagged-union invariant. */
  def envelopeColumn: Column = Functions.surrogate_envelope(
    col("event_id"), col("ts_ns"), col("user_id"), col("event_type"), col("value"), col("props"))

  /** Slow-consumer detector predicate (O4) — go-nozzle
    * detector.go:116-124 `isTruncated`: a CounterEvent named
    * TruncatingBuffer.DroppedMessages from origin "doppler" means the
    * firehose dropped messages because we read too slowly. Counted as
    * `slow_consumer_alert` in [[fromEnvelopes]]' observe: a pass-through
    * stage of the one query, like the reference detector. */
  def isTruncatedExpr(env: Column): Column =
    env.getField("eventType") === 7 &&
      env.getField("counterEvent").getField("name") === "TruncatingBuffer.DroppedMessages" &&
      env.getField("origin") === "doppler"

  /** fmtTopic (kafka.go:183-188): template wins over fixed name;
    * neither configured → NULL → drop. The reference always applies
    * fmt.Sprintf — an absent proto app id formats as "" (Go nil-proto
    * accessors return the zero value), yielding a topic like "log-"
    * that IS forwarded; NULL is coalesced to "" to match (Spark's
    * format_string would otherwise print a literal "null"). */
  private def fmtTopic(fixed: String, fmt: String, appId: Column): Column =
    if (fmt.nonEmpty) format_string(fmt, coalesce(appId, lit("")))
    else if (fixed.nonEmpty) lit(fixed)
    else nullOf(StringType)

  /** The 6-way type router (kafka.go:305-340) over an envelope
    * column. HttpStartStop's per-app template uses uuid_str of the
    * applicationId words (kafka.go:312). */
  def routeExpr(cfg: TopicConfigT, env: Column): Column = {
    val et = env.getField("eventType")
    when(et === 5, fmtTopic(cfg.logMessage, cfg.logMessageFmt,
        env.getField("logMessage").getField("app_id")))
      .when(et === 6, fmtTopic(cfg.valueMetric, "", lit(null)))
      .when(et === 7, fmtTopic(cfg.counterEvent, "", lit(null)))
      .when(et === 9, fmtTopic(cfg.containerMetric, cfg.containerMetricFmt,
        env.getField("containerMetric").getField("applicationId")))
      .when(et === 4, fmtTopic(cfg.httpStartStop, cfg.httpStartStopFmt,
        Functions.uuid_str(
          env.getField("httpStartStop").getField("applicationId").getField("low"),
          env.getField("httpStartStop").getField("applicationId").getField("high"))))
      .when(et === 8, fmtTopic(cfg.error, "", lit(null)))
      .otherwise(nullOf(StringType))
  }

  /** Attach the envelope column to the surrogate source. */
  def withEnvelope(src: DataFrame): DataFrame =
    src.withColumn("envelope", envelopeColumn)

  /** The pipeline from the envelope on: observed counters → route →
    * encode, over a frame with `envelope` (EnvelopeSchema.schema) and
    * `event_id` columns. Output: event_id, eventType, topic, payload
    * (canonical JSON).
    *
    * One projection derives every column from `envelope`, and only those
    * narrow columns reach `observe`: the struct never crosses the
    * `CollectMetrics` stage boundary, and the router's CASE stays over
    * `eventType`. Only routed rows are encoded. The filter stays after
    * `observe`, so the counters see every row. */
  def fromEnvelopes(envDf: DataFrame, cfg: TopicConfigT): DataFrame = {
    val env = col("envelope")
    val topic = col("topic")
    // the filter keeps routed rows only, whose payload the CASE always
    // set: it is NULL only where the envelope is, as envelope_json's is
    val routedPayload =
      if (envDf.schema("envelope").nullable) col("payload")
      else Shims.column(KnownNotNull(Shims.expression(col("payload"))))
    envDf
      .select(col("event_id"), env.getField("eventType").as("eventType"),
        routeExpr(cfg, env).as("topic"), isTruncatedExpr(env).as("slow_consumer"), env)
      .select(col("event_id"), col("eventType"), topic, col("slow_consumer"),
        when(topic.isNotNull, Functions.envelope_json(env)).as("payload"))
      .observe("nozzle",
        count(lit(1)).as("consume"),
        count(when(col("eventType") === 4, 1)).as("consume_http_start_stop"),
        count(when(col("eventType") === 6, 1)).as("consume_value_metric"),
        count(when(col("eventType") === 7, 1)).as("consume_counter_event"),
        count(when(col("eventType") === 5, 1)).as("consume_log_message"),
        count(when(col("eventType") === 8, 1)).as("consume_error"),
        count(when(col("eventType") === 9, 1)).as("consume_container_metric"),
        count(when(col("eventType") === -1, 1)).as("consume_unknown"),
        count_if(col("slow_consumer")).as("slow_consumer_alert"),
        // kafka.go:333-336: the topic=="" check runs AFTER the type
        // switch's default, so unknown-type events count as BOTH
        // ConsumeUnknown and Ignored (asserted by kafka_test.go:290).
        count(when(topic.isNull, 1)).as("ignored"),
        count(when(topic.isNotNull, 1)).as("forwarded"))
      .filter(topic.isNotNull)
      .select(col("event_id"), col("eventType"), topic, routedPayload.as("payload"))
  }

  /** Full pipeline over the surrogate source: envelope assembly, then
    * [[fromEnvelopes]]. */
  def build(src: DataFrame, cfg: TopicConfigT): DataFrame =
    fromEnvelopes(withEnvelope(src), cfg)

  /** Debug/console sink (O16): the reference's `-debug` LogProducer
    * (producer.go:51-63), which logs every event it is handed — so
    * every routed row of a batch prints, untruncated. */
  def startConsole(routed: DataFrame, checkpoint: String): StreamingQuery =
    routed.writeStream
      .format("console")
      .option("numRows", Int.MaxValue - 1) // show() fetches numRows + 1
      .option("truncate", false)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Pluggable sink target (the `NozzleProducer` seam, producer.go:14-26).
    * Implementations must be serializable — publish runs on executors. */
  trait Publisher extends Serializable {
    /** Deliver one (topic, payload); throw to signal failure. */
    def publish(topic: String, payload: String): Unit
  }

  /** Kafka-sink fault handling (O9/O10): per record, bounded retry up
    * to `repartitionMax` (kafka.go:230-275, default 5); exhausted
    * records land in the DLQ path with `publish_fail` accounting
    * instead of being silently dropped.
    *
    * A DSv2 streaming write ([[PublishSink]]): each micro-batch is one
    * Spark job whether or not records fail, and the sink plans nothing
    * of its own. Each task publishes its rows and writes the exhausted
    * ones to `part-<queryId>-<epochId>-<partitionId>.parquet` under
    * `dlqPath` when it commits (`queryId` is the id the checkpoint
    * keeps), so queries sharing `dlqPath` keep each other's rows, and
    * the DLQ path is touched only when a record failed. A restart that
    * replays an uncommitted epoch replaces its files and, on the
    * driver's first commit, deletes those of partitions the replay did
    * not rewrite. The counts are exact: `publish`/`publishFail` add the
    * committed tasks' commit messages before the epoch's commit-log
    * entry. */
  def startDlq(
      routed: DataFrame,
      checkpoint: String,
      publisher: Publisher,
      repartitionMax: Int,
      stats: Stats,
      dlqPath: String): StreamingQuery =
    PublishSink.start(routed, checkpoint, publisher, repartitionMax, stats, dlqPath)

  /** Streaming counter listener (O12/O13/O17): folds each progress
    * event's observed metrics into [[Stats]] and ticks the per-second
    * rates — the reference's display/ticker goroutines
    * (cli.go:241-262, stats.go:98-111). A socket source's close-1008
    * alerts arrive as a cumulative source metric; each event adds the
    * increase since the last value seen for that run and source. */
  final class Listener(stats: Stats) extends StreamingQueryListener {
    private val alertsSeen = mutable.Map.empty[(java.util.UUID, Int), Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      alertsSeen.filterInPlace { case ((run, _), _) => run != e.runId }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      e.progress.sources.zipWithIndex.foreach { case (src, k) =>
        Option(src.metrics).flatMap(ms =>
          Option(ms.get(FirehoseSocketSource.SlowConsumerAlertsMetric))).foreach { v =>
          val total = v.toLong
          val before = alertsSeen.put((e.progress.runId, k), total).getOrElse(0L)
          stats.slowConsumerAlert.addAndGet(total - before)
        }
      }
      val m = e.progress.observedMetrics
      if (m.containsKey("nozzle")) {
        val row = m.get("nozzle")
        def g(name: String): Long = row.getAs[Long](name)
        stats.consume.addAndGet(g("consume"))
        stats.consumeHttpStartStop.addAndGet(g("consume_http_start_stop"))
        stats.consumeValueMetric.addAndGet(g("consume_value_metric"))
        stats.consumeCounterEvent.addAndGet(g("consume_counter_event"))
        stats.consumeLogMessage.addAndGet(g("consume_log_message"))
        stats.consumeError.addAndGet(g("consume_error"))
        stats.consumeContainerMetric.addAndGet(g("consume_container_metric"))
        stats.consumeUnknown.addAndGet(g("consume_unknown"))
        stats.slowConsumerAlert.addAndGet(g("slow_consumer_alert"))
        // forwarded last: a reader that waits for ignored + forwarded
        // to reach the event total sees every other counter folded
        stats.ignored.addAndGet(g("ignored"))
        stats.forwarded.addAndGet(g("forwarded"))
        stats.tick()
      }
    }
  }
}
