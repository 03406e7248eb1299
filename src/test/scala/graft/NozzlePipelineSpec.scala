package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.config.GraftConfig
import graft.streaming.{NozzlePipeline, Stats}
import graft.streaming.NozzlePipeline.{Publisher, TopicConfig}

/** Executor-side publish log for the DLQ test. local[*] shares one JVM,
  * so a static object observes every partition's calls. */
object TestPublishLog {
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  val delivered = new ConcurrentHashMap[String, String]()
  def reset(): Unit = { attempts.clear(); delivered.clear() }
}

/** Fails the first `failFirst` attempts for topics in `flaky`; always
  * fails topics in `dead`. */
class FlakyPublisher(flaky: Set[String], dead: Set[String], failFirst: Int)
    extends Publisher {
  override def publish(topic: String, payload: String): Unit = {
    val n = TestPublishLog.attempts
      .computeIfAbsent(topic + "|" + payload.hashCode, _ => new AtomicInteger)
      .incrementAndGet()
    if (dead.contains(topic)) throw new RuntimeException("broker down")
    if (flaky.contains(topic) && n <= failFirst)
      throw new RuntimeException("transient")
    TestPublishLog.delivered.put(topic + "|" + payload.hashCode, topic)
  }
}

/** Fails metric-topic for good and, once one of its records has
  * exhausted repartitionMax = 5 retries, throws an AssertionError (not
  * an Exception, so not retried) on the next record of another topic. */
class DyingPublisher extends Publisher {
  override def publish(topic: String, payload: String): Unit =
    if (topic == "metric-topic") {
      val n = TestPublishLog.attempts
        .computeIfAbsent(payload, _ => new AtomicInteger).incrementAndGet()
      if (n > 5) DyingPublisher.exhausted.set(true)
      throw new RuntimeException("broker down")
    } else if (DyingPublisher.exhausted.get) throw new AssertionError(DyingPublisher.message)
}

object DyingPublisher {
  val message = "publisher bug"
  val exhausted = new java.util.concurrent.atomic.AtomicBoolean
}

/** Counts optimizer passes over the nozzle plan (the one that carries
  * `observe("nozzle", …)`), keyed by the micro-batch id the stream
  * thread runs under. Add it to `extraOptimizations` before the query
  * starts: a query optimizes with the rules its session had then. */
class NozzlePassCounter(sc: SparkContext) extends Rule[LogicalPlan] {
  val passes = new ConcurrentHashMap[String, AtomicInteger]()
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.exists { case c: CollectMetrics => c.name == "nozzle"; case _ => false })
      passes.computeIfAbsent(String.valueOf(sc.getLocalProperty("streaming.sql.batchId")),
        _ => new AtomicInteger).incrementAndGet()
    plan
  }
}

/** Counts Spark jobs per streaming micro-batch, keyed by the local
  * properties every job of a micro-batch carries (query id, batch id).
  * A marker job submitted after the query ends fences the listener bus:
  * once it is seen, every earlier job has been seen too. */
class StreamJobCounter extends SparkListener {
  private val jobs = new ConcurrentHashMap[(String, String), AtomicInteger]()
  @volatile private var marks = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty("graft.test.mark")).foreach(m => marks += m)
      val q = p.getProperty("sql.streaming.queryId")
      if (q != null)
        jobs.computeIfAbsent((q, p.getProperty("streaming.sql.batchId")),
          _ => new AtomicInteger).incrementAndGet()
    }

  /** Jobs started by each data micro-batch of `q`'s latest run. */
  def perDataBatch(spark: org.apache.spark.sql.SparkSession,
      q: StreamingQuery): Seq[Int] = {
    val mark = java.util.UUID.randomUUID.toString
    spark.sparkContext.setLocalProperty("graft.test.mark", mark)
    try spark.range(1).count() finally
      spark.sparkContext.setLocalProperty("graft.test.mark", null)
    val deadline = System.currentTimeMillis() + 10000
    while (!marks(mark) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(marks(mark), "listener bus did not deliver the marker job")
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(batches.nonEmpty)
    batches.toSeq.map { b =>
      Option(jobs.get((q.id.toString, b.toString))).fold(0)(_.get)
    }
  }
}

class NozzlePipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private val cfg = TopicConfig(
    logMessageFmt = "log-%s",
    valueMetric = "metric-topic",
    counterEvent = "counter-topic",
    httpStartStop = "http-topic",
    error = "") // not configured => Ignored drop

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def stageEventsFile(dir: String, name: String): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/$name"),
      StandardCopyOption.REPLACE_EXISTING)

  test("t1 end-to-end: source → route → encode → memory sink with stats") {
    val srcDir = tmp("nozzle-src")
    stageEventsFile(srcDir, "part-0.parquet")
    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    try {
      val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      val q = routed.writeStream.format("memory").queryName("nozzle_t1")
        .option("checkpointLocation", tmp("nozzle-ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the pipeline is stateless: no state-store operator in any batch
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty))

      val batch = Tables.events(spark, sf)
      val total = batch.count()
      val errors = batch.filter("event_type = 'error'").count()
      val unknown = batch
        .filter(!col("event_type").isin("click", "view", "signup", "purchase", "error"))
        .count()

      val sunk = spark.table("nozzle_t1")
      assert(sunk.count() === total - errors - unknown)
      // payloads are canonical envelope JSON, topic template applied
      val one = sunk.filter(col("topic").startsWith("log-app-")).head()
      assert(one.getAs[String]("payload").startsWith("""{"origin":"ev-click","eventType":5,"""))
      // listener folded observed metrics into the stats plane
      spark.streams.awaitAnyTermination(1000)
      eventually(stats.consume.get() === total)
      assert(stats.forwarded.get() === total - errors - unknown)
      // unknown-type events are Ignored too (kafka_test.go:290)
      assert(stats.ignored.get() === errors + unknown)
      assert(stats.consumeUnknown.get() === unknown)
      assert(stats.consumeLogMessage.get() ===
        batch.filter("event_type = 'click'").count())
      val snap = stats.json()
      assert(snap.contains("\"consume\":" + total))
    } finally spark.streams.removeListener(listener)
  }

  /** The optimized plan of a streaming frame's last micro-batch. */
  private def batchPlan(df: org.apache.spark.sql.DataFrame) = {
    val q = df.writeStream.format("noop").option("checkpointLocation", tmp("nozzle-ckpt-plan"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
  }

  /** The nozzle plan's shape: one `envelopes` node builds the envelope,
    * and `CollectMetrics` reads only narrow columns. */
  private def assertCompactPlan(df: org.apache.spark.sql.DataFrame,
      envelopes: Expression => Boolean): Unit = {
    val plan = batchPlan(df)
    val exprs = plan.flatMap(_.expressions)
    assert(exprs.flatMap(_.collect { case e if envelopes(e) => e }).size === 1, plan)
    val observed = plan.collect { case c: CollectMetrics if c.name == "nozzle" => c }
    assert(observed.size === 1, plan)
    val wide = observed.head.child.output.filter(_.dataType.isInstanceOf[StructType])
    assert(wide.isEmpty, s"struct columns cross observe: $wide")
    val typeCases = exprs.flatMap(_.collect {
      case c: CaseWhen if c.references.exists(_.name == "event_type") => c
    })
    assert(typeCases.isEmpty, s"CASE over event_type outside the envelope node: $typeCases")
  }

  test("plan: one envelope node, only narrow columns reach observe") {
    val srcDir = tmp("nozzle-src-plan")
    stageEventsFile(srcDir, "part-0.parquet")
    assertCompactPlan(NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg),
      _.isInstanceOf[graft.functions.SurrogateEnvelope])
    // the protobuf frame adapter's path (DetectorSpec's shape)
    val frames = tmp("nozzle-frames-plan")
    NozzlePipeline.withEnvelope(Tables.events(spark, sf))
      .select(col("event_id"), Functions.envelope_proto(col("envelope")).as("frame"))
      .write.mode("overwrite").parquet(frames)
    val stream = spark.readStream.schema(spark.read.parquet(frames).schema).parquet(frames)
      .select(col("event_id"), Functions.envelope_proto_decode(col("frame")).as("envelope"))
    assertCompactPlan(NozzlePipeline.fromEnvelopes(stream, cfg),
      _.isInstanceOf[graft.functions.EnvelopeProtoDecode])
  }

  test("checkpoint recovery: restart processes only new files (O20)") {
    val srcDir = tmp("nozzle-src2")
    val ckpt = tmp("nozzle-ckpt2")
    stageEventsFile(srcDir, "part-0.parquet")
    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    val dlqPath = tmp("nozzle-dlq-r") + "/dlq"
    val alwaysOk = new FlakyPublisher(Set.empty, Set.empty, 0)
    val jobs = new StreamJobCounter
    spark.sparkContext.addSparkListener(jobs)
    try {
      // memory sink can't recover from a checkpoint; the foreachBatch
      // sink (the real O9/O10 path) can.
      val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      val q1 = NozzlePipeline.startDlq(routed, ckpt, alwaysOk, 5, stats, dlqPath)
      q1.awaitTermination()
      // one publish pass per batch and no DLQ touch when nothing fails
      val perBatch1 = jobs.perDataBatch(spark, q1)
      assert(perBatch1.forall(_ <= 1), s"jobs per micro-batch: $perBatch1")
      val total = Tables.events(spark, sf).count()
      eventually(stats.consume.get() === total)

      // new file arrives; restart from the same checkpoint
      stageEventsFile(srcDir, "part-1.parquet")
      val routed2 = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      val q2 = NozzlePipeline.startDlq(routed2, ckpt, alwaysOk, 5, stats, dlqPath)
      q2.awaitTermination()
      val perBatch2 = jobs.perDataBatch(spark, q2)
      assert(perBatch2.forall(_ <= 1), s"jobs per micro-batch: $perBatch2")
      // only the new file was consumed — 2×total, not 3×total
      eventually(stats.consume.get() === 2 * total)
      eventually(stats.publish.get() === stats.forwarded.get())
      assert(stats.publishFail.get() === 0)
      assert(!new java.io.File(dlqPath).exists())
    } finally {
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("DLQ: bounded retry recovers transients, exhausted records land in DLQ (O10)") {
    val srcDir = tmp("nozzle-src3")
    stageEventsFile(srcDir, "part-0.parquet")
    val dlqPath = tmp("nozzle-dlq") + "/dlq"
    TestPublishLog.reset()
    val stats = new Stats(0)
    val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
    // metric-topic is permanently down; counter-topic fails twice then
    // recovers (inside repartitionMax=5, kafka.go:20-26)
    val publisher = new FlakyPublisher(
      flaky = Set("counter-topic"), dead = Set("metric-topic"), failFirst = 2)
    val jobs = new StreamJobCounter
    spark.sparkContext.addSparkListener(jobs)
    val optimizer = new NozzlePassCounter(spark.sparkContext)
    spark.experimental.extraOptimizations :+= optimizer
    val (perBatch, sink, batches) = try {
      val q = NozzlePipeline.startDlq(routed, tmp("nozzle-ckpt3"), publisher,
        repartitionMax = 5, stats, dlqPath)
      q.awaitTermination()
      (jobs.perDataBatch(spark, q), q.lastProgress.sink.description,
        q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSet)
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq optimizer)
    }
    // one job publishes and writes the DLQ rows, nothing else
    assert(perBatch.forall(_ == 1), s"jobs per micro-batch: $perBatch")
    // the plan is optimized at most three times per micro-batch
    val passes = optimizer.passes.asScala.map { case (b, n) => b -> n.get }.toMap
    assert(passes.keySet === batches, passes)
    assert(passes.values.forall(_ <= 3), s"optimizer passes per micro-batch: $passes")
    assert(!sink.contains("ForeachBatchSink"), sink)

    val batch = Tables.events(spark, sf)
    val views = batch.filter("event_type = 'view'").count()
    val routedN = batch
      .filter(col("event_type").isin("click", "view", "signup", "purchase"))
      .count()
    assert(stats.publishFail.get() === views)
    assert(stats.publish.get() === routedN - views)
    val dlq = spark.read.parquet(dlqPath)
    assert(dlq.count() === views)
    assert(dlq.select("topic").distinct().collect().map(_.getString(0)).toSet
      === Set("metric-topic"))
    // each DLQ row carries the payload the pipeline built for its event
    val built = NozzlePipeline.build(Tables.events(spark, sf), cfg)
      .select(col("event_id"), col("payload").as("built"))
    assert(dlq.columns.toSeq === Seq("event_id", "topic", "payload"))
    val joined = dlq.join(built, Seq("event_id"), "left")
    assert(joined.count() === views)
    assert(joined.filter(!(col("payload") <=> col("built"))).count() === 0)
  }

  test("a NozzleApp drain forks no process per micro-batch") {
    val srcDir = tmp("nozzle-src-fork")
    (0 until 4).foreach(i => stageEventsFile(srcDir, s"part-$i.parquet"))
    val base = tmp("nozzle-app-fork")
    val app = {
      val basic = GraftConfig.load("fixtures/basic.toml").toOption.get
      basic.copy(kafka = basic.kafka.copy(topic = cfg))
    }
    val source = NozzlePipeline.source(spark, srcDir)
    val dead = new FlakyPublisher(Set.empty, dead = Set("metric-topic"), 0)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val running = try {
      val r = NozzleApp.start(spark, app, source, s"$base/ck", s"$base/dlq",
        publisher = Some(dead), statsIntervalMs = 0)
      r.awaitTermination()
      r
    } finally recording.stop()
    val jfr = Files.createTempFile("nozzle-fork", ".jfr")
    val events = try {
      running.shutdown()
      recording.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toSeq
    } finally {
      recording.close()
      Files.delete(jfr)
    }
    assert(running.query.recentProgress.count(_.numInputRows > 0) === 4)
    // the failed records went to DLQ files
    val views = Tables.events(spark, sf).filter("event_type = 'view'").count()
    assert(spark.read.parquet(s"$base/dlq").count() === 4 * views)
    val forks = events.filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))).map(_.getString("command"))
    assert(forks.isEmpty, s"${forks.size} Hadoop shell forks")
  }

  /** DLQ event ids, in file order; empty when the DLQ path was never made. */
  private def dlqIds(dlqPath: String): Seq[Long] =
    if (!new java.io.File(dlqPath).exists()) Nil
    else spark.read.parquet(dlqPath).select("event_id").collect().map(_.getLong(0)).toSeq

  test("DLQ: a replayed epoch rewrites its DLQ rows instead of appending them again") {
    val srcDir = tmp("nozzle-src4")
    stageEventsFile(srcDir, "part-0.parquet")
    val ckpt = tmp("nozzle-ckpt4")
    val dlqPath = tmp("nozzle-dlq4") + "/dlq"
    val dead = new FlakyPublisher(Set.empty, dead = Set("metric-topic"), 0)
    def drain(): Unit = NozzlePipeline.startDlq(
      NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg),
      ckpt, dead, 5, new Stats(0), dlqPath).awaitTermination()
    drain()
    val first = dlqIds(dlqPath)
    val views = Tables.events(spark, sf).filter("event_type = 'view'").count()
    assert(first.size === views)
    // the crash window: the batch ran but its commit-log entry is lost,
    // so the restarted query runs the same epoch again
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete())
    // and the earlier run had a partition the replay will not have: its
    // file (a copy of a real one) must not survive the replay
    val written = new java.io.File(dlqPath).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    val (stem, part) = written.map { n =>
      val i = n.lastIndexOf('-')
      (n.take(i), n.slice(i + 1, n.length - ".parquet".length).toInt)
    }.max
    Files.copy(Paths.get(dlqPath, s"$stem-$part.parquet"),
      Paths.get(dlqPath, s"$stem-${part + 1000}.parquet"))
    assert(dlqIds(dlqPath).size > first.size)
    drain()
    val again = dlqIds(dlqPath)
    assert(again.size === again.distinct.size, "a replayed epoch duplicated DLQ rows")
    assert(again.toSet === first.toSet)
  }

  test("DLQ: queries that share a DLQ path keep each other's rows") {
    val srcDir = tmp("nozzle-src6")
    stageEventsFile(srcDir, "part-0.parquet")
    val dlqPath = tmp("nozzle-dlq6") + "/dlq"
    val dead = new FlakyPublisher(Set.empty, dead = Set("metric-topic"), 0)
    val listeners = spark.streams.listListeners().length
    // a fresh checkpoint each time: epoch ids start again at 0
    def drain(): Unit = NozzlePipeline.startDlq(
      NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg),
      tmp("nozzle-ckpt6"), dead, 5, new Stats(0), dlqPath).awaitTermination()
    drain()
    val first = dlqIds(dlqPath)
    val views = Tables.events(spark, sf).filter("event_type = 'view'").count()
    assert(first.size === views)
    drain()
    val both = dlqIds(dlqPath)
    assert(both.size === 2 * views)
    assert(both.groupBy(identity).values.forall(_.size == 2))
    assert(both.toSet === first.toSet)
    // each query's sink is closed, and its listener removed, once it ends
    eventually(spark.streams.listListeners().length == listeners)
  }

  test("DLQ: a task that dies on a non-Exception publishes nothing to the DLQ") {
    val srcDir = tmp("nozzle-src5")
    stageEventsFile(srcDir, "part-0.parquet")
    val dlqPath = tmp("nozzle-dlq5") + "/dlq"
    TestPublishLog.reset()
    DyingPublisher.exhausted.set(false)
    val stats = new Stats(0)
    val q = NozzlePipeline.startDlq(
      NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg),
      tmp("nozzle-ckpt5"), new DyingPublisher, 5, stats, dlqPath)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[AssertionError] &&
      c.getMessage == DyingPublisher.message), e)
    // a record had failed for good, so the dying task had opened its DLQ file
    assert(DyingPublisher.exhausted.get)
    val dir = new java.io.File(dlqPath)
    assert(dir.isDirectory)
    val left = Option(dir.listFiles()).fold(Seq.empty[String])(_.map(_.getName).toSeq)
    assert(!left.exists(n => n.startsWith("part-") || n.endsWith(".tmp")), left)
    assert(stats.publish.get() === 0)
    assert(stats.publishFail.get() === 0)
  }

  test("source: an empty replay dir gets the events schema; a corrupt footer fails in source()") {
    val empty = tmp("nozzle-empty")
    assert(NozzlePipeline.source(spark, empty).columns.contains("ts_ns"))
    val missing = intercept[org.apache.spark.sql.AnalysisException](
      NozzlePipeline.source(spark, empty + "/absent"))
    assert(missing.getCondition === "PATH_NOT_FOUND")
    // a *.parquet that is not parquet must not be mistaken for an empty
    // replay dir (and only surface later, inside the running query)
    val bad = tmp("nozzle-bad")
    Files.write(Paths.get(bad, "part-0.parquet"), "not parquet".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException](NozzlePipeline.source(spark, bad))
    assert(e.getMessage.contains("CANNOT_READ_FILE_FOOTER"), e)
  }

  private def eventually(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }
}
