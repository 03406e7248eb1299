package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.streaming.{NozzlePipeline, Stats}

/** O4 — slow-consumer detector: predicate parity with go-nozzle
  * detector.go:116-124, and its count in the production pipeline's
  * `observe` ([[NozzlePipeline.fromEnvelopes]]). */
class DetectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def empty = Envelope(None, None, None, None, None, None, None,
    None, None, None, None, None, None, None)

  private def truncation = empty.copy(
    origin = Some("doppler"), eventType = Some(7), timestamp = Some(1L),
    counterEvent = Some(CounterEvent(
      Some("TruncatingBuffer.DroppedMessages"), Some(5L), Some(10L))))

  test("isTruncated predicate matches only the truncation signal") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      truncation -> true,
      // wrong origin
      truncation.copy(origin = Some("router")) -> false,
      // wrong counter name
      truncation.copy(counterEvent =
        Some(CounterEvent(Some("other"), None, None))) -> false,
      // wrong event type (LogMessage)
      empty.copy(origin = Some("doppler"), eventType = Some(5)) -> false)
    val df = cases.map(_._1).toDS().toDF()
    val env = struct(df.columns.map(col): _*)
    val got = df.select(NozzlePipeline.isTruncatedExpr(env).as("alert"))
      .collect().map(r => r.getBoolean(0))
    assert(got.toSeq === cases.map(_._2))
  }

  test("main query's observe counts truncation events (detector.go:36-102)") {
    val spark2 = spark
    import spark2.implicits._
    // stage an envelope-shaped parquet source: 3 truncations + noise
    val rows = Seq(truncation, truncation, truncation,
      truncation.copy(origin = Some("router")),
      empty.copy(origin = Some("x"), eventType = Some(5)))
    val srcDir = Files.createTempDirectory("detector-src").toString
    val staged = rows.toDS().toDF().withColumn("event_id", monotonically_increasing_id())
    staged.write.mode("overwrite").parquet(srcDir)
    val envFields = rows.toDS().schema.fieldNames
    val stream = spark.readStream.schema(staged.schema).parquet(srcDir)
      .select(col("event_id"), struct(envFields.map(col): _*).as("envelope"))
    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    try {
      val q = NozzlePipeline.fromEnvelopes(stream,
          NozzlePipeline.TopicConfig(counterEvent = "counter"))
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("detector-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the listener folds `forwarded` last: once it lands, so has the rest
      // (the detector is a pass-through: every counter event still routes)
      eventually(stats.forwarded.get() === 4)
      assert(stats.consume.get() === 5)
      assert(stats.slowConsumerAlert.get() === 3)
    } finally spark.streams.removeListener(listener)
  }

  private def eventually(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }
}
