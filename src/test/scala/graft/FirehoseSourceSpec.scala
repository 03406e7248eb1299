package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FirehoseSource
import graft.streaming.NozzlePipeline
import graft.streaming.NozzlePipeline.TopicConfig

/** O1 — the custom DataSource V2 MicroBatchStream firehose source. */
class FirehoseSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("registers by short name with the declared schema") {
    val df = spark.readStream.format("graft-firehose").load()
    assert(df.isStreaming)
    assert(df.schema === FirehoseSource.schema)
  }

  test("replays the deterministic feed in bounded micro-batches") {
    val q = spark.readStream.format("graft-firehose")
      .option("rowsPerBatch", 250)
      .option("totalRows", 1000)
      .option("partitions", 4)
      .load()
      .writeStream.format("memory").queryName("fh1")
      .option("checkpointLocation", tmp("fh-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("fh1")
    assert(got.count() === 1000)
    // rows are the pure function of index — spot-check a row
    val r7 = got.filter(col("event_id") === 7).head()
    assert(r7.getAs[Long]("ts_ns") === 1704067200000000000L + 7L * 1000000L)
    assert(r7.getAs[String]("event_type") === "signup") // types(7 % 5 = 2)
    assert(r7.getAs[String]("props") === """{"k": 7}""")
    // every event_id exactly once (no partition overlap or gaps)
    assert(got.select("event_id").distinct().count() === 1000)
    // at least 4 micro-batches happened (1000 / 250)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
  }

  test("checkpoint recovery resumes from the committed offset") {
    val ckpt = tmp("fh-ckpt2")
    def run(total: Int): Long = {
      val q = spark.readStream.format("graft-firehose")
        .option("rowsPerBatch", 500)
        .option("totalRows", total)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$ckpt/out")
        .option("checkpointLocation", s"$ckpt/cp")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$ckpt/out").count()
    }
    assert(run(1000) === 1000)
    // "more data arrives": restart with a larger horizon — only the
    // delta is read, previously committed rows are not re-emitted
    assert(run(1500) === 1500)
    val ids = spark.read.parquet(s"$ckpt/out").select("event_id").distinct().count()
    assert(ids === 1500, "duplicate or missing rows after recovery")
  }

  test("feeds the full nozzle pipeline end-to-end") {
    val cfg = TopicConfig(logMessageFmt = "log-%s", valueMetric = "metric-topic",
      counterEvent = "counter-topic", httpStartStop = "http-topic", error = "")
    val src = spark.readStream.format("graft-firehose")
      .option("rowsPerBatch", 500).option("totalRows", 1000).load()
    val q = NozzlePipeline.build(src, cfg)
      .writeStream.format("memory").queryName("fh_nozzle")
      .option("checkpointLocation", tmp("fh-ckpt3"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 1000 rows, types cycle through 5 values; 'error' (ids ≡ 4 mod 5)
    // is unrouted => 800 forwarded
    assert(spark.table("fh_nozzle").count() === 800)
    val one = spark.table("fh_nozzle").filter(col("event_id") === 0).head()
    assert(one.getAs[String]("topic").startsWith("log-app-"))
    assert(one.getAs[String]("payload").startsWith("""{"origin":"ev-click","eventType":5,"""))
  }
}
