package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NozzlePipeline

/** Sketch aggregates as streaming state: their buffers cross
  * micro-batches in the state store (RocksDB included). */
class StreamingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def stage(dir: String, name: String): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/$name"),
      StandardCopyOption.REPLACE_EXISTING)

  test("misra_gries sketch aggregates across micro-batches (streaming sketch)") {
    // the heavy-hitter sketch is a TypedImperativeAggregate: its
    // buffer must survive the streaming state store across batches,
    // and the final candidate set must keep the deterministic
    // superset guarantee the batch pass (q54) relies on
    val srcDir = tmp("mg-src")
    stage(srcDir, "part-0.parquet")
    stage(srcDir, "part-1.parquet")
    val q = NozzlePipeline.source(spark, srcDir)
      .groupBy()
      .agg(graft.Functions.misra_gries(col("event_type"), 3).as("cands"))
      .writeStream
      .format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("mg-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val last = spark.table("mg_stream").collect().last
      .getSeq[String](0).toSet
    // superset guarantee: every event_type above N/(capacity+1) of the
    // doubled stream must be among the streamed candidates
    val n = Tables.events(spark, sf).count() * 2
    val heavy = Tables.events(spark, sf)
      .groupBy("event_type").count()
      .filter(col("count") * 2 > n / 4)
      .collect().map(_.getString(0)).toSet
    assert(heavy.subsetOf(last),
      s"streamed sketch lost a guaranteed heavy hitter: $heavy vs $last")
  }

  private val cmsKey = conv(substring(md5(col("event_type")), 1, 15), 16, 10).cast("long")

  /** A one-group streaming cms_agg over two staged batches, Complete
    * mode: the sketch buffer lives in the state store between them. */
  private def cmsStream(name: String): StreamingQuery = {
    val srcDir = tmp(s"$name-src")
    stage(srcDir, "part-0.parquet")
    stage(srcDir, "part-1.parquet")
    val q = NozzlePipeline.source(spark, srcDir)
      .select(cmsKey.as("h"))
      .groupBy()
      .agg(graft.Functions.cms_agg(col("h"), 4, 64).as("c"))
      .writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp(s"$name-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  private def batchCms: Seq[Long] =
    Tables.events(spark, sf).union(Tables.events(spark, sf))
      .select(cmsKey.as("h"))
      .agg(graft.Functions.cms_agg(col("h"), 4, 64).as("c"))
      .collect()(0).getSeq[Long](0)

  test("cms_agg counters stream across micro-batches bit-identical to batch") {
    // CMS is fully deterministic and mergeable (elementwise add), so
    // the streamed sketch over two staged batches must equal the
    // batch sketch over the doubled stream EXACTLY — stronger than
    // Misra-Gries's superset guarantee
    cmsStream("cms_stream")
    val streamed = spark.table("cms_stream").collect().last.getSeq[Long](0)
    assert(streamed == batchCms, "streamed CMS diverged from the batch sketch")
  }

  test("stateful queries run on the RocksDB state store provider") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = cmsStream("rocks_cms")
      val streamed = spark.table("rocks_cms").collect().last.getSeq[Long](0)
      assert(streamed == batchCms, "RocksDB-backed CMS diverged from the batch sketch")
      assert(q.lastProgress.stateOperators.head
        .customMetrics.containsKey("rocksdbGetCount"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
