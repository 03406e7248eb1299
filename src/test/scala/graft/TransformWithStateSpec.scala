package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.UserProfile

/** Spark 4 arbitrary-state API (`transformWithState`): the per-user
  * profile's cross-batch fixpoint must equal the batch aggregate
  * bit-for-bit, whatever the micro-batch boundaries — integer adds
  * are associative, so state carried through the RocksDB store across
  * batches loses nothing. */
class TransformWithStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("transformWithState profile across micro-batches equals the batch aggregate") {
    val srcDir = tmp("tws-src")
    // two files + maxFilesPerTrigger=1 → at least two micro-batches,
    // so per-user state genuinely crosses a batch boundary
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema(Tables.events(spark, sf).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = UserProfile.profiles(stream.toDF())
        .writeStream.format("memory").queryName("tws")
        .outputMode("update")
        .option("checkpointLocation", tmp("tws-ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      // update mode emits one row per touched user per batch; the
      // LAST emission per user (max n — counts only grow) is the
      // final state
      val finalRows = spark.table("tws")
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("cents"), col("purchases"))).as("s"))
        .select(col("user_id"), col("s.n"), col("s.cents"), col("s.purchases"))

      val one = Tables.events(spark, sf)
      val expect = one.union(one)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(when(col("event_type") === "purchase", 1)).as("purchases"))

      assert(finalRows.count() === expect.count(), "user set mismatch")
      assert(finalRows.exceptAll(expect).isEmpty && expect.exceptAll(finalRows).isEmpty,
        "cross-batch profile diverged from the batch aggregate")
      // state persisted ACROSS batches: some user was emitted by two or
      // more batches, each carrying its then-accumulated total
      assert(spark.table("tws").groupBy("user_id").count()
        .filter(col("count") >= 2).count() > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("state survives a query RESTART: resumed profile equals the batch aggregate") {
    // stop the query entirely, add more data, start a NEW query on the
    // same checkpoint — the RocksDB state must carry the per-user
    // counters across the restart (the durability half of the
    // arbitrary-state contract; the first test only proves
    // cross-batch carry within one run)
    val srcDir = tmp("twsr-src")
    val ckpt = tmp("twsr-ckpt")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // memory sink refuses checkpoint recovery — the ledger sink is
      // the restart-capable one (and reuses the exactly-once writer)
      val ledger = tmp("twsr-ledger")
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema(Tables.events(spark, sf).schema)
          .parquet(srcDir)
        val q = UserProfile.profiles(stream.toDF()).toDF()
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(graft.streaming.IdempotentSink.parquetWriter(ledger))
          .start()
        q.awaitTermination()
        q.stop()
        val deadline = System.nanoTime() + 30_000_000_000L
        while (spark.streams.active.exists(_.id == q.id) && System.nanoTime() < deadline)
          Thread.sleep(100)
      }
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
      runOnce()
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$srcDir/part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      runOnce() // restart: state must resume, not reset

      val finalRows = graft.streaming.IdempotentSink.read(spark, ledger)
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("cents"), col("purchases"))).as("s"))
        .select(col("user_id"), col("s.n"), col("s.cents"), col("s.purchases"))
      val one = Tables.events(spark, sf)
      val expect = one.union(one)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(when(col("event_type") === "purchase", 1)).as("purchases"))
      assert(finalRows.exceptAll(expect).isEmpty && expect.exceptAll(finalRows).isEmpty,
        "restarted profile diverged — state did not survive the restart")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("event-time timers close idle sessions once, with exact batch-equal stats") {
    val srcDir = tmp("twst-src")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapMs = 60_000L
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$sf/events.parquet").schema)
        .parquet(srcDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = UserProfile.idleSessions(stream.toDF(), gapMs)
        .writeStream.format("memory").queryName("twst")
        .outputMode("append")
        .option("checkpointLocation", tmp("twst-ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val closed = spark.table("twst")
      assert(closed.count() > 0, "no idle sessions closed — timers never fired")
      assert(closed.groupBy("user_id").count().filter(col("count") > 1).count() === 0,
        "a session closed twice")

      // every closed row must carry the user's EXACT batch profile
      val expect = Tables.events(spark, sf)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          min(expr("ts_ns div 1000000")).as("first_ms"),
          max(expr("ts_ns div 1000000")).as("last_ms"))
      assert(closed.join(expect, Seq("user_id", "n", "first_ms", "last_ms"), "left_anti")
        .count() === 0, "closed session stats diverge from the batch profile")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
