package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IdempotentSink

/** The local file system under a scheme of its own, `graftprobe:`, which
  * resolves only where a Hadoop conf names this class for it. */
class ProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
  override def getScheme: String = "graftprobe"
}

/** Exactly-once side effects under batch replay: delete a batch's
  * commit marker from the checkpoint (the crash window between
  * execution and commit), restart, and the replayed batch must NOT
  * duplicate in the ledger — while a naive append sink demonstrably
  * does. */
class IdempotentSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("replayed micro-batch writes once through the idempotent sink, twice naively") {
    val srcDir = tmp("idem-src")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val ckpt = tmp("idem-ckpt")
    val ledger = tmp("idem-ledger")
    val naive = tmp("idem-naive")

    def run(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(s"$sf/events.parquet").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("event_id"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          IdempotentSink.parquetWriter(ledger)(batch, id)
          batch.write.mode("append").parquet(naive) // the anti-pattern, for contrast
        }
        .start()
      q.awaitTermination()
      q.stop() // release the checkpoint lease before the restart run
      val deadline = System.nanoTime() + 30_000_000_000L
      while (spark.streams.active.exists(_.id == q.id) && System.nanoTime() < deadline)
        Thread.sleep(100)
    }

    run() // batches 0 and 1 land

    // crash window: batch 1 executed (side effects happened) but its
    // commit marker never landed → streaming replays batch 1 with the
    // same offsets on restart
    val commit1 = Paths.get(ckpt, "commits", "1")
    assert(Files.exists(commit1), s"expected commit marker at $commit1")
    Files.delete(commit1)
    // the local checksum FS keeps a .crc sibling; a stale one makes
    // the commit-log rewrite look like a concurrent writer
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))

    run() // restart: batch 1 replays

    val expected = spark.read.parquet(s"$sf/events.parquet").count() * 2
    val ledgerN = IdempotentSink.read(spark, ledger).count()
    val naiveN = spark.read.parquet(naive).count()
    assert(ledgerN === expected,
      s"idempotent ledger diverged: $ledgerN vs $expected")
    assert(naiveN === expected + expected / 2,
      s"naive append should have duplicated the replayed batch: $naiveN")

    // torn batch: a directory with data files but no _SUCCESS marker
    // (crash mid-write, replay never happened) must be invisible to
    // readers — read() keeps only committed directories
    val torn = Paths.get(ledger, "batch_id=99")
    Files.createDirectories(torn)
    val anyPart = Files.list(Paths.get(ledger, "batch_id=0"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(anyPart, torn.resolve("part-torn.parquet"))
    assert(IdempotentSink.read(spark, ledger).count() === ledgerN,
      "uncommitted batch directory leaked into the ledger read")
  }

  test("layoutWriter: byte-bounded streaming landing is replay-idempotent, one file per leaf") {
    val ledger = tmp("idem-layout")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val writer = IdempotentSink.layoutWriter(ledger,
      Seq("lang"), "n_chars", "doc_id", targetBytes = 3000L)

    writer(docs, 0L) // batch 0 lands
    val once = spark.read.option("basePath", ledger)
      .parquet(s"$ledger/batch_id=0")
      .select("doc_id", "lang", "shard").collect().map(_.toString).sorted
    assert(once.length === docs.count())

    // committed batch replay (at-least-once side effects): the writer
    // must SKIP — directory bytes untouched
    val leaf0 = Files.walk(Paths.get(ledger)).iterator()
    var before = Set.empty[String]
    leaf0.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) before += p.toString + ":" + Files.getLastModifiedTime(p))
    writer(docs, 0L)
    var after = Set.empty[String]
    Files.walk(Paths.get(ledger)).iterator().forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) after += p.toString + ":" + Files.getLastModifiedTime(p))
    assert(after === before, "replay of a committed batch rewrote files")

    // torn batch replay: delete the commit marker, replay → the
    // overwrite converges on the SAME rows and the SAME file layout
    Files.delete(Paths.get(ledger, "batch_id=0", "_SUCCESS"))
    Files.deleteIfExists(Paths.get(ledger, "batch_id=0", "._SUCCESS.crc"))
    writer(docs, 0L)
    val again = spark.read.option("basePath", ledger)
      .parquet(s"$ledger/batch_id=0")
      .select("doc_id", "lang", "shard").collect().map(_.toString).sorted
    assert(again.sameElements(once), "torn-batch replay changed the layout")

    // every (lang, shard) leaf holds exactly one data file — the
    // per-batch small-files bound
    Files.walk(Paths.get(ledger)).iterator().forEachRemaining { p =>
      if (p.getFileName.toString.startsWith("shard=") && Files.isDirectory(p)) {
        val n = Files.list(p).iterator()
        var c = 0
        n.forEachRemaining(f => if (f.toString.endsWith(".parquet")) c += 1)
        assert(c === 1, s"leaf $p has $c data files")
      }
    }
  }

  test("sketch sidecars: replay-idempotent, union equals direct sketch of the ledger") {
    val ledger = tmp("idem-sketch")
    val h = expr(
      "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("event_type"), h.as("h"))
    val halves = Seq(ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    val writer = IdempotentSink.sketchWriter(ledger, Seq("event_type"), "h", 6,
      IdempotentSink.parquetWriter(ledger))
    writer(halves(0), 0L)
    writer(halves(1), 1L)
    writer(halves(0), 0L) // replay — both data and sidecar must no-op

    // any rollup off the sidecars, never rescanning the ledger rows:
    val merged = IdempotentSink.sketches(spark, ledger)
      .groupBy("event_type")
      .agg(graft.Functions.hll_union(col("regs"), 6).as("s"),
        sum(col("n_rows")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = IdempotentSink.read(spark, ledger)
      .groupBy("event_type")
      .agg(graft.Functions.hll_agg(col("h"), 6).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged === direct,
      "sidecar union diverged from the direct sketch of the landed rows")
  }

  test("compact: many batch dirs land once as the byte-bounded corpus; torn batches stay out") {
    val ledger = tmp("idem-compact-src")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val half = docs.filter(col("doc_id") % 2 === 0)
    val other = docs.filter(col("doc_id") % 2 === 1)
    val writer = IdempotentSink.layoutWriter(ledger,
      Seq("lang"), "n_chars", "doc_id", targetBytes = 3000L)
    writer(half, 0L)
    writer(other, 1L)
    // a torn third batch (no _SUCCESS) must not reach the compaction
    val torn = Paths.get(ledger, "batch_id=2")
    Files.createDirectories(torn)

    val out = tmp("idem-compact-out") + "/corpus"
    val manifest = IdempotentSink.compact(spark, ledger, out,
      Seq("lang"), "n_chars", "doc_id", targetBytes = 6000L)
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count(),
      "compaction lost or duplicated rows")
    assert(!back.columns.contains("batch_id"),
      "ledger bookkeeping column leaked into the compacted corpus")
    // compacted leaf dirs match the manifest's planned shard total
    val planned = manifest.agg(sum("n_shards")).head().getLong(0)
    var leaves = 0
    Files.walk(Paths.get(out)).iterator().forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("shard=") && Files.isDirectory(p))
        leaves += 1)
    assert(leaves.toLong === planned,
      s"compacted leaves $leaves != planned shards $planned")
  }

  test("the sink opens its file system with the session's Hadoop conf") {
    // set on the session only (a session conf reaches the Hadoop conf
    // under its own name): the SparkContext's Hadoop conf knows no
    // graftprobe scheme
    val key = "fs.graftprobe.impl"
    assert(spark.sparkContext.hadoopConfiguration.get("fs.graftprobe.impl") === null)
    spark.conf.set(key, classOf[ProbeFileSystem].getName)
    try {
      val ledger = "graftprobe://" + tmp("idem-probe")
      val batch = spark.range(5).toDF("event_id")
      IdempotentSink.parquetWriter(ledger)(batch, 0L)
      IdempotentSink.parquetWriter(ledger)(batch, 0L) // committed: skipped
      val back = IdempotentSink.read(spark, ledger)
      assert(back.select("event_id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    } finally spark.conf.unset(key)
  }
}
