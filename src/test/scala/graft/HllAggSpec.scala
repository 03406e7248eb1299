package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL sketch properties: partition-invariance (the mergeable-state
  * contract — same S under any partitioning), estimate accuracy within
  * the published 1.04/√m envelope across cardinalities, duplicate
  * insensitivity, and the loud hash-domain guard. */
class HllAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def hashed(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("x").select(
      expr("cast(conv(substring(md5(cast(x as string)), 1, 15), 16, 10) as bigint)")
        .as("h"))
  }

  private def sOf(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(graft.Functions.hll_agg(col("h"), 6).as("s")).head().getLong(0)

  test("partition-invariant: 1, 7, and 32 partitions give the same S") {
    val base = hashed(5000).cache()
    try {
      val s1 = sOf(base.coalesce(1))
      val s7 = sOf(base.repartition(7))
      val s32 = sOf(base.repartition(32))
      assert(s1 === s7)
      assert(s1 === s32)
    } finally { base.unpersist(); () }
  }

  test("duplicate-insensitive: 10x-replicated input gives the same S") {
    import spark.implicits._
    val once = sOf(hashed(2000))
    val many = sOf(hashed(2000).crossJoin((1 to 10).toDF("r")).select("h"))
    assert(once === many)
  }

  test("estimate within the 1.04/sqrt(64) envelope across cardinalities") {
    Seq(500, 5000, 50000).foreach { n =>
      val s = sOf(hashed(n))
      val est = 0.709d * 4096.0d * 3.6028797018963968e16d / s.toDouble
      // 3 sigma = 3 * 1.04 / 8 = 39%
      assert(math.abs(est - n) < 0.39 * n, s"n=$n est=$est")
    }
  }

  test("streaming micro-batch sketch equals the batch sketch exactly") {
    // the mergeable-state contract extended across micro-batches: a
    // complete-mode streaming groupBy with hll_agg over N files must
    // produce the SAME integer S as one batch pass — register merge is
    // associative/commutative, so batch boundaries are invisible
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    val sf = "/root/testdata/sf0.001"
    val srcDir = Files.createTempDirectory("hll-src").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$srcDir/part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val hashCol = expr(
      "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
    val stream = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", 1) // force ≥2 micro-batches
      .parquet(srcDir)
      .select(col("event_type"), hashCol.as("h"))
      .groupBy("event_type")
      .agg(graft.Functions.hll_agg(col("h"), 6).as("s"))
    val q = stream.writeStream
      .format("memory").queryName("hllstream").outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("hll-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("hllstream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .select(col("event_type"), hashCol.as("h"))
      .groupBy("event_type")
      .agg(graft.Functions.hll_agg(col("h"), 6).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("sketch algebra: union of per-group hll_regs equals the direct sketch, any split") {
    // the q229 contract — union-of-sketches ≡ sketch-of-union, bit for
    // bit, no matter how the rows were grouped into sketches
    val base = hashed(5000).withColumn("g", pmod(col("h"), lit(13L))).cache()
    try {
      val direct = sOf(base)
      val merged = base.groupBy("g")
        .agg(graft.Functions.hll_regs(col("h"), 6).as("regs"))
        .agg(graft.Functions.hll_union(col("regs"), 6).as("s"))
        .head().getLong(0)
      assert(merged === direct)
      // a different grouping of the same rows merges to the same S
      val merged2 = base.withColumn("g2", pmod(col("h"), lit(3L)))
        .groupBy("g2")
        .agg(graft.Functions.hll_regs(col("h"), 6).as("regs"))
        .agg(graft.Functions.hll_union(col("regs"), 6).as("s"))
        .head().getLong(0)
      assert(merged2 === direct)
    } finally { base.unpersist(); () }
  }

  test("hll_union rejects a register width that does not match b") {
    import spark.implicits._
    val e = intercept[Exception] {
      hashed(100).agg(graft.Functions.hll_regs(col("h"), 6).as("regs"))
        .agg(graft.Functions.hll_union(col("regs"), 5)).head()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("must match")), msgs(e).mkString("; "))
  }

  test("each name accepts only its own input type, and fails analysis naming itself") {
    // hll_agg/hll_regs/hll_union share one register kernel: the mode
    // must not let one name fold the other mode's input
    import spark.implicits._
    val hashes = hashed(10)
    val regs = hashes.agg(graft.Functions.hll_regs(col("h"), 6).as("regs"))
    def analysisError(df: => org.apache.spark.sql.DataFrame): String =
      intercept[org.apache.spark.sql.AnalysisException](df).getMessage
    val u = analysisError(hashes.agg(graft.Functions.hll_union(col("h"), 6)))
    assert(u.contains("hll_union requires BINARY register input, got bigint"), u)
    val a = analysisError(regs.agg(graft.Functions.hll_agg(col("regs"), 6)))
    assert(a.contains("hll_agg requires BIGINT input, got binary"), a)
    val r = analysisError(regs.agg(graft.Functions.hll_regs(col("regs"), 6)))
    assert(r.contains("hll_regs requires BIGINT input, got binary"), r)
    // the same through SQL, and the shared b ∈ [4, 12] check names its caller
    Seq(1L).toDF("h").createOrReplaceTempView("hll_mode_h")
    val s = analysisError(spark.sql("SELECT hll_union(h, 6) FROM hll_mode_h"))
    assert(s.contains("hll_union requires BINARY register input"), s)
    val bad = analysisError(spark.sql("SELECT hll_regs(h, 13) FROM hll_mode_h"))
    assert(bad.contains("hll_regs b must be in [4, 12], got 13"), bad)
  }

  test("rejects hashes outside [0, 2^60) loudly") {
    import spark.implicits._
    val bad = Seq(-1L).toDF("h")
    val e = intercept[Exception] {
      bad.agg(graft.Functions.hll_agg(col("h"), 6)).head()
    }
    assert(e.getMessage.contains("md5-prefix") ||
      e.getCause != null && e.getCause.getMessage.contains("md5-prefix"))
  }
}
