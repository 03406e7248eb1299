package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TopicConfigT
import graft.streaming.NozzlePipeline

/** Golden output of the nozzle pipeline: the SHA-256 of
  * [[NozzlePipeline.build]]'s rows `(event_id, eventType, topic,
  * payload)`, sorted, over fixed inputs. The digests were taken from the
  * `when`/`struct` envelope assembly; any rewrite of the envelope,
  * router or encoder must reproduce them byte for byte. */
class NozzleGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.01"

  /** Every topic configured, templates on both per-app types, so every
    * known type's payload is encoded. */
  private val all = TopicConfigT(
    logMessageFmt = "log-%s", valueMetric = "metric", counterEvent = "counter",
    httpStartStopFmt = "http-%s", error = "err")

  /** The benchmark's shape: counter and error events are ignored. */
  private val bench = TopicConfigT(
    logMessageFmt = "log-%s", valueMetric = "metric", httpStartStopFmt = "http-%s")

  /** One line per row (NULL as `\N`), sorted, hashed. */
  private def digest(df: DataFrame): (Long, String) = {
    val lines = df.select("event_id", "eventType", "topic", "payload").collect()
      .map(r => (0 until 4).map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString)
        .mkString("\t"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Hand-made surrogate rows: every type, an unknown type and a NULL
    * type, each with all fields set and with one of user_id, props,
    * value and ts_ns NULL; non-ASCII and JSON-special props. */
  private def edgeFrame: DataFrame = {
    val types = Seq("click", "view", "signup", "purchase", "error", "bogus", null)
    val props = Seq("""{"k": 7}""", "héllo \"wörld\"\n\t\\ ✓", "")
    var id = 0L
    val rows = for {
      t <- types
      nulls <- Seq("", "user_id", "props", "value", "ts_ns")
      p <- props
    } yield {
      id += 1
      Row(id,
        if (nulls == "ts_ns") null else 1700000000123456789L + id,
        if (nulls == "user_id") null else -3L + id * 0x1234567L,
        t,
        if (nulls == "value") null else id * 1.25 + 0.1,
        if (nulls == "props") null else p)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts_ns", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
  }

  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(" ")

  test("build keeps its output columns, types and nullability") {
    val surrogate = "event_id:bigint:true eventType:int:false topic:string:true payload:string:false"
    assert(schemaOf(NozzlePipeline.build(Tables.events(spark, sf), bench)) === surrogate)
    assert(schemaOf(NozzlePipeline.build(edgeFrame, bench)) === surrogate)
    // a decoded frame's envelope may be NULL, and so may its eventType and payload
    val decoded = spark.range(3).select(col("id").as("event_id"),
      Functions.envelope_proto_decode(lit(Array[Byte](8, 5))).as("envelope"))
    assert(schemaOf(NozzlePipeline.fromEnvelopes(decoded, bench)) ===
      "event_id:bigint:false eventType:int:true topic:string:true payload:string:true")
  }

  test("build over the sf0.01 events table matches the golden digest") {
    val ev = Tables.events(spark, sf)
    assert(digest(NozzlePipeline.build(ev, all)) === (10000L,
      "2975a7b8c99fd84a550add99c5f0a76f0109589a525f9a77abb1cb880601ba08"))
    assert(digest(NozzlePipeline.build(ev, bench)) === (5969L,
      "195d657ef4616c247ab3a262ddbed3e4ec2fe19f0509cc325bb1bf8bc6594775"))
  }

  test("build over every type, an unknown and a NULL type, and NULL fields matches the golden digest") {
    assert(digest(NozzlePipeline.build(edgeFrame, all)) === (75L,
      "4fcf42f048c5e29e60781dc9ee8b7075ae89e63ed18e19c2123afe0830d0db6b"))
    assert(digest(NozzlePipeline.build(edgeFrame, bench)) === (45L,
      "e9673c2623e9d279855d78e52767a0e0f77ad12f5bc7de54d5e018a456de5a5f"))
  }

  test("interpreted evaluation matches the golden digest") {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(digest(NozzlePipeline.build(edgeFrame, all)) === (75L,
      "4fcf42f048c5e29e60781dc9ee8b7075ae89e63ed18e19c2123afe0830d0db6b"))
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
