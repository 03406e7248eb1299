package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The dropsonde protobuf wire codec (O2's true input format) —
  * golden wire bytes, 300-case fuzz round-trip, malformed-frame
  * policy, and cross-codec consistency with the JSON encoder.
  */
class EnvelopeProtoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val gen = new EnvelopeGen(20260813)

  private def encodeDF(envs: Seq[Envelope]) = {
    val spark2 = spark
    import spark2.implicits._
    val df = envs.toDS().toDF()
    df.select(Functions.envelope_proto(struct(df.columns.map(col): _*)).as("p"))
  }

  test("golden wire bytes: LogMessage envelope (hand-assembled per the proto spec)") {
    val env = Envelope(
      origin = Some("fake-origin"), eventType = Some(5), timestamp = None,
      deployment = None, job = None, index = None, ip = None, tags = None,
      httpStartStop = None,
      logMessage = Some(LogMessage(
        message = Some("hello".getBytes("UTF-8")),
        message_type = Some(1), timestamp = Some(123L),
        app_id = None, source_type = None, source_instance = None)),
      valueMetric = None, counterEvent = None, error = None,
      containerMetric = None)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(env).toDS().toDF()
    val bytes = df
      .select(Functions.envelope_proto(struct(df.columns.map(col): _*)).as("p"))
      .head().getAs[Array[Byte]]("p")
    // field 1 (origin, len-delim): 0A 0B "fake-origin"
    // field 2 (eventType, varint): 10 05
    // field 8 (logMessage, len-delim): 42 0B
    //   inner: 0A 05 "hello" | 10 01 | 18 7B
    val expected = Array[Int](
      0x0a, 0x0b) ++ "fake-origin".getBytes("UTF-8").map(_ & 0xff) ++ Array[Int](
      0x10, 0x05,
      0x42, 0x0b,
      0x0a, 0x05) ++ "hello".getBytes("UTF-8").map(_ & 0xff) ++ Array[Int](
      0x10, 0x01, 0x18, 0x7b)
    assert(bytes.map(_ & 0xff).toSeq === expected.toSeq)
  }

  /** Space-separated hex bytes plus `"text"` runs for ASCII, e.g.
    * `0a 01 "o"` — the expected frames below are assembled by hand. */
  private def wire(spec: String): Seq[Int] =
    """"[^"]*"|\S+""".r.findAllIn(spec).toSeq.flatMap { t =>
      if (t.startsWith("\"")) t.drop(1).dropRight(1).getBytes("UTF-8").map(_ & 0xff).toSeq
      else Seq(Integer.parseInt(t, 16))
    }

  test("golden wire bytes: HttpStartStop, ValueMetric, CounterEvent, Error, ContainerMetric (hand-assembled, fully populated)") {
    val spark2 = spark
    import spark2.implicits._
    def full(eventType: Int, hss: Option[HttpStartStop] = None,
        vm: Option[ValueMetric] = None, ce: Option[CounterEvent] = None,
        er: Option[ErrorEvent] = None, cm: Option[ContainerMetric] = None) =
      Envelope(origin = Some("o"), eventType = Some(eventType), timestamp = Some(300L),
        deployment = Some("d"), job = Some("j"), index = Some("0"), ip = Some("ip"),
        tags = Some(Map("a" -> "x", "b" -> "")),
        httpStartStop = hss, logMessage = None, valueMetric = vm,
        counterEvent = ce, error = er, containerMetric = cm)
    // origin=1 "o" | eventType=2 | timestamp=6 varint(300) = ac 02
    def head(eventType: Int) = s"""0a 01 "o"  10 0$eventType  30 ac 02"""
    // deployment=13 (6a) | job=14 (72) | index=15 (7a) | ip=16 (82 01)
    // | tags=17 (8a 01): {1:"a", 2:"x"}, then {1:"b", 2:""} — the empty
    // value is still written
    val tail = """6a 01 "d"  72 01 "j"  7a 01 "0"  82 01 02 "ip"
      8a 01 06 0a 01 "a" 12 01 "x"  8a 01 05 0a 01 "b" 12 00"""
    val cases = Seq(
      "HttpStartStop" -> (full(4, hss = Some(HttpStartStop(
        startTimestamp = Some(1L), stopTimestamp = Some(2L),
        requestId = Some(Uuid(1L, 2L)), peerType = Some(1), method = Some(3),
        uri = Some("/u"), remoteAddress = Some("r"), userAgent = Some("ua"),
        statusCode = Some(200), contentLength = Some(42L),
        applicationId = Some(Uuid(3L, 4L)), instanceIndex = Some(-1),
        instanceId = Some("i"), forwarded = Some(Seq("f1", "f2"))))),
        // httpStartStop=7 (3a), 58 bytes: start=1 | stop=2 | requestId=3
        // {1, 2} | peerType=4 | method=5 | uri=6 | remoteAddress=7 |
        // userAgent=8 | statusCode=9 varint(200) = c8 01 | contentLength=10
        // | applicationId=12 {3, 4} | instanceIndex=13 -1 as a 10-byte
        // varint | instanceId=14 | forwarded=15 twice, unpacked
        """3a 3a  08 01  10 02  1a 04 08 01 10 02  20 01  28 03  32 02 "/u"
          3a 01 "r"  42 02 "ua"  48 c8 01  50 2a  62 04 08 03 10 04
          68 ff ff ff ff ff ff ff ff ff 01  72 01 "i"  7a 02 "f1"  7a 02 "f2""""),
      "ValueMetric" -> (full(6, vm = Some(ValueMetric(Some("v"), Some(2.5), Some("ms")))),
        // valueMetric=9 (4a), 16 bytes: name=1 | value=2 fixed64 of
        // doubleToLongBits(2.5) = 0x4004000000000000, little-endian | unit=3
        """4a 10  0a 01 "v"  11 00 00 00 00 00 00 04 40  1a 02 "ms""""),
      "CounterEvent" -> (full(7, ce = Some(CounterEvent(Some("c"), Some(5L),
        Some(Long.MinValue + 1)))),
        // counterEvent=10 (52), 16 bytes: name=1 | delta=2 | total=3 =
        // uint64 2^63+1, above Long.MaxValue
        """52 10  0a 01 "c"  10 05  18 81 80 80 80 80 80 80 80 80 01"""),
      "Error" -> (full(8, er = Some(ErrorEvent(Some("s"), Some(7), Some("m")))),
        // error=11 (5a), 8 bytes: source=1 | code=2 | message=3
        """5a 08  0a 01 "s"  10 07  1a 01 "m""""),
      "ContainerMetric" -> (full(9, cm = Some(ContainerMetric(
        applicationId = Some("a"), instanceIndex = Some(-3), cpuPercentage = Some(0.1),
        memoryBytes = Some(-1L), diskBytes = Some(1024L),
        memoryBytesQuota = Some(2048L), diskBytesQuota = Some(1L)))),
        // containerMetric=12 (62), 42 bytes: applicationId=1 |
        // instanceIndex=2 -3 sign-extended | cpuPercentage=3 fixed64 of
        // 0.1 = 0x3fb999999999999a | memoryBytes=4 uint64 2^64-1 |
        // diskBytes=5 varint(1024) | memoryBytesQuota=6 varint(2048) |
        // diskBytesQuota=7
        """62 2a  0a 01 "a"  10 fd ff ff ff ff ff ff ff ff 01
          19 9a 99 99 99 99 99 b9 3f  20 ff ff ff ff ff ff ff ff ff 01
          28 80 08  30 80 10  38 01"""))
    cases.foreach { case (name, (env, payload)) =>
      val expected = wire(head(env.eventType.get) + " " + payload + " " + tail)
      val got = encodeDF(Seq(env)).head().getAs[Array[Byte]]("p")
      assert(got.map(_ & 0xff).toSeq === expected, s"$name: encode")
      val back = Seq(expected.map(_.toByte).toArray).toDF("p")
        .select(Functions.envelope_proto_decode(col("p")).as("e"))
        .select("e.*").as[Envelope].head()
      assert(back === env, s"$name: decode")
    }
  }

  test("proto encode -> decode round-trips 300 random envelopes") {
    val spark2 = spark
    import spark2.implicits._
    val envs = Seq.fill(300)(gen.envelope())
    val decoded = encodeDF(envs)
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
      .select("e.*").as[Envelope].collect().toSeq
    assert(decoded.length === envs.length)
    decoded.zip(envs).zipWithIndex.foreach { case ((got, want), i) =>
      assert(gen.key(got) === gen.key(want), s"proto fuzz case $i diverged")
    }
  }

  test("unsigned 64-bit varints survive the wire (u64 > Long.MaxValue)") {
    val spark2 = spark
    import spark2.implicits._
    val env = Envelope(
      origin = Some("o"), eventType = Some(7), timestamp = None,
      deployment = None, job = None, index = None, ip = None, tags = None,
      httpStartStop = None, logMessage = None, valueMetric = None,
      counterEvent = Some(CounterEvent(Some("c"),
        delta = Some(-1L), total = Some(Long.MinValue))), // 2^64-1, 2^63
      error = None, containerMetric = None)
    val got = encodeDF(Seq(env))
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
      .select("e.counterEvent.delta", "e.counterEvent.total").head()
    assert(got.getLong(0) === -1L)
    assert(got.getLong(1) === Long.MinValue)
  }

  test("malformed frames decode to NULL (proto.Unmarshal skip policy)") {
    val spark2 = spark
    import spark2.implicits._
    val good = encodeDF(Seq(gen.envelope())).head().getAs[Array[Byte]]("p")
    val bad = Seq(
      Array[Byte](0x0a, 0x7f, 1, 2), // length past end
      Array[Byte](0x0f.toByte), // field 1, wire type 7 (invalid)
      Array.fill(6)(0xff.toByte), // unterminated varint / nonsense
      good.dropRight(1), // truncated tail
      // field 2^32+1 (wire type 2, "x"): above 2^31-1, so not an alias of
      // field 1 (origin) but a frame no proto encoder writes
      Array[Byte](0x8a.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x01, 0x01, 'x'),
      // field 0 (wire type 2, "x"), then origin "o": protowire.ConsumeTag
      // rejects field numbers below 1, so the frame is not a row
      Array[Byte](0x02, 0x01, 'x', 0x0a, 0x01, 'o'))
    val decoded = bad.toDF("p")
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
    assert(decoded.filter(col("e").isNull).count() === bad.length)
  }

  test("near-2^63 length varint fails fast as NULL instead of looping (overflow guard)") {
    val spark2 = spark
    import spark2.implicits._
    // tag 0x3A = field 7 wiretype 2, then varint(2^63 - 10): `pos + n`
    // wraps negative, so a naive `pos + n > end` guard admits the frame and
    // the decoder walks backwards forever. The overflow-safe guard must
    // reject it immediately.
    def varintBytes(v: Long): Array[Byte] = {
      var x = v; val b = scala.collection.mutable.ArrayBuffer[Byte]()
      while ((x & ~0x7fL) != 0) { b += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      b += x.toByte; b.toArray
    }
    val crafted = Array[Byte](0x3a.toByte) ++ varintBytes(Long.MaxValue - 9)
    assert(crafted.length === 10)
    val deadline = System.nanoTime() + 10_000_000_000L
    val decoded = Seq(crafted).toDF("p")
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
      .head()
    assert(decoded.isNullAt(0))
    assert(System.nanoTime() < deadline, "decode did not terminate promptly")
  }

  test("known field with wrong wire type rejects the frame (proto.Unmarshal parity)") {
    val spark2 = spark
    import spark2.implicits._
    val bad = Seq(
      Array[Byte](0x08, 0x05), // field 1 (origin, declared len-delim) as varint
      Array[Byte](0x40, 0x01), // field 8 (logMessage, len-delim) as varint
      // field 9 (valueMetric) len-delim wrapping field 2 (value, fixed64) as varint
      Array[Byte](0x4a, 0x02, 0x10, 0x01))
    val decoded = bad.toDF("p")
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
    assert(decoded.filter(col("e").isNull).count() === bad.length)
  }

  test("sparse tags map entries default to Go zero value \"\"") {
    val spark2 = spark
    import spark2.implicits._
    // field 17 (tags) = tag varint 0x8A 0x01; entry with key only, then one
    // with value only — Go proto materializes the absent side as "".
    val keyOnly = Array[Byte](0x8a.toByte, 0x01, 0x03, 0x0a, 0x01, 'k')
    val valOnly = Array[Byte](0x8a.toByte, 0x01, 0x03, 0x12, 0x01, 'v')
    val got = Seq(keyOnly, valOnly).toDF("p")
      .select(Functions.envelope_proto_decode(col("p")).as("e"))
      .select(col("e.tags").as("t"))
      .collect().map(_.getMap[String, String](0).toMap).toSeq
    assert(got === Seq(Map("k" -> ""), Map("" -> "v")))
  }

  test("cross-codec consistency: proto and JSON codecs agree on every field") {
    val envs = Seq.fill(100)(gen.envelope())
    val viaProto = encodeDF(envs)
      .select(Functions.envelope_json(
        Functions.envelope_proto_decode(col("p"))).as("j"))
      .collect().map(_.getString(0)).toSeq
    val spark2 = spark
    import spark2.implicits._
    val df = envs.toDS().toDF()
    val direct = df
      .select(Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"))
      .collect().map(_.getString(0)).toSeq
    assert(viaProto === direct)
  }

  test("proto frames drive the streaming pipeline end-to-end (O2 true format)") {
    import graft.streaming.NozzlePipeline
    import graft.streaming.NozzlePipeline.TopicConfig
    val spark2 = spark
    import spark2.implicits._
    val cfg = TopicConfig(logMessageFmt = "log-%s", valueMetric = "metric",
      counterEvent = "counter", containerMetric = "cm", httpStartStop = "http",
      error = "")

    val envs = Seq.fill(60)(gen.envelope())
    val frames = encodeDF(envs).collect().map(_.getAs[Array[Byte]]("p"))

    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Array[Byte]](spark, 1)
    val routed = ms.toDF()
      .select(Functions.envelope_proto_decode(col("value")).as("envelope"))
      .filter(col("envelope").isNotNull) // DROPMALFORMED
      .select(
        NozzlePipeline.routeExpr(cfg, col("envelope")).as("topic"),
        Functions.envelope_json(col("envelope")).as("payload"))
      .filter(col("topic").isNotNull)
    val q = routed.writeStream.format("memory").queryName("proto_e2e")
      .outputMode("append").start()
    try {
      ms.addData(frames.toSeq :+ Array[Byte](0x0f.toByte)) // one malformed frame
      q.processAllAvailable()
      val got = spark.table("proto_e2e").collect()
      // expected: every envelope whose type routes under cfg
      val expectedRoutable = envs.count(e => e.eventType.exists(Set(4, 5, 6, 7, 9)))
      assert(got.length === expectedRoutable)
      // payloads are the canonical JSON of the original envelopes
      val df = envs.toDS().toDF()
      val direct = df
        .select(Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"),
          NozzlePipeline.routeExpr(cfg, struct(df.columns.map(col): _*)).as("topic"))
        .filter(col("topic").isNotNull)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got.map(_.getAs[String]("payload")).sorted.toSeq === direct)
    } finally q.stop()
  }

  test("SQL names resolve: envelope_proto / envelope_proto_decode") {
    Functions.register(spark)
    val n = encodeDF(Seq.fill(10)(gen.envelope()))
      .selectExpr("envelope_proto_decode(p) AS e")
      .selectExpr("envelope_proto(e) AS p2")
      .filter(col("p2").isNotNull)
      .count()
    assert(n === 10)
  }
}
