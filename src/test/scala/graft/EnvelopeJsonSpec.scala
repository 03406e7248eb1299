package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{EnvelopeJsonWriter, UuidStr}
import graft.model._

/** Golden byte-exact tests for the canonical Envelope JSON encoder.
  * Expected strings transcribed from the reference's golden suite
  * (kafka_test.go:557-603, encoder_test.go:13-33); fixture field sets
  * from helper_test.go:26-107.
  */
class EnvelopeJsonSpec extends AnyFunSuite {

  private val ts = 1461318380946558204L
  private val testAppId = "3356a5c7-e86c-442a-b14f-ce5cc4f80ed1"

  private def empty = Envelope(None, None, None, None, None, None, None,
    None, None, None, None, None, None, None)

  private def logMessageEnv = empty.copy(
    origin = Some("fake-origin-1"), eventType = Some(5), timestamp = Some(ts),
    logMessage = Some(LogMessage(
      message = Some("hello".getBytes("UTF-8")),
      message_type = Some(1), timestamp = Some(ts),
      app_id = Some(testAppId), source_type = Some("DEA"),
      source_instance = None)))

  private def encodeAll(envs: Seq[Envelope]): Seq[String] = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = envs.toDS().toDF()
    df.select(Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"))
      .as[String].collect().toSeq
  }

  test("typed Dataset[Envelope] schema matches the canonical schema") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val s = Seq(empty).toDS().schema
    assert(EnvelopeSchema.compatible(s, EnvelopeSchema.schema),
      s"encoder schema drifted: $s")
  }

  test("golden: all six event types byte-exact") {
    val (low, high) = UuidStr.parse(testAppId)
    val cases: Seq[(Envelope, String)] = Seq(
      logMessageEnv ->
        s"""{"origin":"fake-origin-1","eventType":5,"timestamp":$ts,"logMessage":{"message":"aGVsbG8=","message_type":1,"timestamp":1461318380946558204,"app_id":"$testAppId","source_type":"DEA"}}""",
      empty.copy(origin = Some("fake-origin-6"), eventType = Some(4), timestamp = Some(ts),
        httpStartStop = Some(HttpStartStop(None, None, None, None, None, None, None,
          None, None, None, Some(Uuid(low, high)), None, None, None))) ->
        s"""{"origin":"fake-origin-6","eventType":4,"timestamp":$ts,"httpStartStop":{"applicationId":{"low":3045678995047011891,"high":15064251325855190961}}}""",
      empty.copy(origin = Some("fake-origin-2"), eventType = Some(6), timestamp = Some(ts),
        valueMetric = Some(ValueMetric(Some("df"), Some(0.99), None))) ->
        s"""{"origin":"fake-origin-2","eventType":6,"timestamp":$ts,"valueMetric":{"name":"df","value":0.99}}""",
      empty.copy(origin = Some("fake-origin-7"), eventType = Some(7), timestamp = Some(ts),
        counterEvent = Some(CounterEvent(Some("test-event"), None, None))) ->
        s"""{"origin":"fake-origin-7","eventType":7,"timestamp":$ts,"counterEvent":{"name":"test-event"}}""",
      empty.copy(origin = Some("fake-origin-3"), eventType = Some(9), timestamp = Some(ts),
        containerMetric = Some(ContainerMetric(Some(testAppId), Some(0), None, None, None, None, None))) ->
        s"""{"origin":"fake-origin-3","eventType":9,"timestamp":$ts,"containerMetric":{"applicationId":"$testAppId","instanceIndex":0}}""",
      empty.copy(origin = Some("fake-origin-8"), eventType = Some(8), timestamp = Some(ts),
        error = Some(ErrorEvent(None, None, Some("test-error")))) ->
        s"""{"origin":"fake-origin-8","eventType":8,"timestamp":$ts,"error":{"message":"test-error"}}"""
    )
    val got = encodeAll(cases.map(_._1))
    cases.zip(got).foreach { case ((_, expected), actual) =>
      assert(actual === expected)
    }
  }

  test("golden: encoded length is 225 (encoder_test.go:18)") {
    assert(encodeAll(Seq(logMessageEnv)).head.getBytes("UTF-8").length === 225)
  }

  test("kitchen sink: every envelope field populated, full order locked") {
    val e = Envelope(
      origin = Some("o"), eventType = Some(4), timestamp = Some(1L),
      deployment = Some("cf"), job = Some("router"), index = Some("0"),
      ip = Some("10.0.0.9"),
      tags = Some(Map("zone" -> "z1")),
      httpStartStop = Some(HttpStartStop(
        startTimestamp = Some(2L), stopTimestamp = Some(3L),
        requestId = Some(Uuid(1L, 2L)), peerType = Some(1), method = Some(2),
        uri = Some("/x"), remoteAddress = Some("1.2.3.4"),
        userAgent = Some("ua"), statusCode = Some(200),
        contentLength = Some(42L), applicationId = Some(Uuid(3L, 4L)),
        instanceIndex = Some(7), instanceId = Some("i-1"),
        forwarded = Some(Seq("a", "b")))),
      logMessage = None, valueMetric = None, counterEvent = None,
      error = None, containerMetric = None)
    assert(encodeAll(Seq(e)).head ===
      """{"origin":"o","eventType":4,"timestamp":1,"deployment":"cf",""" +
      """"job":"router","index":"0","ip":"10.0.0.9","tags":{"zone":"z1"},""" +
      """"httpStartStop":{"startTimestamp":2,"stopTimestamp":3,""" +
      """"requestId":{"low":1,"high":2},"peerType":1,"method":2,"uri":"/x",""" +
      """"remoteAddress":"1.2.3.4","userAgent":"ua","statusCode":200,""" +
      """"contentLength":42,"applicationId":{"low":3,"high":4},""" +
      """"instanceIndex":7,"instanceId":"i-1","forwarded":["a","b"]}}""")
  }

  test("unknown event type (-1) with no payload still encodes") {
    // helper_test.go:101-107: the unknown fixture — routing drops it,
    // but the encoder itself must not fail.
    val e = empty.copy(origin = Some("fake-origin-9"), eventType = Some(-1),
      timestamp = Some(ts))
    assert(encodeAll(Seq(e)).head ===
      s"""{"origin":"fake-origin-9","eventType":-1,"timestamp":$ts}""")
  }

  test("uint64 fields render unsigned (delta/total, UUID words)") {
    val e = empty.copy(eventType = Some(7),
      counterEvent = Some(CounterEvent(Some("c"), Some(-1L), Some(Long.MinValue))))
    assert(encodeAll(Seq(e)).head ===
      """{"eventType":7,"counterEvent":{"name":"c","delta":18446744073709551615,"total":9223372036854775808}}""")
  }

  test("tags and forwarded: empty omitted, populated emitted in order") {
    val withTags = empty.copy(origin = Some("o"),
      tags = Some(Map("a" -> "1", "b" -> "2")))
    val emptyTags = empty.copy(origin = Some("o"), tags = Some(Map.empty))
    val fwd = empty.copy(
      httpStartStop = Some(HttpStartStop(None, None, None, None, None, None, None,
        None, None, None, None, None, None, Some(Seq("10.0.0.1", "10.0.0.2")))))
    val emptyFwd = empty.copy(
      httpStartStop = Some(HttpStartStop(None, None, None, None, None, None, None,
        None, None, None, None, None, None, Some(Seq.empty))))
    val got = encodeAll(Seq(withTags, emptyTags, fwd, emptyFwd))
    assert(got(0) === """{"origin":"o","tags":{"a":"1","b":"2"}}""")
    assert(got(1) === """{"origin":"o"}""")
    assert(got(2) === """{"httpStartStop":{"forwarded":["10.0.0.1","10.0.0.2"]}}""")
    assert(got(3) === """{"httpStartStop":{}}""")
  }

  test("string escaping matches easyjson (HTML escapes on)") {
    def esc(s: String): String = {
      val out = new EnvelopeJsonWriter.Buffer()
      EnvelopeJsonWriter.writeString(out, UTF8String.fromString(s))
      new String(out.toByteArray, "UTF-8")
    }
    assert(esc("""he said "hi"""") === "\"he said \\\"hi\\\"\"")
    assert(esc("back\\slash") === "\"back\\\\slash\"")
    assert(esc("tab\there\nnl\rcr") === "\"tab\\there\\nnl\\rcr\"")
    assert(esc("\u0001\u001f") === "\"\\u0001\\u001f\"")
    assert(esc("<b>&amp;</b>") === "\"\\u003cb\\u003e\\u0026amp;\\u003c/b\\u003e\"")
    assert(esc("café 日本") === "\"café 日本\"") // valid UTF-8 raw
    assert(esc("\u2028\u2029") === "\"\\u2028\\u2029\"")
    // broken UTF-8: each invalid byte becomes a � escape
    val out = new EnvelopeJsonWriter.Buffer()
    EnvelopeJsonWriter.writeString(out,
      UTF8String.fromBytes(Array[Byte]('a', 0xff.toByte, 0xc3.toByte, 'b')))
    assert(new String(out.toByteArray, "UTF-8") === "\"a\\ufffd\\ufffdb\"")
  }

  /** Encodes one envelope per raw `origin` byte string. The binary →
    * string cast keeps the bytes as they are, invalid UTF-8 included. */
  private def encodeOrigins(origins: Seq[Array[Byte]]): Seq[String] = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val env = Seq(empty).toDS().toDF()
    val df = origins.zipWithIndex.toDF("raw", "i").crossJoin(env)
    df.orderBy("i")
      .select(Functions.envelope_json(struct(env.columns.map {
        case "origin" => col("raw").cast("string").as("origin")
        case c => col(c)
      }: _*)).as("j"))
      .as[String].collect().toSeq
  }

  private def originJson(escaped: String): String = "{\"origin\":\"" + escaped + "\"}"

  test("golden: a payload over 512 B and a log message over 64 KiB") {
    val longOrigin = "o<" * 300
    val msg = Array.tabulate[Byte](70000)(i => (i * 31 + 7).toByte)
    val got = encodeAll(Seq(
      empty.copy(origin = Some(longOrigin), eventType = Some(5)),
      empty.copy(logMessage = Some(LogMessage(Some(msg), Some(1), None, Some("app"), None, None))),
      empty.copy(origin = Some("small"))))
    assert(got(0) === s"""{"origin":"${"o\\u003c" * 300}","eventType":5}""")
    assert(got(0).length > 512)
    assert(got(1) === s"""{"logMessage":{"message":"${java.util.Base64.getEncoder
      .encodeToString(msg)}","message_type":1,"app_id":"app"}}""")
    assert(got(1).length > 64 * 1024)
    assert(got(2) === originJson("small"))
  }

  test("golden: escapes as the first byte, the last byte and back to back") {
    val got = encodeAll(Seq("<tag", "tag>", "\"\\\n\t<>&\u0001\u001f", "\u2028x\u2029",
      "é<é", "a&&b", "").map(o => empty.copy(origin = Some(o))))
    assert(got === Seq(
      originJson("\\u003ctag"),
      originJson("tag\\u003e"),
      originJson("\\\"\\\\\\n\\t\\u003c\\u003e\\u0026\\u0001\\u001f"),
      originJson("\\u2028x\\u2029"),
      originJson("é\\u003cé"),
      originJson("a\\u0026\\u0026b"),
      originJson("")))
  }

  test("golden: broken and truncated UTF-8 become one \\ufffd per bad byte") {
    def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    val got = encodeOrigins(Seq(
      bytes('a', 0xe6, 0x97), // 日 (e6 97 a5) cut after two bytes
      bytes('a', 0xf0, 0x9f, 0x98), // a four-byte sequence cut after three
      bytes(0xc3), // a lone lead byte
      bytes(0xff, 'a', 0xe6, 0x97, 0xa5))) // bad first byte, then valid
    assert(got === Seq(
      originJson("a\\ufffd\\ufffd"),
      originJson("a\\ufffd\\ufffd\\ufffd"),
      originJson("\\ufffd"),
      originJson("\\ufffda日")))
  }

  test("golden: integer extremes, signed and unsigned") {
    val got = encodeAll(Seq(
      empty.copy(eventType = Some(Int.MinValue), timestamp = Some(Long.MinValue),
        containerMetric = Some(ContainerMetric(applicationId = None,
          instanceIndex = Some(Int.MaxValue), cpuPercentage = None,
          memoryBytes = Some(-1L), diskBytes = Some(Long.MaxValue),
          memoryBytesQuota = Some(0L), diskBytesQuota = Some(-10L)))),
      empty.copy(eventType = Some(0), timestamp = Some(Long.MaxValue),
        httpStartStop = Some(HttpStartStop(startTimestamp = Some(-1L),
          stopTimestamp = Some(10L), requestId = Some(Uuid(-1L, Long.MinValue)),
          peerType = Some(-9), method = Some(9), uri = None, remoteAddress = None,
          userAgent = None, statusCode = Some(-10), contentLength = Some(-100L),
          applicationId = Some(Uuid(0L, 99L)), instanceIndex = Some(Int.MinValue),
          instanceId = None, forwarded = None))),
      // LogMessage.timestamp is int64 (log.pb.go), the one LongType field
      // the two envelopes above leave out
      empty.copy(logMessage = Some(LogMessage(message = None, message_type = Some(1),
        timestamp = Some(-1L), app_id = None, source_type = None, source_instance = None)))))
    assert(got(0) ===
      """{"eventType":-2147483648,"timestamp":-9223372036854775808,""" +
      """"containerMetric":{"instanceIndex":2147483647,""" +
      """"memoryBytes":18446744073709551615,"diskBytes":9223372036854775807,""" +
      """"memoryBytesQuota":0,"diskBytesQuota":18446744073709551606}}""")
    assert(got(1) ===
      """{"eventType":0,"timestamp":9223372036854775807,""" +
      """"httpStartStop":{"startTimestamp":-1,"stopTimestamp":10,""" +
      """"requestId":{"low":18446744073709551615,"high":9223372036854775808},""" +
      """"peerType":-9,"method":9,"statusCode":-10,"contentLength":-100,""" +
      """"applicationId":{"low":0,"high":99},"instanceIndex":-2147483648}}""")
    assert(got(2) === """{"logMessage":{"message_type":1,"timestamp":-1}}""")
  }

  test("golden: an empty log message is omitted; base64 pads short tails") {
    def lm(m: String) = empty.copy(logMessage = Some(LogMessage(
      Some(m.getBytes("UTF-8")), Some(1), None, None, None, None)))
    val got = encodeAll(Seq("", "a", "ab", "abc", "abcd").map(lm))
    assert(got === Seq(
      """{"logMessage":{"message_type":1}}""",
      """{"logMessage":{"message":"YQ==","message_type":1}}""",
      """{"logMessage":{"message":"YWI=","message_type":1}}""",
      """{"logMessage":{"message":"YWJj","message_type":1}}""",
      """{"logMessage":{"message":"YWJjZA==","message_type":1}}"""))
  }

  test("round-trip: decode(envelope_json(e)) == e; malformed -> NULL (O2)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val (low, high) = UuidStr.parse(testAppId)
    val envs = Seq(
      logMessageEnv,
      empty.copy(origin = Some("fake-origin-6"), eventType = Some(4), timestamp = Some(ts),
        httpStartStop = Some(HttpStartStop(Some(1L), None, None, None, None, None,
          None, None, None, None, Some(Uuid(low, high)), None, None, Some(Seq("f1"))))),
      empty.copy(eventType = Some(7),
        counterEvent = Some(CounterEvent(Some("c"), Some(-1L), Some(5L)))),
      empty.copy(origin = Some("o"), tags = Some(Map("a" -> "1"))))
    val df = envs.toDS().toDF()
    val enc = df.select(
      Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"))
    val decoded = enc.select(Functions.envelope_decode(col("j")).as("e"))
      .select("e.*").as[Envelope].collect().toSeq
    // Array[Byte] equality is referential — normalize to Seq for compare
    def norm(e: Envelope): Envelope = e.copy(logMessage = e.logMessage.map(lm =>
      lm.copy(message = lm.message.map(_.clone()))))
    assert(decoded.map(norm).zip(envs.map(norm)).forall { case (a, b) =>
      a.copy(logMessage = None) == b.copy(logMessage = None) &&
        a.logMessage.map(_.copy(message = None)) == b.logMessage.map(_.copy(message = None)) &&
        a.logMessage.flatMap(_.message).map(_.toSeq) == b.logMessage.flatMap(_.message).map(_.toSeq)
    })
    // malformed records parse to NULL -> droppable (DROPMALFORMED)
    val bad = Seq("not json at all", """{"eventType": [5]}""").toDF("j")
      .select(Functions.envelope_decode(col("j")).as("e"))
    assert(bad.filter(col("e").isNull).count() === 2)
  }

  test("goFloat matches Go strconv 'g' -1 formatting") {
    val cases = Seq(
      0.99 -> "0.99", 5.0 -> "5", 0.0 -> "0", -0.0 -> "-0",
      100000.0 -> "100000", 999999.0 -> "999999", 12.34 -> "12.34",
      -12.34 -> "-12.34",
      // shortest-'g' pins eprec=6: e-notation from 1e6 up (Go renders
      // 1e6 as "1e+06"), unlike encoding/json's ES6 -4..21 window.
      1e6 -> "1e+06", 2000000.0 -> "2e+06", 1234567.0 -> "1.234567e+06",
      123456.7 -> "123456.7",
      0.0001 -> "0.0001", 0.00001 -> "1e-05",
      1e20 -> "1e+20", 1e21 -> "1e+21", 1.5e21 -> "1.5e+21",
      9.223372036854776e18 -> "9.223372036854776e+18",
      1.7976931348623157e308 -> "1.7976931348623157e+308",
      4.9e-324 -> "5e-324", 0.1 -> "0.1",
      1.0 / 3.0 -> "0.3333333333333333",
      2.0 / 3.0 -> "0.6666666666666666",
      // powers of two: the lower half of the round-trip interval is
      // the narrower one, so the shortest form may round up
      math.pow(2, -24) -> "5.960464477539063e-08",
      math.pow(2, -44) -> "5.684341886080802e-14",
      math.pow(2, 89) -> "6.189700196426902e+26")
    cases.foreach { case (d, want) =>
      assert(EnvelopeJsonWriter.goFloat(d) === want, s"for $d")
    }
  }
}
