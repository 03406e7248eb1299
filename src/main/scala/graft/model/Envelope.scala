package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, struct}
import org.apache.spark.sql.types._

/** The Envelope row type — the reference stream's tagged-union record
  * (rakutentech/kafka-firehose-nozzle, envelope.pb.go:98-117): exactly
  * one of the six payload fields is set, discriminated by `eventType`
  * (4=HttpStartStop 5=LogMessage 6=ValueMetric 7=CounterEvent 8=Error
  * 9=ContainerMetric).
  *
  * Field names/order follow the canonical JSON output contract
  * (events_easyjson.go:1061-1245): camelCase for Envelope /
  * HttpStartStop / ValueMetric / CounterEvent / ContainerMetric / UUID,
  * snake_case for LogMessage — the mixed naming is part of the
  * byte-exact surface, so the Spark schema carries it verbatim.
  *
  * uint64 proto fields (CounterEvent.delta/total, UUID.low/high,
  * ContainerMetric.*Bytes*) land in Scala Long with UNSIGNED semantics;
  * all formatting goes through unsigned rendering in the JSON writer.
  */
case class Uuid(low: Long, high: Long)

case class HttpStartStop(
    startTimestamp: Option[Long],
    stopTimestamp: Option[Long],
    requestId: Option[Uuid],
    peerType: Option[Int],
    method: Option[Int],
    uri: Option[String],
    remoteAddress: Option[String],
    userAgent: Option[String],
    statusCode: Option[Int],
    contentLength: Option[Long],
    applicationId: Option[Uuid],
    instanceIndex: Option[Int],
    instanceId: Option[String],
    forwarded: Option[Seq[String]])

case class LogMessage(
    message: Option[Array[Byte]],
    message_type: Option[Int],
    timestamp: Option[Long],
    app_id: Option[String],
    source_type: Option[String],
    source_instance: Option[String])

case class ValueMetric(
    name: Option[String],
    value: Option[Double],
    unit: Option[String])

case class CounterEvent(
    name: Option[String],
    delta: Option[Long],
    total: Option[Long])

case class ErrorEvent(
    source: Option[String],
    code: Option[Int],
    message: Option[String])

case class ContainerMetric(
    applicationId: Option[String],
    instanceIndex: Option[Int],
    cpuPercentage: Option[Double],
    memoryBytes: Option[Long],
    diskBytes: Option[Long],
    memoryBytesQuota: Option[Long],
    diskBytesQuota: Option[Long])

case class Envelope(
    origin: Option[String],
    eventType: Option[Int],
    timestamp: Option[Long],
    deployment: Option[String],
    job: Option[String],
    index: Option[String],
    ip: Option[String],
    tags: Option[Map[String, String]],
    httpStartStop: Option[HttpStartStop],
    logMessage: Option[LogMessage],
    valueMetric: Option[ValueMetric],
    counterEvent: Option[CounterEvent],
    error: Option[ErrorEvent],
    containerMetric: Option[ContainerMetric])

/** Canonical StructType mirror of the case classes above. The JSON
  * writer addresses fields BY INDEX against exactly this layout. */
object EnvelopeSchema {

  val uuid: StructType = StructType(Seq(
    StructField("low", LongType),
    StructField("high", LongType)))

  val httpStartStop: StructType = StructType(Seq(
    StructField("startTimestamp", LongType),
    StructField("stopTimestamp", LongType),
    StructField("requestId", uuid),
    StructField("peerType", IntegerType),
    StructField("method", IntegerType),
    StructField("uri", StringType),
    StructField("remoteAddress", StringType),
    StructField("userAgent", StringType),
    StructField("statusCode", IntegerType),
    StructField("contentLength", LongType),
    StructField("applicationId", uuid),
    StructField("instanceIndex", IntegerType),
    StructField("instanceId", StringType),
    StructField("forwarded", ArrayType(StringType))))

  val logMessage: StructType = StructType(Seq(
    StructField("message", BinaryType),
    StructField("message_type", IntegerType),
    StructField("timestamp", LongType),
    StructField("app_id", StringType),
    StructField("source_type", StringType),
    StructField("source_instance", StringType)))

  val valueMetric: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("value", DoubleType),
    StructField("unit", StringType)))

  val counterEvent: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("delta", LongType),
    StructField("total", LongType)))

  val error: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("code", IntegerType),
    StructField("message", StringType)))

  val containerMetric: StructType = StructType(Seq(
    StructField("applicationId", StringType),
    StructField("instanceIndex", IntegerType),
    StructField("cpuPercentage", DoubleType),
    StructField("memoryBytes", LongType),
    StructField("diskBytes", LongType),
    StructField("memoryBytesQuota", LongType),
    StructField("diskBytesQuota", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("origin", StringType),
    StructField("eventType", IntegerType),
    StructField("timestamp", LongType),
    StructField("deployment", StringType),
    StructField("job", StringType),
    StructField("index", StringType),
    StructField("ip", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("httpStartStop", httpStartStop),
    StructField("logMessage", logMessage),
    StructField("valueMetric", valueMetric),
    StructField("counterEvent", counterEvent),
    StructField("error", error),
    StructField("containerMetric", containerMetric)))

  private def nullOf(t: DataType): Column = lit(null).cast(t)

  /** Assemble a canonical Envelope struct ([[schema]] order) from the
    * given payload columns; every absent payload is a typed NULL (the
    * tagged-union invariant, envelope.pb.go:110-115), and the
    * deployment/job/index/ip/tags header fields are NULL. */
  def envelopeStruct(origin: Column, eventType: Column, timestamp: Column,
      hss: Column = nullOf(httpStartStop),
      lm: Column = nullOf(logMessage),
      vm: Column = nullOf(valueMetric),
      ce: Column = nullOf(counterEvent),
      er: Column = nullOf(error),
      cm: Column = nullOf(containerMetric)): Column =
    struct(
      origin.as("origin"),
      eventType.as("eventType"),
      timestamp.as("timestamp"),
      nullOf(StringType).as("deployment"),
      nullOf(StringType).as("job"),
      nullOf(StringType).as("index"),
      nullOf(StringType).as("ip"),
      nullOf(MapType(StringType, StringType)).as("tags"),
      hss.as("httpStartStop"),
      lm.as("logMessage"),
      vm.as("valueMetric"),
      ce.as("counterEvent"),
      er.as("error"),
      cm.as("containerMetric"))

  /** A LogMessage payload ([[logMessage]] order) as the surrogate emits
    * it: message type OUT (1), source type DEA, no source instance. */
  def logMessageStruct(message: Column, timestamp: Column, appId: Column): Column =
    struct(
      message.as("message"),
      lit(1).as("message_type"),
      timestamp.as("timestamp"),
      appId.as("app_id"),
      lit("DEA").as("source_type"),
      nullOf(StringType).as("source_instance"))

  /** Structural equality ignoring nullability/metadata/case of nothing —
    * names are case-sensitive in the JSON contract. */
  def compatible(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall {
        case (f, g) => f.name == g.name && compatible(f.dataType, g.dataType)
      }
    case (x: ArrayType, y: ArrayType) => compatible(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      compatible(x.keyType, y.keyType) && compatible(x.valueType, y.valueType)
    case _ => a == b
  }
}
