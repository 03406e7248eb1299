package graft.config

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Engine configuration — the reference's TOML config surface
  * (config.go:10-81) reproduced field-for-field, including defaults
  * and the flag > config > default precedence (cli.go:157-179).
  *
  * Parsed with a zero-dependency TOML-subset reader (sections incl.
  * dotted nesting, strings, ints, bools, string arrays, comments) —
  * the container has no TOML library and the reference's config
  * grammar needs nothing more.
  */
case class CfConfig(
    dopplerAddr: String = "",
    uaaAddr: String = "",
    username: String = "",
    password: String = "",
    token: String = "",
    idleTimeout: Int = 0, // seconds
    retryCount: Int = 0)

case class TopicConfigT(
    logMessage: String = "",
    logMessageFmt: String = "",
    valueMetric: String = "",
    containerMetric: String = "",
    containerMetricFmt: String = "",
    httpStartStop: String = "",
    httpStartStopFmt: String = "",
    counterEvent: String = "",
    error: String = "")

case class KafkaConfig(
    brokers: Seq[String] = Nil,
    topic: TopicConfigT = TopicConfigT(),
    retryMax: Int = 0,
    retryBackoffMs: Int = 0,
    repartitionMax: Int = 0,
    compression: String = "",
    enableTLS: Boolean = false,
    caCerts: Seq[String] = Nil,
    clientKey: String = "",
    clientCert: String = "")

case class GraftConfig(
    subscriptionID: String = "",
    insecureSSLSkipVerify: Boolean = false,
    cf: CfConfig = CfConfig(),
    kafka: KafkaConfig = KafkaConfig())

object GraftConfig {

  // Reference defaults (cli.go:29-53, kafka.go:20-26)
  val DefaultSubscriptionID = "kafka-firehose-nozzle"
  val DefaultUsername = "admin"
  val DefaultIdleTimeoutSec = 60
  val DefaultRetryCount = 5
  val DefaultRepartitionMax = 5

  def load(path: String): Either[String, GraftConfig] = {
    val p = Paths.get(path).toAbsolutePath
    if (!Files.exists(p)) Left(s"no such file or directory: $p")
    else parse(Files.readAllLines(p).asScala.toSeq)
  }

  /** flag > config > default resolution (cli.go:157-179). */
  def resolve(c: GraftConfig,
      subscriptionID: String = "",
      username: String = "",
      password: String = ""): GraftConfig = {
    val sub =
      if (subscriptionID.nonEmpty) subscriptionID
      else if (c.subscriptionID.nonEmpty) c.subscriptionID
      else DefaultSubscriptionID
    val user =
      if (username.nonEmpty) username
      else if (c.cf.username.nonEmpty) c.cf.username
      else DefaultUsername
    val pass = if (password.nonEmpty) password else c.cf.password
    c.copy(
      subscriptionID = sub,
      cf = c.cf.copy(
        username = user,
        password = pass,
        idleTimeout = if (c.cf.idleTimeout == 0) DefaultIdleTimeoutSec else c.cf.idleTimeout,
        retryCount = if (c.cf.retryCount == 0) DefaultRetryCount else c.cf.retryCount),
      kafka = c.kafka.copy(repartitionMax =
        if (c.kafka.repartitionMax == 0) DefaultRepartitionMax else c.kafka.repartitionMax))
  }

  // --- minimal TOML subset -------------------------------------------

  private def stripComment(line: String): String = {
    // a '#' outside quotes starts a comment
    val sb = new StringBuilder
    var inStr = false
    var i = 0
    var done = false
    while (i < line.length && !done) {
      val ch = line.charAt(i)
      if (ch == '"') { inStr = !inStr; sb.append(ch) }
      else if (ch == '#' && !inStr) done = true
      else sb.append(ch)
      i += 1
    }
    sb.toString.trim
  }

  private def parseValue(raw: String): Either[String, Any] = {
    val v = raw.trim
    if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2)
      Right(v.substring(1, v.length - 1))
    else if (v == "true") Right(true)
    else if (v == "false") Right(false)
    else if (v.startsWith("[") && v.endsWith("]")) {
      val inner = v.substring(1, v.length - 1).trim
      if (inner.isEmpty) Right(Seq.empty[String])
      else {
        val parts = inner.split(",").map(_.trim).toSeq
        if (parts.forall(p => p.startsWith("\"") && p.endsWith("\"")))
          Right(parts.map(p => p.substring(1, p.length - 1)))
        else Left(s"unsupported array element in $v")
      }
    }
    else v.toIntOption.toRight(s"unsupported value: $v")
  }

  private[config] def parse(lines: Seq[String]): Either[String, GraftConfig] = {
    var cfg = GraftConfig()
    var section = ""
    for (rawLine <- lines) {
      val line = stripComment(rawLine)
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          section = line.substring(1, line.length - 1).trim
        } else {
          val eq = line.indexOf('=')
          if (eq < 0) return Left(s"malformed line: $rawLine")
          val key = line.substring(0, eq).trim
          parseValue(line.substring(eq + 1)) match {
            case Left(err) => return Left(err)
            case Right(value) =>
              cfg = assign(cfg, section, key, value) match {
                case Left(err) => return Left(err)
                case Right(c) => c
              }
          }
        }
      }
    }
    Right(cfg)
  }

  private def assign(c: GraftConfig, section: String, key: String,
      v: Any): Either[String, GraftConfig] = (section, key, v) match {
    case ("", "subscription_id", s: String) => Right(c.copy(subscriptionID = s))
    case ("", "insecure_ssl_skip_verify", b: Boolean) => Right(c.copy(insecureSSLSkipVerify = b))
    case ("cf", "doppler_address", s: String) => Right(c.copy(cf = c.cf.copy(dopplerAddr = s)))
    case ("cf", "uaa_address", s: String) => Right(c.copy(cf = c.cf.copy(uaaAddr = s)))
    case ("cf", "username", s: String) => Right(c.copy(cf = c.cf.copy(username = s)))
    case ("cf", "password", s: String) => Right(c.copy(cf = c.cf.copy(password = s)))
    case ("cf", "token", s: String) => Right(c.copy(cf = c.cf.copy(token = s)))
    case ("cf", "idle_timeout", i: Int) => Right(c.copy(cf = c.cf.copy(idleTimeout = i)))
    case ("cf", "retry_count", i: Int) => Right(c.copy(cf = c.cf.copy(retryCount = i)))
    case ("kafka", "brokers", a: Seq[_]) =>
      Right(c.copy(kafka = c.kafka.copy(brokers = a.map(_.toString))))
    case ("kafka", "retry_max", i: Int) => Right(c.copy(kafka = c.kafka.copy(retryMax = i)))
    case ("kafka", "retry_backoff_ms", i: Int) => Right(c.copy(kafka = c.kafka.copy(retryBackoffMs = i)))
    case ("kafka", "repartition_max", i: Int) => Right(c.copy(kafka = c.kafka.copy(repartitionMax = i)))
    case ("kafka", "compression", s: String) => Right(c.copy(kafka = c.kafka.copy(compression = s)))
    case ("kafka", "enable_tls", b: Boolean) => Right(c.copy(kafka = c.kafka.copy(enableTLS = b)))
    case ("kafka", "ca_certificates", a: Seq[_]) =>
      Right(c.copy(kafka = c.kafka.copy(caCerts = a.map(_.toString))))
    case ("kafka", "private_key", s: String) => Right(c.copy(kafka = c.kafka.copy(clientKey = s)))
    case ("kafka", "certificate", s: String) => Right(c.copy(kafka = c.kafka.copy(clientCert = s)))
    case ("kafka.topic", k, s: String) =>
      val t = c.kafka.topic
      val nt = k match {
        case "log_message" => t.copy(logMessage = s)
        case "log_message_fmt" => t.copy(logMessageFmt = s)
        case "value_metric" => t.copy(valueMetric = s)
        case "container_metric" => t.copy(containerMetric = s)
        case "container_metric_fmt" => t.copy(containerMetricFmt = s)
        case "http_start_stop" => t.copy(httpStartStop = s)
        case "http_start_stop_fmt" => t.copy(httpStartStopFmt = s)
        case "counter_event" => t.copy(counterEvent = s)
        case "error" => t.copy(error = s)
        case other => return Left(s"unknown key kafka.topic.$other")
      }
      Right(c.copy(kafka = c.kafka.copy(topic = nt)))
    case (sec, k, _) => Left(s"unknown key [$sec] $k")
  }

  /** Bridge to the streaming router's per-type table. */
  def toRouting(t: TopicConfigT): graft.streaming.NozzlePipeline.TopicConfig =
    graft.streaming.NozzlePipeline.TopicConfig(
      logMessage = t.logMessage, logMessageFmt = t.logMessageFmt,
      valueMetric = t.valueMetric,
      counterEvent = t.counterEvent,
      containerMetric = t.containerMetric, containerMetricFmt = t.containerMetricFmt,
      httpStartStop = t.httpStartStop, httpStartStopFmt = t.httpStartStopFmt,
      error = t.error)
}
