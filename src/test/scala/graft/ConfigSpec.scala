package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

/** Parse parity with the reference's config surface
  * (config_test.go:10-77, cli.go:157-179 precedence). */
class ConfigSpec extends AnyFunSuite {

  test("basic.toml parses to the expected deep-equal config") {
    val got = GraftConfig.load("fixtures/basic.toml")
    val want = GraftConfig(
      subscriptionID = "graft-nozzle",
      insecureSSLSkipVerify = true,
      cf = CfConfig(
        dopplerAddr = "wss://doppler.example.internal",
        uaaAddr = "https://uaa.example.internal",
        username = "graft-user",
        password = "graft-pass",
        idleTimeout = 10),
      kafka = KafkaConfig(
        brokers = Seq("10.0.0.1:9092", "10.0.0.2:9092", "10.0.0.3:9092"),
        retryMax = 10,
        retryBackoffMs = 500,
        topic = TopicConfigT(
          logMessage = "log",
          logMessageFmt = "log-%s",
          valueMetric = "metric")))
    assert(got === Right(want))
  }

  test("the reference's own example config parses deep-equal (example/kafka-firehose-nozzle.toml)") {
    // byte-for-byte copy of the reference's shipped example file —
    // trailing comments after values, a token alongside uaa creds,
    // and an indented [kafka.topic] section all in one fixture
    val got = GraftConfig.load("fixtures/example-kafka-firehose-nozzle.toml")
    val want = GraftConfig(
      subscriptionID = "example-kafka-firehose-nozzle",
      cf = CfConfig(
        dopplerAddr = "wss://doppler...",
        uaaAddr = "https://uaa...",
        username = "tcnksm",
        password = "xyz",
        token = "np9q8b4qp3;vqo...."),
      kafka = KafkaConfig(
        brokers = Seq("192.168.1.1:9092", "192.168.1.2:9092", "192.168.1.3:9092"),
        retryMax = 10,
        retryBackoffMs = 500,
        compression = "none",
        topic = TopicConfigT(
          logMessage = "log",
          logMessageFmt = "log-%s",
          valueMetric = "metric")))
    assert(got === Right(want))
  }

  test("missing file surfaces a no-such-file error (config_test.go:45-50)") {
    val got = GraftConfig.load("fixtures/not-exist.toml")
    assert(got.isLeft)
    assert(got.left.exists(_.contains("no such file")))
  }

  test("flag > config > default precedence (cli.go:157-179)") {
    val parsed = GraftConfig.load("fixtures/basic.toml").toOption.get
    // flag wins
    val flagged = GraftConfig.resolve(parsed, subscriptionID = "cli-sub", username = "cli-user")
    assert(flagged.subscriptionID === "cli-sub")
    assert(flagged.cf.username === "cli-user")
    // config wins when no flag
    val fromConfig = GraftConfig.resolve(parsed)
    assert(fromConfig.subscriptionID === "graft-nozzle")
    assert(fromConfig.cf.username === "graft-user")
    // defaults fill gaps
    val fromDefaults = GraftConfig.resolve(GraftConfig())
    assert(fromDefaults.subscriptionID === GraftConfig.DefaultSubscriptionID)
    assert(fromDefaults.cf.username === GraftConfig.DefaultUsername)
    assert(fromDefaults.cf.idleTimeout === GraftConfig.DefaultIdleTimeoutSec)
    assert(fromDefaults.cf.retryCount === GraftConfig.DefaultRetryCount)
    assert(fromDefaults.kafka.repartitionMax === GraftConfig.DefaultRepartitionMax)
    // idle_timeout from config is kept
    assert(fromConfig.cf.idleTimeout === 10)
  }

  test("topic table bridges to the streaming router config") {
    val parsed = GraftConfig.load("fixtures/basic.toml").toOption.get
    val routing = GraftConfig.toRouting(parsed.kafka.topic)
    assert(routing.logMessage === "log")
    assert(routing.logMessageFmt === "log-%s")
    assert(routing.valueMetric === "metric")
    assert(routing.error === "")
  }
}
