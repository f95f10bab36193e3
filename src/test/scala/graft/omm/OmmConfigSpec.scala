package graft.omm

import org.scalatest.funsuite.AnyFunSuite

import graft.omm.{CancellationPipeline => P}

/** Config surface parity with Main.java:28–51 + environment.conf. */
class OmmConfigSpec extends AnyFunSuite {

  test("defaults mirror the reference HOCON") {
    val c = OmmConfig.fromConf(env = Map.empty)
    assert(c.intervalSeconds === 30)
    assert(c.timezone === "Europe/Helsinki")
    assert(c.mode === P.FromNow)
    assert(c.lookbackSeconds === 30L)
    assert(c.connectionString.isEmpty)
  }

  test("environment variables override, as in the reference") {
    val c = OmmConfig.fromConf(env = Map(
      "POLLER_INTERVAL_SECS" -> "60",
      "OMM_DATA_TIMEZONE" -> "UTC",
      "CANCELLATIONS_FROM_TIME" -> "PAST",
      "TRANSITDATA_PUBTRANS_CONN_STRING" -> "jdbc:sqlserver://db"))
    assert(c.intervalSeconds === 60)
    assert(c.timezone === "UTC")
    assert(c.mode === P.FromPast)
    assert(c.lookbackSeconds === 60L)
    assert(c.connectionString.contains("jdbc:sqlserver://db"))
  }

  test("unknown mode fails at startup (Type:15-21), not silently") {
    intercept[IllegalArgumentException] {
      OmmConfig.fromConf(env = Map("CANCELLATIONS_FROM_TIME" -> "YESTERDAY"))
    }
  }

  test("HOCON-subset parse: blocks, quotes, comments, include, last-wins") {
    val conf = OmmConfig.parseConf(
      """include "common.conf"
        |# comment
        |pulsar {
        |  producer {
        |    topic="omm-cancellations"  # trailing comment
        |    topic=${?PULSAR_PRODUCER_TOPIC}
        |  }
        |}
        |omm {
        |  interval=30
        |  interval=${?POLLER_INTERVAL_SECS}
        |  timezone="Europe/Helsinki"
        |}""".stripMargin,
      env = Map("POLLER_INTERVAL_SECS" -> "45"))
    assert(conf("pulsar.producer.topic") === "omm-cancellations")
    assert(conf("omm.interval") === "45")
    assert(conf("omm.timezone") === "Europe/Helsinki")
  }

  test("${?VAR} with the variable unset keeps the earlier assignment") {
    val conf = OmmConfig.parseConf(
      "omm {\n  interval=30\n  interval=${?POLLER_INTERVAL_SECS}\n}",
      env = Map.empty)
    assert(conf("omm.interval") === "30")
  }

  test("fromConf over the default conf file takes the env overrides") {
    val c = OmmConfig.fromConf(OmmConfig.defaultConf,
      Map("CANCELLATIONS_FROM_TIME" -> "PAST"))
    assert(c.mode === P.FromPast)
    assert(c.intervalSeconds === 30)
  }
}
