package graft.omm

import graft.omm.{CancellationPipeline => P}

/** Service configuration surface (≙ environment.conf + Main.java:28–51):
  * defaults mirror the reference's HOCON, each overridable by the same
  * environment variables the reference wires via `${?VAR}` substitution.
  *
  * | key | default | env override | cite |
  * |---|---|---|---|
  * | omm.interval (s) | 30 | POLLER_INTERVAL_SECS | environment.conf:21–22 |
  * | omm.timezone | Europe/Helsinki | OMM_DATA_TIMEZONE | environment.conf:19–20 |
  * | omm.cancellationsFromTime | NOW | CANCELLATIONS_FROM_TIME | environment.conf:23–24; CancellationSourceType.java:15–21 |
  * | connection string | — | TRANSITDATA_PUBTRANS_CONN_STRING | Main.java:87 |
  */
case class OmmConfig(
    intervalSeconds: Int = 30,
    timezone: String = "Europe/Helsinki",
    mode: P.Mode = P.FromNow,
    connectionString: Option[String] = None) {
  /** PAST-mode lookback = poll interval (OmmConnector.java:76). */
  def lookbackSeconds: Long = intervalSeconds.toLong
}

object OmmConfig {

  /** Mode parsing ≙ CancellationSourceType.fromString: unknown value is a
    * startup failure, not a silent default (Type:15–21). */
  def parseMode(s: String): P.Mode = s.trim.toUpperCase match {
    case "NOW" | "FROM_NOW" => P.FromNow
    case "PAST" | "FROM_PAST" => P.FromPast
    case other =>
      throw new IllegalArgumentException(
        s"unknown cancellationsFromTime: '$other' (expected NOW or PAST)")
  }

  /** The subset of HOCON the reference's environment.conf actually uses:
    * nested blocks, `key = value` (last assignment wins), quoted strings,
    * `${?ENV_VAR}` optional substitution (assignment is SKIPPED when the
    * variable is unset — that's how the conf layers env over defaults),
    * `#`/`//` comments. `include` lines are ignored (the reference's
    * common.conf lives in an external artifact). Returns dotted-path →
    * string value. */
  def parseConf(text: String, env: Map[String, String] = sys.env): Map[String, String] = {
    val optEnvRef = """\$\{\?([A-Za-z0-9_]+)\}""".r
    var path = List.empty[String]
    var out = Map.empty[String, String]
    for (raw <- text.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim match {
        case l if l.startsWith("//") => ""
        case l => l
      }
      line match {
        case "" | "}" =>
          if (line == "}") path = path.tail
        case l if l.startsWith("include ") => // external include: ignored
        case l if l.endsWith("{") =>
          path = l.dropRight(1).trim :: path
        case l if l.contains("=") =>
          val Array(k, vRaw) = l.split("=", 2).map(_.trim)
          val key = (k :: path).reverse.mkString(".")
          vRaw match {
            case optEnvRef(name) =>
              env.get(name).foreach(v => out += key -> v)
            case v =>
              out += key -> v.stripPrefix("\"").stripSuffix("\"")
          }
        case other =>
          throw new IllegalArgumentException(s"unparseable config line: '$other'")
      }
    }
    out
  }

  /** The reference's omm block (environment.conf:17–25), used when no
    * conf file is supplied — `fromConf(defaultConf)` ≙ ConfigParser
    * .createConfig() with only env overrides. */
  val defaultConf: String =
    """omm {
      |  timezone="Europe/Helsinki"
      |  timezone=${?OMM_DATA_TIMEZONE}
      |  interval=30
      |  interval=${?POLLER_INTERVAL_SECS}
      |  cancellationsFromTime="NOW"
      |  cancellationsFromTime=${?CANCELLATIONS_FROM_TIME}
      |}""".stripMargin

  /** Build the config from HOCON text + env, ≙ Main.java:28–51 (the
    * connection string comes from the environment only, Main.java:87). */
  def fromConf(text: String = defaultConf,
               env: Map[String, String] = sys.env): OmmConfig = {
    val conf = parseConf(text, env)
    OmmConfig(
      intervalSeconds = conf.get("omm.interval").map(_.toInt).getOrElse(30),
      timezone = conf.getOrElse("omm.timezone", "Europe/Helsinki"),
      mode = conf.get("omm.cancellationsFromTime").map(parseMode)
        .getOrElse(P.FromNow),
      connectionString = env.get("TRANSITDATA_PUBTRANS_CONN_STRING"))
  }
}
