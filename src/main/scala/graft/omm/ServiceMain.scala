package graft.omm

import org.apache.spark.sql.SparkSession

import graft.omm.{CancellationPipeline => P}
import graft.sources.JdbcSource
import graft.streaming.CancellationStream

/** The service runtime (≙ Main.java:24–70): parse config, select the
  * source mode (unknown value = startup failure), wire the source, and run
  * the fixed-rate polling stream until termination. Any poll exception
  * stops the streaming query and exits non-zero (≙ closeApplication on
  * SQLException/PulsarClientException/unknown, Main.java:55–65) — the
  * platform supervisor restarts the process, same operational contract as
  * the reference.
  *
  * Source selection: `TRANSITDATA_PUBTRANS_CONN_STRING` set → the 11 OMM
  * tables through the JDBC source (≙ Main.java:87, OmmConnector's
  * DriverManager path); otherwise `GRAFT_TABLES_DIR` names a parquet
  * directory with the same schema contract (the fixture/testing path).
  * The keyed sink directory stands in for the Pulsar producer
  * (`GRAFT_SINK_DIR`; SURVEY.md §1.4 envelope). Config resolution:
  * `GRAFT_CONF_FILE` (HOCON subset) layered with the same env overrides
  * the reference wires via `${?VAR}`. The session comes from
  * [[graft.Session]]: spark-submit's master if one is given, else
  * `local[cores]`, so the service also starts as a plain `java` process.
  */
object ServiceMain {

  def main(args: Array[String]): Unit = {
    val confText = sys.env.get("GRAFT_CONF_FILE")
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      .getOrElse(OmmConfig.defaultConf)
    // unknown cancellationsFromTime throws here — startup failure, not a
    // silent default (≙ Main.java:36–44 System.exit(1))
    val config = OmmConfig.fromConf(confText)

    val spark = graft.Session()

    val tablesDir = config.connectionString match {
      case Some(_) => null // loadTables goes through JDBC below
      case None => sys.env.getOrElse("GRAFT_TABLES_DIR",
        sys.error("set TRANSITDATA_PUBTRANS_CONN_STRING or GRAFT_TABLES_DIR"))
    }
    val sinkDir = sys.env.getOrElse("GRAFT_SINK_DIR", "/tmp/graft_sink")
    val stateDir = sys.env.getOrElse("GRAFT_STATE_DIR", "/tmp/graft_state")
    val ckptDir = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "/tmp/graft_ckpt")

    println(s"[service] mode=${config.mode} interval=${config.intervalSeconds}s " +
      s"zone=${config.timezone} source=" +
      config.connectionString.map(_ => "jdbc").getOrElse(s"parquet:$tablesDir"))

    val loader = config.connectionString
      .map(url => (s: SparkSession) => JdbcSource.loadTables(s, url))
    val query = CancellationStream.start(spark, tablesDir, sinkDir, stateDir,
      ckptDir, config.mode, config.intervalSeconds,
      config.lookbackSeconds, config.timezone, tableLoader = loader)
    try query.awaitTermination()
    catch {
      case e: Throwable =>
        System.err.println(s"[service] poll cycle failed, shutting down: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
