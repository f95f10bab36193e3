package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.omm.OmmFixtures
import graft.operators.CacheHygiene

/** The one session definition: the specs' shared session has its sizing
  * and zone, and the service starts as a plain `java` process, with no
  * master given anywhere, and reaches its first poll. */
class SessionSpec extends SparkSpec {

  test("the shared session shuffles into one partition per core, in UTC") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("ServiceMain started outside spark-submit, with no master set, " +
    "reaches its first poll") {
    OmmFixtures.ensure(spark)
    val base = CacheHygiene.tempDir("service")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    // the JDK 17 module opens Spark needs (spark-submit would add them);
    // nothing else of this JVM's options, so no spark.* property leaks in
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val pb = new ProcessBuilder((Seq(java.toString, "-Xmx1g",
        s"-Djava.io.tmpdir=$base") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.omm.ServiceMain")).asJava)
      .redirectErrorStream(true)
    val env = pb.environment()
    env.remove("TRANSITDATA_PUBTRANS_CONN_STRING")
    env.put("GRAFT_TABLES_DIR", OmmFixtures.dir)
    env.put("GRAFT_SINK_DIR", s"$base/sink")
    env.put("GRAFT_STATE_DIR", s"$base/state")
    env.put("GRAFT_CHECKPOINT_DIR", s"$base/ckpt")
    val proc = pb.start()
    val out = new ConcurrentLinkedQueue[String]()
    val firstPoll = Future(scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().map { l => out.add(l); l }.find(_.startsWith("[poll 0]")))
    try assert(Await.result(firstPoll, 4.minutes).isDefined,
      s"the service exited before its first poll:\n${out.asScala.mkString("\n")}")
    finally {
      proc.destroy()
      if (!proc.waitFor(30, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    }
  }
}
