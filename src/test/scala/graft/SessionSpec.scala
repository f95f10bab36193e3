package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.omm.OmmFixtures
import graft.operators.CacheHygiene

/** The one session definition: the specs' shared session has its sizing
  * and zone, and the service starts as a plain `java` process, with no
  * master given anywhere, reaches its first poll, and stops its query
  * cleanly on SIGTERM. */
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
    val pb = ChildJvm("graft.omm.ServiceMain", base)
    val env = pb.environment()
    env.remove("TRANSITDATA_PUBTRANS_CONN_STRING")
    env.put("GRAFT_TABLES_DIR", OmmFixtures.dir)
    env.put("GRAFT_SINK_DIR", s"$base/sink")
    env.put("GRAFT_STATE_DIR", s"$base/state")
    env.put("GRAFT_CHECKPOINT_DIR", s"$base/ckpt")
    val proc = pb.start()
    val out = new ConcurrentLinkedQueue[String]()
    val firstPoll = Promise[Unit]()
    val drained = Future(scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().foreach { l =>
        out.add(l)
        if (l.startsWith("[poll 0]")) firstPoll.trySuccess(())
      })
    drained.onComplete(_ => firstPoll.tryFailure(
      new IllegalStateException("the service exited")))
    def log = out.asScala.mkString("\n")
    try {
      assert(scala.util.Try(Await.result(firstPoll.future, 4.minutes)).isSuccess,
        s"the service exited before its first poll:\n$log")
      // SIGTERM through the handle: Process.destroy() would also close
      // the pipe this spec reads the shutdown output from
      proc.toHandle.destroy()
      assert(proc.waitFor(2, TimeUnit.MINUTES),
        s"the service did not exit on SIGTERM:\n$log")
      Await.ready(drained, 30.seconds)
      assert(log.contains("[service] stopped"),
        s"SIGTERM did not stop the query:\n$log")
      assert(!log.contains("RejectedExecutionException"),
        s"Spark's pools closed under a running poll:\n$log")
    } finally {
      proc.destroy()
      if (!proc.waitFor(30, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    }
  }
}
