package graft.omm

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.omm.{CancellationPipeline => P, OmmFixtures => F}
import graft.operators.CacheHygiene

/** `loadTables` opens the 11 OMM tables by their `OmmSchemas` contracts:
  * no Spark job runs while opening, and a table whose footer breaks its
  * contract fails the open, naming the table and the column. */
class ContractReadSpec extends SparkSpec {

  private val sentinel = "contract-read-spec-sentinel"

  /** `f`'s outcome and the number of Spark jobs started while it ran.
    * Listener delivery is async but in order: a sentinel job run after
    * `f` bounds the wait, since once its start is seen every earlier
    * job's start has been seen too. */
  private def jobsDuring[A](f: => A): (Either[Throwable, A], Int) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        starts.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = try Right(f) catch { case e: Exception => Left(e) }
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!starts.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(starts.contains(sentinel), "sentinel job never reached the listener")
      (out, starts.asScala.count(_ != sentinel))
    } finally sc.removeSparkListener(listener)
  }

  /** A copy of the OMM fixture with `table` rewritten by `edit`. */
  private def fixtureWith(table: String)(edit: DataFrame => DataFrame): String = {
    F.ensure(spark)
    val dir = CacheHygiene.tempDir("omm-contract")
    FileUtils.copyDirectory(new java.io.File(F.dir), new java.io.File(dir))
    val path = s"$dir/$table.parquet"
    FileUtils.deleteDirectory(new java.io.File(path))
    edit(spark.read.parquet(F.path(table))).coalesce(1).write.parquet(path)
    dir
  }

  test("opening the good fixture runs no Spark job") {
    F.ensure(spark)
    val (out, jobs) = jobsDuring(P.loadTables(spark, F.dir))
    assert(out.isRight, s"loadTables failed: $out")
    assert(jobs === 0, s"loadTables ran $jobs Spark jobs (schema inference?)")
    // the contract schema is what the pipeline sees
    val t = out.toOption.get
    assert(t.ad.schema.map(f => f.name -> f.dataType) ===
      OmmSchemas.affectedDepartures.map(f => f.name -> f.dataType))
  }

  test("a missing contract column fails the open, naming table and column") {
    val dir = fixtureWith("bulletin_localized_messages")(_.drop("language_code"))
    val (out, jobs) = jobsDuring(P.loadTables(spark, dir))
    val msg = out.swap.toOption.map(_.getMessage).getOrElse(
      fail("loadTables accepted a table without its contract column"))
    assert(msg.contains("bulletin_localized_messages") &&
      msg.contains("language_code") && msg.contains("missing"), msg)
    assert(jobs === 0, "the check must fail before any Spark job")
  }

  test("a retyped contract column fails the open, naming both types") {
    val dir = fixtureWith("affected_departures")(
      _.withColumn("departure_id", col("departure_id").cast("string")))
    val (out, jobs) = jobsDuring(P.loadTables(spark, dir))
    val msg = out.swap.toOption.map(_.getMessage).getOrElse(
      fail("loadTables accepted a retyped contract column"))
    assert(msg.contains("affected_departures") && msg.contains("departure_id") &&
      msg.contains("STRING") && msg.contains("BIGINT"), msg)
    assert(jobs === 0, "the check must fail before any Spark job")
  }
}
