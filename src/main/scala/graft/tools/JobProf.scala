package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{Harness, Session, SparkEntry}

/** The per-query profiler: after the standard warm-up, each named query
  * runs `Harness.Reps` reps of `Harness.rep`, the same timed rep `Bench`
  * runs, so its figures are in-bench figures. Per rep it prints
  * `TIMING <q> rep<i> <wall> s jobs= load= steal_d=` (the job count is a
  * first-class figure: scheduling latency of many small jobs is what a
  * contended box amplifies), then the last rep's per-job durations and
  * call sites (`JOB` lines) and a `TOTAL` line splitting its wall time
  * into job time and the gap between jobs, so a multi-job harness query
  * (the streaming sims, the ANN sweeps) can be broken down without the UI.
  * Usage: `sbt "runMain graft.tools.JobProf <q1>[,<q2>…] [sfDir]"`. */
object JobProf {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q92_streaming_semdedup").split(',')
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session()
    Harness.warmUp(spark, sfDir)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the result stage (the job's last) is named after the action's
        // call site; the "callSite.short" property is set only when a
        // caller sets one explicitly
        val site = j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?")
        starts.put(j.jobId, (j.time, site)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, site) =>
          lines.add(f"JOB ${e.jobId}%4d ${(e.time - t0) / 1000.0}%7.2f s  $site")
        }
        ()
      }
    })
    for (name <- names) {
      val walls = (1 to Harness.Reps).map { rep =>
        lines.clear()
        val s0 = Harness.stealJiffies()
        val (_, wall) = Harness.rep(spark, sfDir, SparkEntry.queries(name))
        // listener delivery is async: let the bus drain so this rep's job
        // events do not land in the next rep's window
        Thread.sleep(800)
        println(f"TIMING $name rep$rep $wall%.2f s jobs=${lines.size} " +
          f"load=${Harness.loadavg()}%.2f steal_d=${Harness.stealJiffies() - s0}")
        wall
      }
      val ls = lines.asScala.toVector
      ls.foreach(println)
      val jobSum = ls.map(_.split("\\s+")(2).toDouble).sum
      println(f"TOTAL $name wall=${walls.last}%.2f s jobs=${ls.size} " +
        f"jobSum=$jobSum%.2f s gap=${walls.last - jobSum}%.2f s")
    }
    spark.stop()
  }
}
