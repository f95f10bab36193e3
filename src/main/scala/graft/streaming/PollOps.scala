package graft.streaming

import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared driver-side helpers for the streaming operators and the
  * multi-arm queries. */
private[graft] object PollOps {

  /** Tags of `inParallel` calls with a failed unit, until the call returns. */
  private val failedTags = ConcurrentHashMap.newKeySet[String]()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  private def siblingFailed(tag: String) = s"a sibling unit of $tag failed"

  /** One listener per SparkContext: a job that starts carrying a failed
    * call's tag is cancelled (`cancelJobsWithTag` reaches only the jobs
    * running when a unit fails). */
  private def cancelLateJobs(sc: SparkContext): Unit = watched.synchronized {
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(','))
        tags.find(failedTags.contains).foreach(tag =>
          sc.cancelJob(e.jobId, siblingFailed(tag)))
      }
    })
  }

  /** Run independent driver-side units (per-poll appends/compactions on
    * DISJOINT state dirs, independent query arms) as concurrent Spark
    * jobs instead of sequentially — guide §2.6: actions are only
    * sequential because the driver calls them sequentially, and a poll's
    * wall at fixture scale is mostly driver-side plan/commit latency,
    * which overlaps across jobs. The caller must guarantee the units are
    * mutually independent (no ordering contract between them — any
    * INTERNAL ordering, like ContamStream's marker-before-data rule,
    * stays inside one unit). Results come back in unit order.
    *
    * Failure: the first failing unit cancels its siblings' Spark jobs
    * (every unit's jobs carry one job tag per call; a tag, not a job
    * group, because a group set here would replace the streaming query's
    * own, which `query.stop()` cancels). The tag stays marked failed until
    * the call returns, so a job a sibling starts after the failure is
    * cancelled as it starts. Every unit is still settled
    * before anything is thrown, so no sibling is still writing state when
    * the caller's recovery starts (a batch interrupted mid-append is
    * re-run, the same crash class as the sequential form). The first
    * failing unit's own exception (in unit order, skipping failures that
    * are this call's cancellations) is thrown, with the other failures
    * attached as suppressed. */
  def inParallel[A](units: Seq[() => A]): Seq[A] =
    if (units.sizeIs <= 1) units.map(_())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
        .filterNot(_.isStopped)
      sc.foreach(cancelLateJobs)
      val tag = s"graft-in-parallel-${UUID.randomUUID}"
      val pool = Executors.newFixedThreadPool(units.size)
      val settled = try {
        val futures = try units.map(u => pool.submit(new Callable[A] {
          override def call(): A = {
            sc.foreach(_.addJobTag(tag))
            try u()
            catch { case e: Throwable =>
              if (failedTags.add(tag))
                sc.foreach(_.cancelJobsWithTag(tag, siblingFailed(tag)))
              throw e
            } finally sc.foreach(_.removeJobTag(tag))
          }
        })) finally pool.shutdown()
        futures.map(f => Try(f.get()).recoverWith {
          case e: ExecutionException if e.getCause != null => Failure(e.getCause)
        })
      } finally failedTags.remove(tag)
      def byCancel(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains(tag))
      // this call's cancellations sort after the failures that caused them
      settled.collect { case Failure(e) => e }.sortBy(byCancel) match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => settled.map(_.get)
      }
    }
}
