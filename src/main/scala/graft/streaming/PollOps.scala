package graft.streaming

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession

/** Shared driver-side helpers for the streaming operators and the
  * multi-arm queries. */
private[graft] object PollOps {

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
    * own, which `query.stop()` cancels; a job a sibling starts after the
    * cancellation still runs). Every unit is still settled
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
      val tag = s"graft-in-parallel-${UUID.randomUUID}"
      val cancelled = new AtomicBoolean(false)
      val pool = Executors.newFixedThreadPool(units.size)
      val futures = try units.map(u => pool.submit(new Callable[A] {
        override def call(): A = {
          sc.foreach(_.addJobTag(tag))
          try u()
          catch { case e: Throwable =>
            if (cancelled.compareAndSet(false, true)) sc.foreach(
              _.cancelJobsWithTag(tag, s"a sibling unit of $tag failed"))
            throw e
          } finally sc.foreach(_.removeJobTag(tag))
        }
      })) finally pool.shutdown()
      val settled = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException if e.getCause != null => Failure(e.getCause)
      })
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
