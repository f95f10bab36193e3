package graft.streaming

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

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
    * Failure: every unit is settled before anything is thrown, so no
    * sibling is still writing state when the caller's recovery starts
    * (a batch interrupted mid-append is re-run, the same crash class as
    * the sequential form). The first failing unit's own exception is
    * thrown, with the other failures attached as suppressed. */
  def inParallel[A](units: Seq[() => A]): Seq[A] =
    if (units.sizeIs <= 1) units.map(_())
    else {
      val pool = Executors.newFixedThreadPool(units.size)
      val futures = try units.map(u => pool.submit(new Callable[A] {
        override def call(): A = u()
      })) finally pool.shutdown()
      val settled = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException if e.getCause != null => Failure(e.getCause)
      })
      settled.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => settled.map(_.get)
      }
    }
}
