package graft.streaming

import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec

/** PollOps.inParallel with Spark jobs: the first failure cancels the
  * siblings' jobs, running or started later, instead of waiting them out. */
class PollOpsCancelSpec extends SparkSpec {

  test("a failing unit cancels a sibling's long job and its own " +
    "exception is thrown within seconds") {
    // ~40 s uncancelled: 4 tasks of 4,000 rows at 10 ms a row
    val slow = udf { (x: Long) => Thread.sleep(10); x }
    val boom = new IllegalStateException("unit 1")
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.nanoTime()
    val thrown = intercept[Throwable] {
      PollOps.inParallel(Seq(
        () => spark.range(0, 16000, 1, 4).filter(slow(col("id")) >= 0)
          .count(),
        () => {
          // fail only once the sibling's job is running
          while (tracker.getActiveJobIds().isEmpty) Thread.sleep(20)
          throw boom
        }))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(seconds < 15, s"inParallel returned after $seconds s")
    val sibling = thrown.getSuppressed.toSeq
    assert(sibling.size === 1 &&
      String.valueOf(sibling.head.getMessage).contains("cancelled"),
      s"the sibling's job did not end cancelled: $sibling")
  }

  test("a job a sibling starts after the failure is cancelled as it starts") {
    val slow = udf { (x: Long) => Thread.sleep(10); x }
    val boom = new IllegalStateException("unit 2")
    val thrown = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[Throwable] {
      PollOps.inParallel(Seq(
        () => {
          // start only once the failing unit has thrown
          thrown.await()
          Thread.sleep(500)
          spark.range(0, 16000, 1, 4).filter(slow(col("id")) >= 0).count()
        },
        () => { thrown.countDown(); throw boom }))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(e eq boom)
    assert(seconds < 15, s"inParallel returned after $seconds s")
    val sibling = e.getSuppressed.toSeq
    assert(sibling.size === 1 &&
      String.valueOf(sibling.head.getMessage).contains("cancelled"),
      s"the sibling's late job did not end cancelled: $sibling")
  }
}
