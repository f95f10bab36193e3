package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** Pins PollOps.inParallel's contract: results in unit order, and on
  * failure no sibling is still running when the caller sees the error,
  * which is the failing unit's own exception. No SparkSession needed. */
class PollOpsSpec extends AnyFunSuite {

  test("results come back in unit order") {
    assert(PollOps.inParallel(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
  }

  test("a failure is thrown only after every sibling has settled, as the " +
    "unit's own exception") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("unit 0")
    val thrown = intercept[Throwable] {
      PollOps.inParallel(Seq(
        () => throw boom,
        () => { Thread.sleep(200); siblingDone.set(true) }))
    }
    assert(siblingDone.get, "thrown while a sibling was still running")
    assert(thrown eq boom)
  }

  test("later failures ride along as suppressed") {
    val first = new IllegalStateException("unit 0")
    val second = new IllegalArgumentException("unit 1")
    val thrown = intercept[Throwable] {
      PollOps.inParallel(Seq(() => throw first, () => throw second))
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq === Seq(second))
  }
}
