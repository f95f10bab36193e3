package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{FailingRenameFs, SparkSpec}
import graft.operators.{CacheHygiene, Funnel}

/** Streaming transition matrix: exact batch equivalence under
  * ts-monotone arrival — the boundary-pair stitching is the whole
  * point, so the splits deliberately cut inside keys' sequences. */
class TransitionStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // k1: a b a b ; k2: c c a — every split below cuts at least one key's
  // sequence mid-stream, so boundary pairs must be stitched from state
  private def events = Seq(
    (1L, 1L, ts("2024-01-01 10:00:00"), "a"),
    (2L, 1L, ts("2024-01-01 11:00:00"), "b"),
    (3L, 2L, ts("2024-01-01 11:30:00"), "c"),
    (4L, 1L, ts("2024-01-01 12:00:00"), "a"),
    (5L, 2L, ts("2024-01-01 12:30:00"), "c"),
    (6L, 1L, ts("2024-01-01 13:00:00"), "b"),
    (7L, 2L, ts("2024-01-01 13:30:00"), "a"))
    .toDF("event_id", "user_id", "ts", "event_type")

  private def tmp() =
    CacheHygiene.tempDir("trans_spec")

  private def oneShot = Funnel.transitionMatrix(events, col("user_id"),
      col("ts"), col("event_id"), col("event_type"))
    .collect().map(_.toSeq).toSet

  test("accumulated matrix equals the one-shot build under ANY " +
    "ts-monotone split (boundary pairs stitched)") {
    Seq(Seq(1L to 7L),
        Seq(1L to 2L, 3L to 5L, 6L to 7L),
        Seq(1L to 1L, 2L to 2L, 3L to 3L, 4L to 7L))
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          TransitionStream.ingestBatch(spark,
            events.filter(col("event_id").between(ids.head, ids.last)),
            Seq("user_id"), "ts", "event_id", "event_type", state)
        }
        val acc = TransitionStream.readMatrix(spark, state)
          .collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("single-event batches are pure boundary work; counts verified " +
    "by hand") {
    val state = tmp()
    (1L to 7L).foreach { i =>
      TransitionStream.ingestBatch(spark,
        events.filter(col("event_id") === i),
        Seq("user_id"), "ts", "event_id", "event_type", state)
    }
    val got = TransitionStream.readMatrix(spark, state)
      .as[(String, String, Long, Double)].collect()
      .sortBy(r => (r._1, r._2))
    // k1: a→b, b→a, a→b ; k2: c→c, c→a
    assert(got.toSeq === Seq(
      ("a", "b", 2L, 1.0),
      ("b", "a", 1L, 1.0),
      ("c", "a", 1L, 0.5), ("c", "c", 1L, 0.5)))
  }

  test("a crash after the count table commits leaves the previous " +
    "matrix; redelivering the batch converges to the one-shot build") {
    FailingRenameFs.install(spark)
    val state = FailingRenameFs.path(tmp())
    def ingest(lo: Long, hi: Long): Unit =
      TransitionStream.ingestBatch(spark,
        events.filter(col("event_id").between(lo, hi)),
        Seq("user_id"), "ts", "event_id", "event_type", state)
    def matrix = TransitionStream.readMatrix(spark, state)
      .collect().map(_.toSeq).toSet
    ingest(1L, 3L)
    val afterFirst = matrix
    // the second batch's counts are written, then publishing its last
    // events fails: every rename into that table throws
    intercept[Exception] {
      FailingRenameFs.failingRenames(_.contains("last_events")) {
        ingest(4L, 5L)
      }
    }
    assert(matrix === afterFirst,
      "counts must not include a batch whose last events were not stored")
    ingest(4L, 5L)
    ingest(6L, 7L)
    assert(matrix === oneShot)
  }
}
