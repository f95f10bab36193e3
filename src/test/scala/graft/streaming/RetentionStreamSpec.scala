package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Funnel}

/** Streaming retention: the loosest-contract stream — BOTH sufficient
  * statistics are order-free (min-merge cohort, distinct activity
  * weeks), so accumulated state must equal the one-shot batch operator
  * for ANY split, including out-of-order arrival and a fully
  * redelivered batch. */
class RetentionStreamSpec extends SparkSpec {
  import spark.implicits._

  // u1 spans 3 ISO weeks (cohort = week of Jan 1 2024, a Monday);
  // u2 joins week 2 and returns week 3; u3 appears once; a null key
  // rides along (batch operator's equi-join drops it from output)
  private def events = Seq(
    (1L, "u1", "2024-01-01 10:00:00"),
    (2L, "u2", "2024-01-08 09:00:00"),
    (3L, "u1", "2024-01-10 12:00:00"),
    (4L, "u3", "2024-01-09 08:00:00"),
    (5L, "u1", "2024-01-17 15:00:00"),
    (6L, "u2", "2024-01-16 11:00:00"),
    (7L, null.asInstanceOf[String], "2024-01-02 00:00:00"))
    .toDF("event_id", "user_id", "ts")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def tmp() =
    CacheHygiene.tempDir("retention_stream")

  private def oneShot = Funnel.weeklyRetention(events, col("user_id"),
    col("ts")).collect().map(_.toSeq).toSet

  test("hand matrix: cohorts, offsets, rates") {
    assert(oneShot === Set(
      Seq("2024-01-01", 0, 1L, 1.0),  // u1 cohort, active wk 0
      Seq("2024-01-01", 1, 1L, 1.0),  // u1 wk 1
      Seq("2024-01-01", 2, 1L, 1.0),  // u1 wk 2
      Seq("2024-01-08", 0, 2L, 1.0),  // u2+u3 cohort
      Seq("2024-01-08", 1, 1L, 0.5))) // u2 returns
  }

  test("any split — even OUT-OF-ORDER and with a redelivered batch — " +
    "equals one-shot") {
    val splits: Seq[Seq[Long]] = Seq(
      Seq(7L),                     // one batch of everything
      Seq(3L, 5L, 7L),             // ts-ordered thirds
      Seq(7L, 3L, 5L))             // deliberately out of ts order
    splits.foreach { cuts =>
      val state = tmp()
      var prev = 0L
      val batches = cuts.map { hi =>
        val b = events.filter(col("event_id") > prev &&
          col("event_id") <= hi)
        prev = hi; b
      }
      // for the out-of-order split the "cuts" are id windows delivered
      // in the listed order, so later windows can carry earlier ts
      var last: org.apache.spark.sql.DataFrame = null
      (if (cuts == Seq(7L, 3L, 5L))
        Seq(events.filter(col("event_id") > 5L),
          events.filter(col("event_id") <= 3L),
          events.filter(col("event_id") > 3L && col("event_id") <= 5L))
      else batches).foreach { b =>
        RetentionStream.ingestBatch(spark, b, "user_id", "ts", state)
        last = b
      }
      // at-least-once: redeliver the final batch verbatim
      RetentionStream.ingestBatch(spark, last, "user_id", "ts", state)
      val got = RetentionStream.readRetention(spark, state)
        .collect().map(_.toSeq).toSet
      assert(got === oneShot, s"split $cuts diverged")
    }
  }

  test("a crash between a compaction swap's delete and rename on `first` " +
    "is adopted by the next ingest instead of orphaned") {
    val state = tmp()
    RetentionStream.ingestBatch(spark, events.filter(col("event_id") <= 3L),
      "user_id", "ts", state)
    // the crash point: live `first` deleted, its complete replacement
    // (with `_SUCCESS`) still under the swap name
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$state/first"),
      java.nio.file.Paths.get(s"$state/first.__swap"))
    assert(new java.io.File(s"$state/first.__swap/_SUCCESS").exists)
    RetentionStream.ingestBatch(spark, events.filter(col("event_id") > 3L),
      "user_id", "ts", state)
    val got = RetentionStream.readRetention(spark, state)
      .collect().map(_.toSeq).toSet
    assert(got === oneShot, "batch 0's cohort minima were dropped")
  }
}
