package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Funnel}

/** Streaming last-touch attribution: exact batch equivalence under
  * ts-monotone splits — cross-batch credit (touch in one batch, its
  * conversion in a later one), lookback expiry across a boundary,
  * same-instant channel tie inside a batch, and the unattributed
  * fallbacks. */
class AttributionStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // u1: view 10:00, click 10:30, purchase 11:00 (credit click, cross
  //     batch), then purchase 14:00 — 3.5h after the last touch, past
  //     the 2h lookback → unattributed;
  // u2: view+click at the SAME instant 10:15 (tie → higher event_id:
  //     the view, id 12), purchase 10:45;
  // u3: purchase 10:20 with no touch ever → unattributed;
  // u4: touch in batch 1, NEWER touch in batch 2, purchase in batch 3
  //     → credits the batch-2 touch (state advanced across batches)
  private def events = Seq(
    (10L, "u1", "view", "2024-01-01 10:00:00", 0.0),
    (11L, "u2", "click", "2024-01-01 10:15:00", 0.0),
    (12L, "u2", "view", "2024-01-01 10:15:00", 0.0),
    (13L, "u4", "view", "2024-01-01 10:18:00", 0.0),
    (14L, "u3", "purchase", "2024-01-01 10:20:00", 10.25),
    (15L, "u1", "click", "2024-01-01 10:30:00", 0.0),
    (16L, "u2", "purchase", "2024-01-01 10:45:00", 5.5),
    (17L, "u1", "purchase", "2024-01-01 11:00:00", 20.0),
    (18L, "u4", "click", "2024-01-01 11:10:00", 0.0),
    (19L, "u4", "purchase", "2024-01-01 12:00:00", 7.75),
    (20L, "u1", "purchase", "2024-01-01 14:00:00", 1.0))
    .toDF("event_id", "user_id", "event_type", "ts", "value")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def tmp() =
    CacheHygiene.tempDir("attr_stream_spec")

  private def oneShot = Funnel.lastTouchAttribution(events,
    col("user_id"), col("ts"), col("event_type"), col("event_id"),
    col("value"), "purchase", Seq("view", "click"), 7200L)
    .collect().map(_.toSeq).toSet

  private def ingestSplit(cutStrs: Seq[String], state: String): Unit = {
    var prev = "1970-01-01 00:00:00"
    (cutStrs :+ "2100-01-01 00:00:00").foreach { cut =>
      AttributionStream.ingestBatch(spark,
        events.filter(col("ts") >= ts(prev) && col("ts") < ts(cut)),
        "user_id", "ts", "event_type", "event_id", "value", "purchase",
        Seq("view", "click"), 7200L, state)
      prev = cut
    }
  }

  test("hand verdicts: cross-batch credit, tie by event id, lookback " +
    "expiry, no-touch fallback") {
    assert(oneShot === Set(
      Seq("click", 2L, 27.75),          // u1 purchase 17, u4 purchase 19
      Seq("view", 1L, 5.5),             // u2 (tie at 10:15 -> id 12)
      Seq("unattributed", 2L, 11.25)))  // u3, u1's 14:00 purchase
  }

  test("pair state commits atomically: one parent dir, both subtables, " +
    "no separate live stores") {
    val state = tmp()
    ingestSplit(Seq("2024-01-01 11:10:00"), state)
    val root = new java.io.File(s"$state/state")
    assert(root.isDirectory)
    assert(new java.io.File(root, "touch").isDirectory)
    assert(new java.io.File(root, "rollup").isDirectory)
    assert(new java.io.File(root, "_SUCCESS").isFile) // the joint witness
    assert(!new java.io.File(s"$state/state.__swap").exists)
  }

  test("rejects the zero/negative lookback the batch operator rejects") {
    val state = tmp()
    intercept[IllegalArgumentException] {
      AttributionStream.ingestBatch(spark, events, "user_id", "ts",
        "event_type", "event_id", "value", "purchase",
        Seq("view", "click"), 0L, state)
    }
  }

  test("accumulated attribution equals one-shot under any ts-value " +
    "split") {
    Seq(
      Seq.empty[String],                                 // one batch
      Seq("2024-01-01 10:20:00", "2024-01-01 11:10:00"), // 3 batches
      events.collect().map(_.getAs[Timestamp]("ts").toString)
        .distinct.sorted.toSeq                           // singletons
    ).foreach { cuts =>
      val state = tmp()
      ingestSplit(cuts, state)
      val streamed = AttributionStream.readAttribution(spark, state)
        .collect().map(_.toSeq).toSet
      assert(streamed === oneShot, s"split $cuts diverged")
    }
  }
}
