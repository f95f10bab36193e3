package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Funnel}

/** Streaming funnel: exact batch equivalence under ts-monotone splits,
  * including the cross-boundary conversion (stage-1 in one batch,
  * stage-2 in a later one) and the window bound crossing a boundary. */
class FunnelStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val stages = Seq("view", "click", "purchase")

  // u1 converts fully, with each stage in a DIFFERENT batch;
  // u2's click precedes its first view (never converts to click);
  // u3 views then clicks outside the 1h window (windowed form drops it,
  // strict form keeps it); u4 only clicks (never enters the funnel)
  private def events = Seq(
    (1L, "u1", "view", "2024-01-01 10:00:00"),
    (2L, "u2", "click", "2024-01-01 10:05:00"),
    (3L, "u3", "view", "2024-01-01 10:10:00"),
    (4L, "u1", "click", "2024-01-01 10:30:00"),
    (5L, "u2", "view", "2024-01-01 11:00:00"),
    (6L, "u1", "purchase", "2024-01-01 11:25:00"),
    (7L, "u4", "click", "2024-01-01 11:30:00"),
    (8L, "u3", "click", "2024-01-01 11:40:00"))
    .toDF("event_id", "user_id", "event_type", "ts")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def tmp() =
    CacheHygiene.tempDir("funnel_stream_spec")

  private def splits = Seq(
    Seq("2024-01-01 12:00:00"),                                // one batch
    Seq("2024-01-01 10:20:00", "2024-01-01 11:35:00",
      "2024-01-01 12:00:00"),                                  // 3 batches
    events.collect().map(_.getAs[Timestamp]("ts").toString)
      .distinct.sorted.toSeq)                                  // singletons

  private def ingestAll(cutStrs: Seq[String], gap: Option[Long],
                        state: String): Unit = {
    var prev = "1970-01-01 00:00:00"
    cutStrs.foreach { cut =>
      FunnelStream.ingestBatch(spark,
        events.filter(col("ts") >= ts(prev) && col("ts") < ts(cut)),
        "user_id", "ts", "event_type", stages, gap, state)
      prev = cut
    }
    // singletons split: final cut EXCLUDES the last instant — push it
    FunnelStream.ingestBatch(spark,
      events.filter(col("ts") >= ts(cutStrs.last)),
      "user_id", "ts", "event_type", stages, gap, state)
  }

  test("windowed funnel: accumulated equals one-shot under any " +
    "ts-value split; out-of-window click dropped") {
    val oneShot = Funnel.funnelWithin(events, col("user_id"), col("ts"),
      col("event_type"), stages, 3600L).collect().map(_.toSeq).toSet
    // windowed: u1+u2+u3 enter; clicks: u1 (30 min) only — u3's click
    // is 90 min after its view; purchases: u1
    assert(oneShot === Set(
      Seq(1, "view", 3L, 1.0, 1.0),
      Seq(2, "click", 1L, 0.333333, 0.333333),
      Seq(3, "purchase", 1L, 1.0, 0.333333)))
    splits.foreach { cuts =>
      val state = tmp()
      ingestAll(cuts, Some(3600L), state)
      val streamed = FunnelStream.readFunnel(spark, stages, state)
        .collect().map(_.toSeq).toSet
      assert(streamed === oneShot, s"split $cuts diverged")
    }
  }

  test("null keys: batch funnel excludes them at stage 1, so batch " +
    "equals stream exactly on a corpus WITH null keys") {
    val withNulls = events.unionByName(Seq(
      (9L, null.asInstanceOf[String], "view", "2024-01-01 10:01:00"),
      (10L, null.asInstanceOf[String], "click", "2024-01-01 10:02:00"))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp")))
    val oneShot = Funnel.funnel(withNulls, col("user_id"), col("ts"),
      col("event_type"), stages).collect().map(_.toSeq).toSet
    // identical to the null-free corpus: a null key is not an entity
    assert(oneShot === Set(
      Seq(1, "view", 3L, 1.0, 1.0),
      Seq(2, "click", 2L, 0.666667, 0.666667),
      Seq(3, "purchase", 1L, 0.5, 0.333333)))
    val state = tmp()
    var prev = "1970-01-01 00:00:00"
    Seq("2024-01-01 10:20:00", "2024-01-01 12:00:00").foreach { cut =>
      FunnelStream.ingestBatch(spark,
        withNulls.filter(col("ts") >= ts(prev) && col("ts") < ts(cut)),
        "user_id", "ts", "event_type", stages, None, state)
      prev = cut
    }
    val streamed = FunnelStream.readFunnel(spark, stages, state)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
  }

  test("strict funnel: accumulated equals one-shot; pre-entry click " +
    "never counts even when it arrived first") {
    val oneShot = Funnel.funnel(events, col("user_id"), col("ts"),
      col("event_type"), stages).collect().map(_.toSeq).toSet
    // strict: u3's late click now converts; u2's click still precedes
    // its view
    assert(oneShot === Set(
      Seq(1, "view", 3L, 1.0, 1.0),
      Seq(2, "click", 2L, 0.666667, 0.666667),
      Seq(3, "purchase", 1L, 0.5, 0.333333)))
    splits.foreach { cuts =>
      val state = tmp()
      ingestAll(cuts, None, state)
      val streamed = FunnelStream.readFunnel(spark, stages, state)
        .collect().map(_.toSeq).toSet
      assert(streamed === oneShot, s"split $cuts diverged")
    }
  }
}
