package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Scd}

/** Streaming SCD2: exact batch equivalence under ts-monotone arrival,
  * including the two cross-boundary behaviors that make the incremental
  * merge nontrivial — no-op suppression across batches and closing an
  * earlier batch's open version. */
class ScdStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // k1: a a(noop) b a — with the first b arriving in a LATER batch than
  // the opening a's; k2: constant c across all batches (pure cross-batch
  // suppression); k3 appears only in the last batch
  private def events = Seq(
    (1L, 1L, ts("2024-01-01 10:00:00"), "a", 1.0),
    (2L, 1L, ts("2024-01-02 10:00:00"), "a", 2.0),
    (3L, 2L, ts("2024-01-01 12:00:00"), "c", 3.0),
    (4L, 1L, ts("2024-01-03 10:00:00"), "b", 4.0),
    (5L, 2L, ts("2024-01-03 12:00:00"), "c", 5.0),
    (6L, 1L, ts("2024-01-04 10:00:00"), "a", 6.0),
    (7L, 2L, ts("2024-01-04 12:00:00"), "c", 7.0),
    (8L, 3L, ts("2024-01-04 13:00:00"), "z", 8.0))
    .toDF("event_id", "user_id", "ts", "event_type", "value")

  private def tmp() =
    CacheHygiene.tempDir("scd_stream_spec")

  private def oneShot = Scd.scd2(events, Seq("user_id"), col("ts"),
    col("event_id"), col("event_type"), Seq(col("value")))
    .collect().map(_.toSeq).toSet

  test("accumulated version table equals one-shot scd2 under ANY " +
    "ts-monotone split") {
    // splits by event_id ranges = splits by ts here (ids are ts-ordered)
    Seq(Seq(1L to 8L),
        Seq(1L to 2L, 3L to 5L, 6L to 8L),
        Seq(1L to 1L, 2L to 2L, 3L to 4L, 5L to 8L))
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          ScdStream.ingestBatch(spark,
            events.filter(col("event_id").between(ids.head, ids.last)),
            Seq("user_id"), "ts", "event_id", "event_type",
            Seq("value"), state)
        }
        val acc = ScdStream.readVersions(spark, state, "event_id")
          .collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("cross-boundary behaviors: suppression mints no duplicate " +
    "version, a later batch closes an earlier open version") {
    val state = tmp()
    Seq(1L to 2L, 3L to 5L, 6L to 8L).foreach { ids =>
      ScdStream.ingestBatch(spark,
        events.filter(col("event_id").between(ids.head, ids.last)),
        Seq("user_id"), "ts", "event_id", "event_type",
        Seq("value"), state)
    }
    val got = ScdStream.readVersions(spark, state, "event_id")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean, Double)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    // k2 arrived c,c,c across three batches → exactly ONE version, open
    val k2 = got.filter(_._1 == 2L)
    assert(k2.length === 1 && k2.head._5 && k2.head._2 === "c")
    assert(k2.head._3 === ts("2024-01-01 12:00:00")) // original open
    // k1's first 'a' version (opened batch 1) was closed by batch 2's 'b'
    val k1 = got.filter(_._1 == 1L)
    assert(k1.map(_._2).toSeq === Seq("a", "b", "a"))
    assert(k1.head._4 === Some(ts("2024-01-03 10:00:00")))
    assert(k1.map(_._5).toSeq === Seq(false, false, true))
    // k3 appeared only in the last batch
    assert(got.count(_._1 == 3L) === 1)
  }
}
