package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Watermark + windowed aggregation semantics over a MemoryStream: window
  * boundaries, late-row drop after watermark advance, and session merging. */
class WindowedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling windows close via watermark; late rows are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = WindowedStats.tumblingCounts(
      input.toDF().toDF("ts", "k"), "ts", "k", "10 minutes", "5 minutes")

    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()

    // window [12:00,12:10): 2 rows for a; watermark then advances past it
    input.addData((ts("2024-05-15 12:01:00"), "a"),
      (ts("2024-05-15 12:04:00"), "a"),
      (ts("2024-05-15 12:11:00"), "b"))
    q.processAllAvailable()
    // push watermark beyond 12:15 → the 12:00 window finalizes
    input.addData((ts("2024-05-15 12:21:00"), "b"))
    q.processAllAvailable()
    // a row for the already-closed 12:00 window arrives too late → dropped
    input.addData((ts("2024-05-15 12:02:00"), "a"))
    input.addData((ts("2024-05-15 12:40:00"), "flush"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_counts")
      .as[(Timestamp, Timestamp, String, Long)].collect()
      .map { case (s, _, k, n) => (s.toString, k, n) }.toSet
    assert(rows.contains(("2024-05-15 12:00:00.0", "a", 2L))) // late row NOT counted
    assert(!rows.exists { case (w, k, n) => w == "2024-05-15 12:00:00.0" && k == "a" && n != 2L })
  }

  test("sessionCounts merges gap-adjacent events and closes via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val sessions = WindowedStats.sessionCounts(
      input.toDF().toDF("ts", "k"), "ts", "k", "5 minutes", "1 minute")

    val q = sessions.writeStream.format("memory").queryName("sess_counts")
      .outputMode("append").start()
    // one session of 3 events (gaps < 5 min), then a 10-min silence
    input.addData((ts("2024-05-15 12:00:00"), "a"),
      (ts("2024-05-15 12:03:00"), "a"),
      (ts("2024-05-15 12:06:00"), "a"))
    q.processAllAvailable()
    // advance the watermark past the session's close → it finalizes
    input.addData((ts("2024-05-15 12:30:00"), "a"))
    input.addData((ts("2024-05-15 12:50:00"), "flush"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_counts")
      .as[(Timestamp, Timestamp, String, Long, Timestamp, Timestamp)]
      .collect().map { case (ws, we, k, n, _, _) => (ws.toString, we.toString, k, n) }
    assert(rows.contains(("2024-05-15 12:00:00.0", "2024-05-15 12:11:00.0", "a", 3L)),
      s"merged 3-event session missing from ${rows.toSeq}")
  }
}
