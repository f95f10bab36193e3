package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation with watermarking (§2.9/§2.10 streaming
  * surface): the reference only *attaches* event time to messages
  * (Hand:237); these operators aggregate over it, which is what a
  * cancellation-rate monitor or an LLM-ingest throughput dashboard needs.
  *
  * All functions take a streaming OR batch DataFrame — the same plan works
  * in both modes (Structured Streaming's unified Dataset semantics).
  */
object WindowedStats {

  /** Tumbling event-time counts per key with a watermark: late rows beyond
    * `lateness` are dropped, state for closed windows is evicted. */
  def tumblingCounts(df: DataFrame, eventTime: String, key: String,
                     windowLen: String, lateness: String): DataFrame =
    df.withWatermark(eventTime, lateness)
      .groupBy(window(col(eventTime), windowLen), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(key), col("n"))

  /** Gap-based session aggregates via the built-in `session_window`
    * (merging event-time windows + watermark state eviction) — the
    * STREAMING counterpart of `operators.Sessionize` (which additionally
    * yields per-event assignments in batch). Boundary note: session_window
    * merges gaps STRICTLY smaller than `gap` (windows are [ts, ts+gap));
    * Sessionize's lag-based rule merges gaps ≤ gapSeconds — identical
    * sessions except for events exactly `gap` apart. Works on batch or
    * streaming input. */
  def sessionCounts(df: DataFrame, eventTime: String, key: String,
                    gap: String, lateness: String): DataFrame =
    df.withWatermark(eventTime, lateness)
      .groupBy(session_window(col(eventTime), gap), col(key))
      .agg(count(lit(1)).as("n"),
        min(col(eventTime)).as("session_start_ev"),
        max(col(eventTime)).as("session_end_ev"))
      .select(col("session_window.start").as("window_start"),
        col("session_window.end").as("window_end"), col(key), col("n"),
        col("session_start_ev"), col("session_end_ev"))
}
