package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming event-dashboard state — `Funnel.activeUsers` and
  * `Funnel.volumeAnomaly` in the regime a recurring event ingest runs
  * them: after every poll, current DAU/WAU and volume spike flags with
  * zero corpus access.
  *
  * Two state tables, each exactly its batch operator's sufficient
  * statistic:
  *  - the distinct `(k, dd)` key-day grain ([[Funnel.activeGrain]]) —
  *    distinct sets merge by union-distinct (idempotent), so duplicate
  *    deliveries and any arrival split fold to the same state; size is
  *    keys × active-days (the grain the exact answer NEEDS — rolling
  *    distinct has no smaller exact state);
  *  - the `(t, dd, n)` daily volume counts ([[Funnel.volumeCounts]]) —
  *    additive, types × days bounded; ADDITIVE means exactly-once
  *    batch delivery is the contract here (a redelivered batch
  *    double-counts), unlike the idempotent grain.
  * Both reads equal the one-shot operators EXACTLY, so the registered
  * queries share q227's/q229's oracles verbatim. Crash-safe via the
  * shared [[SketchState.fold]]. */
object ActiveStream {

  private def grainPath(stateDir: String) = s"$stateDir/key_day_grain"
  private def volPath(stateDir: String) = s"$stateDir/type_day_counts"

  /** Fold one batch of events into both state tables. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, key: Column,
                  typ: Column, ts: Column, stateDir: String): Unit = {
    SketchState.fold(Funnel.activeGrain(batch, key, ts),
      grainPath(stateDir))(_.distinct())
    SketchState.fold(Funnel.volumeCounts(batch, typ, ts),
      volPath(stateDir))(
      _.groupBy(col("t"), col("dd")).agg(sum(col("n")).as("n")))
  }

  /** DAU/WAU of the ACCUMULATED ingest — exactly
    * [[Funnel.activeUsers]] over everything folded so far. */
  def readActive(spark: SparkSession, windowDays: Int,
                 stateDir: String): DataFrame =
    Funnel.activeUsersFromGrain(
      SketchState.read(spark, grainPath(stateDir)), windowDays)

  /** Volume-anomaly panel of the ACCUMULATED ingest — exactly
    * [[Funnel.volumeAnomaly]] over everything folded so far. */
  def readVolume(spark: SparkSession, z: Double, stateDir: String)
      : DataFrame =
    Funnel.volumeAnomalyFromCounts(
      SketchState.read(spark, volPath(stateDir)), z)
}
