package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SketchState, Trend}

/** Streaming grouped jackknife — `Trend.jackknifeSummary` in the regime
  * a recurring ingest runs it: after every batch, the corpus ratio
  * metric WITH its uncertainty interval, zero corpus access.
  *
  * State is [[Trend.jackknifeGroupSums]]' `(grp, n_g, d_g)` grain —
  * exact decimal sums of the snapped num/den, ADDITIVE, so batches fold
  * in any arrival order or split and the accumulated table equals the
  * one-shot sums EXACTLY (the OovStream argument); the registered query
  * shares q234's oracle verbatim. State is groups-bounded; the
  * crash-safe [[SketchState.fold]] per batch.
  *
  * Per poll: one map-combined batch aggregate + a groups-sized merge.
  * The read runs the leave-one-out finish over the state table only. */
object JackknifeStream {

  private def sumsPath(stateDir: String) = s"$stateDir/jack_group_sums"

  /** Fold one batch into the per-group (n_g, d_g) sum state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, grp: Column,
                  num: Column, den: Column, stateDir: String): Unit = {
    SketchState.fold(Trend.jackknifeGroupSums(batch, grp, num, den),
      sumsPath(stateDir))(
      _.groupBy(col("grp"))
        .agg(sum(col("n_g")).as("n_g"), sum(col("d_g")).as("d_g")))
  }

  /** Jackknife summary of the ACCUMULATED ingest — exactly
    * [[Trend.jackknifeSummary]] over everything folded so far. */
  def readSummary(spark: SparkSession, stateDir: String): DataFrame =
    Trend.jackknifeSummaryFromSums(
      SketchState.read(spark, sumsPath(stateDir)))
}
