package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Datasheet, SketchState}

/** Streaming robust-outlier monitoring — `Datasheet.robustOutliers` in
  * the regime a recurring ingest runs it: the per-source median/MAD
  * panel answerable after every batch without rescanning the
  * accumulated corpus.
  *
  * State is the per-(source, value) count table
  * ([[Datasheet.valueCounts]]' grain) — additive, so the accumulated
  * table equals the one-shot table EXACTLY under any arrival split,
  * and the panel read ([[readPanel]], `robustOutliersFromCounts` over
  * state) equals the one-shot batch panel bit for bit — the registered
  * query shares q177's oracle verbatim. State is bounded by DISTINCT
  * values per source (lengths/counts/snapped scores — the same bound
  * the exact-percentile batch path already carries), with the shared
  * crash-safe [[SketchState.fold]] per batch.
  *
  * Per poll: one scan of the BATCH collapsing map-side to its distinct
  * (src, value) increment, one distinct-values-bounded merge. Unlike
  * mean/σ (two running moments), median/MAD has NO constant-size
  * sufficient statistic — the value-count table IS the minimal exact
  * state, which is why the robust panel streams at this grain. */
object OutlierStream {

  private def cntPath(stateDir: String) = s"$stateDir/value_counts"

  /** Fold one batch of documents into the (src, value) count state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, value: Column,
                  group: Column, stateDir: String): Unit = {
    SketchState.fold(Datasheet.valueCounts(batch, value, group),
      cntPath(stateDir))(
      _.groupBy(col("src"), col("v")).agg(sum(col("c")).as("c")))
  }

  /** The median/MAD outlier panel of the ACCUMULATED ingest — exactly
    * [[Datasheet.robustOutliers]]' output over everything folded. */
  def readPanel(spark: SparkSession, stateDir: String, z: Double)
      : DataFrame =
    Datasheet.robustOutliersFromCounts(
      SketchState.read(spark, cntPath(stateDir)), z)
}
