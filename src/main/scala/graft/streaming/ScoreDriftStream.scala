package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Classify, SketchState}

/** Streaming score-distribution monitoring — [[Classify.scoreDrift]] in
  * its real regime: documents arrive in micro-batches, each batch is
  * scored by the FROZEN filter, and "has the score histogram drifted off
  * the reference?" must be answerable after every batch without
  * rescoring the accumulated corpus.
  *
  * State is the `(bin, n)` histogram ([[Classify.binCounts]]' grain).
  * Bin counts are ADDITIVE, so per-batch histograms fold into the state
  * exactly under any arrival split (the MixDriftStream argument), with
  * the same crash-safe [[SketchState.fold]] per batch. The drift
  * read is [[Classify.scoreDriftFromCounts]] over a reference histogram
  * (computed once at filter-tuning time) and the state — zero corpus
  * access per poll; per batch, one score+bin scan of the BATCH
  * collapsing map-side to ≤ bins rows. */
object ScoreDriftStream {

  private def histPath(stateDir: String) = s"$stateDir/hist"

  /** Fold one batch of scored rows into the bin-histogram state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, score: Column,
                  stateDir: String, bins: Int = 10): Unit = {
    SketchState.fold(Classify.binCounts(batch, score, bins),
      histPath(stateDir))(
      _.groupBy(col("bin")).agg(sum(col("n")).as("n")))
  }

  /** Drift of the ACCUMULATED histogram against a reference `(bin, n)`
    * histogram — output exactly [[Classify.scoreDriftFromCounts]]'. */
  def driftVsReference(spark: SparkSession, stateDir: String,
                       referenceCounts: DataFrame): DataFrame =
    Classify.scoreDriftFromCounts(referenceCounts,
      SketchState.read(spark, histPath(stateDir)))
}
