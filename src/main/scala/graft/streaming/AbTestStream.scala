package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming A/B monitor — `Funnel.abTest` in the regime an experiment
  * actually runs: a verdict after every event poll, zero corpus access.
  *
  * State is [[Funnel.abKeyConv]]'s per-key `(k, conv)` converted-ever
  * indicator — merged by MAX, hence IDEMPOTENT: duplicate deliveries
  * and any arrival split fold to the same state (the ActiveStream
  * grain argument), so the registered query shares q236's oracle
  * verbatim. State is keys-bounded (one long per key — the smallest
  * exact state a converted-ever rate admits); the bucket is a pure
  * hash of the key, recomputed at read time, never stored. Crash-safe
  * via the shared [[SketchState.fold]]. */
object AbTestStream {

  private def convPath(stateDir: String) = s"$stateDir/key_conv"

  /** Fold one batch of events into the per-key conversion state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, key: Column,
                  typ: Column, convertType: String,
                  stateDir: String): Unit = {
    SketchState.fold(Funnel.abKeyConv(batch, key, typ, convertType),
      convPath(stateDir))(
      _.groupBy(col("k")).agg(max(col("conv")).as("conv")))
  }

  /** The A/B verdict of the ACCUMULATED ingest — exactly
    * [[Funnel.abTest]] over everything folded so far. */
  def readVerdict(spark: SparkSession, stateDir: String,
                  zCrit: Double = 1.96): DataFrame =
    Funnel.abTestFromKeyConv(
      SketchState.read(spark, convPath(stateDir)), zCrit)
}
