package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Datasheet, SketchState}

/** Streaming corpus-mix monitoring — the regime `Datasheet.mixDrift`
  * actually runs in: ingest arrives in micro-batches, and the question
  * "has the source mix drifted off the reference?" must be answerable
  * after every batch without rescanning the accumulated corpus.
  *
  * State is the per-source volume table `(src, n_docs, n_tokens)` —
  * [[Datasheet.sourceVolumes]]' grain. Volumes are COUNTS, so they are
  * additive (associative + commutative per-key sums): batches fold into
  * the state in ANY arrival order or split and the accumulated table
  * equals the whole-corpus volumes EXACTLY — the NgramLmStream
  * batch-equivalence argument, with the same crash-safe
  * [[SketchState.fold]] per batch.
  *
  * Scale shape: per batch, one tokenize of the BATCH collapsing
  * map-side to a sources-bounded increment, one merge of
  * (state ∪ increment) — sources-bounded, metadata-sized. The drift
  * read ([[driftVsReference]]) is `Datasheet.mixDriftFromVolumes` over
  * the state table and a reference volume table: zero corpus access.
  * The reference is volumes too — compute it ONCE from the tuning-time
  * corpus (or load the shipped datasheet) and reuse every poll. */
object MixDriftStream {

  private def volPath(stateDir: String) = s"$stateDir/volumes"

  /** Fold one batch of documents into the per-source volume state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, text: Column,
                  source: Column, stateDir: String): Unit = {
    SketchState.fold(Datasheet.sourceVolumes(batch, text, source),
      volPath(stateDir))(
      _.groupBy(col("src"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens")))
  }

  /** Drift of the ACCUMULATED ingest against a reference volume table
    * (`(src, n_docs, n_tokens)` — [[Datasheet.sourceVolumes]] of the
    * corpus the mixture weights were tuned on). Output is exactly
    * [[Datasheet.mixDrift]]'s: reference as the "old" side, the
    * accumulated state as the "new" side. */
  def driftVsReference(spark: SparkSession, stateDir: String,
                       referenceVolumes: DataFrame): DataFrame =
    Datasheet.mixDriftFromVolumes(referenceVolumes,
      SketchState.read(spark, volPath(stateDir)))
}
