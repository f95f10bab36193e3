package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SketchState, Vocab}

/** Streaming OOV-rate monitoring — `Vocab.oovRateByGroup` in the regime
  * a recurring ingest runs it: after every batch, "will a min-frequency
  * vocabulary trained on everything seen so far still shred feed X?" —
  * answered with zero corpus access.
  *
  * State is the per-(group, token) occurrence count table `(grp, t,
  * cnt)` — [[Vocab.oovCounts]]' grain. Counts are additive, so batches
  * fold in ANY arrival order or split and the accumulated table equals
  * the one-shot table EXACTLY (the DoremiStream batch-equivalence
  * argument); the registered query therefore shares q195's oracle
  * verbatim. State size is groups × vocabulary (TYPES-bounded — it
  * grows with DISTINCT tokens, not corpus rows), with the shared
  * crash-safe [[SketchState.fold]] per batch.
  *
  * Per poll: one tokenize of the BATCH collapsing map-side to its
  * distinct (grp, token) increment, one vocab-sized merge with state.
  * The rate read ([[readRates]]) is `oovRateFromCounts` over the state
  * table: the global totals re-aggregate the state, never the corpus.
  */
object OovStream {

  private def cntPath(stateDir: String) = s"$stateDir/grp_token_counts"

  /** Fold one batch of documents into the (grp, token) count state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, grp: Column,
                  text: Column, stateDir: String): Unit = {
    SketchState.fold(Vocab.oovCounts(batch, grp, text), cntPath(stateDir))(
      _.groupBy(col("grp"), col("t")).agg(sum(col("cnt")).as("cnt")))
  }

  /** OOV rates of the ACCUMULATED ingest — exactly
    * [[Vocab.oovRateByGroup]]'s output over everything folded so far. */
  def readRates(spark: SparkSession, stateDir: String,
                minCount: Long): DataFrame =
    Vocab.oovRateFromCounts(
      SketchState.read(spark, cntPath(stateDir)), minCount)

  /** Zipf rank-frequency fit of the ACCUMULATED ingest — the SAME count
    * state read through [[Vocab.zipfSlopeFromCounts]]: one state table
    * serves both tokenizer-coverage and corpus-health monitoring, which
    * is the point of keeping the sufficient statistic rather than the
    * answers. */
  def readZipf(spark: SparkSession, stateDir: String): DataFrame =
    Vocab.zipfSlopeFromCounts(SketchState.read(spark, cntPath(stateDir)))

  /** Vocabulary-concentration panel of the ACCUMULATED ingest — the
    * THIRD monitor served by the same (grp, token) count state
    * (coverage [[readRates]], Zipf health [[readZipf]], concentration
    * here): exactly [[Vocab.concentrationByGroup]]'s output over
    * everything folded so far. */
  def readConcentration(spark: SparkSession, stateDir: String)
      : DataFrame =
    Vocab.concentrationFromCounts(
      SketchState.read(spark, cntPath(stateDir)))
}
