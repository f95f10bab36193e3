package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Mix, SketchState}

/** Streaming DoReMi-lite reweighting — `Mix.doremiReweight` in the
  * regime a recurring ingest runs it: domain weights re-derived after
  * every batch without rescanning the accumulated corpus.
  *
  * State is the per-(source, token) count table `(src, t, c_st)` —
  * [[Mix.doremiCounts]]' grain. Counts are additive (associative +
  * commutative per-key sums), so batches fold in ANY arrival order or
  * split and the accumulated table equals the one-shot table EXACTLY —
  * the NgramLmStream batch-equivalence argument; the registered query
  * therefore shares q174's oracle verbatim. State size is
  * sources × vocabulary (TYPES-bounded, the same bound as the LM count
  * tables — it grows with DISTINCT tokens, not with corpus rows), with
  * the shared crash-safe [[SketchState.fold]] per batch.
  *
  * Per poll: one tokenize of the BATCH collapsing map-side to its
  * distinct (src, token) increment, one vocab-sized merge with state.
  * The weight read ([[readWeights]]) is `doremiReweightFromCounts`
  * over the state table: zero corpus access. */
object DoremiStream {

  private def cntPath(stateDir: String) = s"$stateDir/src_token_counts"

  /** Fold one batch of documents into the (src, token) count state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, text: Column,
                  source: Column, stateDir: String): Unit = {
    SketchState.fold(Mix.doremiCounts(batch, text, source), cntPath(stateDir))(
      _.groupBy(col("src"), col("t")).agg(sum(col("c_st")).as("c_st")))
  }

  /** Domain weights of the ACCUMULATED ingest — exactly
    * [[Mix.doremiReweight]]'s output over everything folded so far. */
  def readWeights(spark: SparkSession, stateDir: String, eta: Double,
                  smoothing: Double): DataFrame =
    Mix.doremiReweightFromCounts(
      SketchState.read(spark, cntPath(stateDir)), eta, smoothing)
}
