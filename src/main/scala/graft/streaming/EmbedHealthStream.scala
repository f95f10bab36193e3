package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{Datasheet, SketchState}

/** Streaming embedding health — [[Datasheet.embeddingHealth]] in its
  * real regime: embedding batches arrive from the encoder as they are
  * produced, and "is the embedder still healthy?" (ragged dims,
  * zero-norm rows, collapsed norms) must be answerable after every
  * batch without rescanning accumulated vectors.
  *
  * State is the raw mergeable aggregate ([[Datasheet
  * .embeddingHealthRaw]]'s grain — counts, min/max, the DECIMAL(38,0)
  * fixed-point norm sum): every column is associative, so per-batch
  * tables fold into the state EXACTLY under any arrival split (the
  * MixDriftStream argument) and the read equals the one-shot panel.
  * Per batch: one map-side scan of the BATCH collapsing to a
  * groups-bounded increment, one groups-sized merge through the
  * crash-safe [[SketchState.fold]]. */
object EmbedHealthStream {

  private def rawPath(stateDir: String) = s"$stateDir/raw"

  /** Fold one batch of embeddings into the health state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, vec: Column,
                  group: Column, stateDir: String): Unit = {
    SketchState.fold(Datasheet.embeddingHealthRaw(batch, vec, group),
      rawPath(stateDir))(
      Datasheet.embeddingHealthMerge)
  }

  /** The accumulated health panel — identical to the one-shot
    * [[Datasheet.embeddingHealth]] over everything ingested. */
  def health(spark: SparkSession, stateDir: String): DataFrame =
    Datasheet.embeddingHealthFinish(
      SketchState.read(spark, rawPath(stateDir)))
}
