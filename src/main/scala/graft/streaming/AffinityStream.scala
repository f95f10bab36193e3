package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Datasheet, SketchState}

/** Streaming source-affinity map — `Datasheet.sourceAffinity` in the
  * regime a recurring embedding ingest runs it: after every batch,
  * "which feeds have converged into the same domain?" answered with
  * zero corpus access.
  *
  * State is [[Datasheet.sourceAffinityRaw]]'s wide row per source
  * `(src, n, smax, s0..s{dims−1})` — every column associative (count
  * sum, max, long component sums), so batches fold in ANY arrival
  * order or split and the accumulated state equals the one-shot raw
  * table EXACTLY (the OovStream batch-equivalence argument); the
  * registered query therefore shares q216's oracle verbatim. State
  * size is sources × (dims + 2) longs — sources-bounded, vector-free.
  *
  * Per poll: one wide hash aggregate of the BATCH (map-side, codegen'd
  * — the ops20-measured shape) and one sources-sized merge with state,
  * via the shared crash-safe [[SketchState.fold]]. The read
  * applies [[Datasheet.sourceAffinityFinish]] — including its
  * n·max|v9| Long-overflow guard, whose inputs merge correctly even if
  * a component sum has already wrapped, so a wrapped sum can never
  * escape a read. */
object AffinityStream {

  private def rawPath(stateDir: String) = s"$stateDir/affinity_raw"

  /** Fold one batch of embeddings into the per-source wide state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, vec: Column,
                  grp: Column, dims: Int, stateDir: String): Unit = {
    SketchState.fold(Datasheet.sourceAffinityRaw(batch, vec, grp, dims),
      rawPath(stateDir))(Datasheet.sourceAffinityMerge(_, dims))
  }

  /** Affinity pairs of the ACCUMULATED ingest — exactly
    * [[Datasheet.sourceAffinity]]'s output over everything folded. */
  def readAffinity(spark: SparkSession, dims: Int, stateDir: String)
      : DataFrame =
    Datasheet.sourceAffinityFinish(
      SketchState.read(spark, rawPath(stateDir)), dims)
}
