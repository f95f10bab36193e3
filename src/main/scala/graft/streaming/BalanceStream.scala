package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Datasheet, SketchState}

/** Streaming categorical balance — `Datasheet.categoricalBalance` in
  * the regime a recurring ingest runs it: after every batch, "is any
  * feed's composition skewing off the corpus?" with zero corpus
  * access.
  *
  * State is [[Datasheet.categoricalCounts]]' `(src, cat, o)` grain —
  * counts, hence ADDITIVE: batches fold in any arrival order or split
  * and the accumulated table equals the one-shot table EXACTLY (the
  * OovStream argument), so the registered query shares q220's oracle
  * verbatim. State size is sources × categories, with the shared
  * crash-safe [[SketchState.fold]] per batch.
  *
  * Per poll: one (src, cat) count of the BATCH (map-side combined) and
  * one state-sized merge. The χ² read re-derives totals and the
  * expectation grid from the state table — never the corpus. */
object BalanceStream {

  private def cntPath(stateDir: String) = s"$stateDir/src_cat_counts"

  /** Fold one batch into the (src, cat) count state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, grp: Column,
                  cat: Column, stateDir: String): Unit = {
    SketchState.fold(Datasheet.categoricalCounts(batch, grp, cat),
      cntPath(stateDir))(
      _.groupBy(col("src"), col("cat")).agg(sum(col("o")).as("o")))
  }

  /** χ² panel of the ACCUMULATED ingest — exactly
    * [[Datasheet.categoricalBalance]]'s output over everything
    * folded so far. */
  def readBalance(spark: SparkSession, stateDir: String): DataFrame =
    Datasheet.categoricalBalanceFromCounts(
      SketchState.read(spark, cntPath(stateDir)))
}
