package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming weekly cohort retention — the retention matrix advanced by
  * every event poll, zero corpus re-scans.
  *
  * State is [[Funnel.retentionFinish]]'s own pair of sufficient
  * statistics, both APPEND-ONLY delta stores:
  *  - `first/`  per-poll `(k, t0)` batch minima; the key's cohort week
  *    derives at read from `min(t0)` over its appended rows — min-merge
  *    is IDEMPOTENT and order-free, so no rewrite per poll and any
  *    arrival split (or at-least-once redelivery) folds to the same
  *    cohort (keys-bounded after read-side merge);
  *  - `active/` distinct `(k, aw)` activity weeks, appended after an
  *    anti-join against the accumulated set (entity-weeks-bounded; a
  *    replayed batch's pairs all anti-join away, so appends are
  *    effectively idempotent too).
  *
  * That makes this the loosest-contract stream in the family: NO
  * ts-monotone arrival requirement at all — both statistics are
  * order-free, so the accumulated state equals the one-shot batch
  * operator for ANY split of events into batches, and the registered
  * query shares q192's oracle verbatim.
  *
  * Per poll: two batch-sized aggregates, one batch-vs-state anti-join
  * probe, delta-sized appends (the shared excess-triggered compaction
  * keeps file counts bounded). The read is the cohorts×offsets-bounded
  * [[Funnel.retentionFinish]] over a key-grained min-merge — never an
  * event re-scan.
  */
object RetentionStream {

  private def fPath(stateDir: String) = s"$stateDir/first"
  private def aPath(stateDir: String) = s"$stateDir/active"

  /** Fold one batch of events (`keyCol`, `tsCol`) into the two delta
    * stores. Null keys are excluded at ingest — exactness is unharmed:
    * the batch operator's null-key rows never reach ITS output either
    * (its cells join is a null-unsafe equi-join on the key), so batch
    * and stream agree exactly even on corpora with null keys. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                  tsCol: String, stateDir: String,
                  compactAfterFiles: Int = 64): Unit = {
    val fp = fPath(stateDir)
    val ap = aPath(stateDir)
    val ev = batch.select(col(keyCol).as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .where(col("k").isNotNull)
    SketchState.append(ev.groupBy(col("k")).agg(min(col("ts")).as("t0")),
      fp, compactAfterFiles)
    val bActive = ev
      .select(col("k"), date_trunc("week", col("ts")).cast("date").as("aw"))
      .distinct()
    val newActive = SketchState.readOpt(spark, ap)
      .fold(bActive)(bActive.join(_, Seq("k", "aw"), "left_anti"))
    SketchState.append(newActive, ap, compactAfterFiles)
  }

  /** The accumulated retention matrix — equals the one-shot
    * [[Funnel.weeklyRetention]] for ANY arrival split. */
  def readRetention(spark: SparkSession, stateDir: String): DataFrame = {
    val firstWeek = SketchState.read(spark, fPath(stateDir))
      .groupBy(col("k")).agg(min(col("t0")).as("t0"))
      .select(col("k"), date_trunc("week", col("t0")).cast("date").as("cw"))
    val activeWeeks = SketchState.read(spark, aPath(stateDir))
    Funnel.retentionFinish(firstWeek, activeWeeks)
  }
}
