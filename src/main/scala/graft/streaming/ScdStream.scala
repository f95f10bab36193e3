package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Scd, SketchState}

/** Streaming SCD2 — the warehouse MERGE pattern run incrementally, the
  * way a Delta/Hudi history table actually ingests: each poll folds a
  * batch of change events into the accumulated version table, closing
  * open versions a new change supersedes and suppressing no-op changes
  * ACROSS batch boundaries (a batch opening with the current version's
  * value must not mint a duplicate version).
  *
  * State is the SCD2 version table itself — the operator's own output,
  * which is the minimal state: closed versions are immutable history,
  * and only each touched key's CURRENT version participates in a merge.
  * Per poll: the batch's keys semi-join out their open versions, each
  * open version is replayed as a synthetic change event (its original
  * `valid_from` and tie-break id, stored in state for exactly this), and
  * ONE batch-sized [[Scd.scd2]] over synthetic ∪ batch re-derives those
  * keys' tails; untouched history unions back unchanged, with the shared
  * crash-safe [[SketchState.swapReplace]].
  *
  * Batch equivalence: under per-key `(ts, tieBreak)`-MONOTONE arrival
  * (batch boundaries respect each key's event order — any split on the
  * ts VALUE qualifies, since equal timestamps land in the same batch),
  * the accumulated table equals the one-shot [[Scd.scd2]] EXACTLY — the
  * registered query shares q190's oracle verbatim, and the spec pins
  * split invariance including cross-boundary suppression and closing.
  * Out-of-order arrival needs a reconciliation rerun, the documented
  * SegDedupStream posture.
  *
  * Scale shape: per poll the work is batch-sized (batch keys × their
  * open versions + the batch itself through scd2's one key shuffle);
  * the untouched-history union is a metadata plan over the state dir,
  * rewritten by the swap — compaction-free because versions are
  * append-mostly (only open versions of touched keys churn).
  */
object ScdStream {

  private def vPath(stateDir: String) = s"$stateDir/versions"

  /** Fold one batch of change events into the version-table state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, keys: Seq[String],
                  tsCol: String, tieCol: String, attrCol: String,
                  carryCols: Seq[String], stateDir: String): Unit = {
    val path = vPath(stateDir)
    val carryAll = tieCol +: carryCols
    def build(ev: DataFrame): DataFrame =
      Scd.scd2(ev, keys, col(tsCol), col(tieCol), col(attrCol),
        carryAll.map(col))
    val evCols = keys ++ Seq(tsCol, tieCol, attrCol) ++ carryCols
    val merged = SketchState.readOpt(spark, path) match {
      case None => build(batch)
      case Some(st) =>
        val batchKeys = batch.select(keys.map(col): _*).distinct()
        val cur = st.where(col("is_current"))
        // each touched key's open version, replayed as a change event at
        // its ORIGINAL (valid_from, tie) so suppression and tie order
        // re-derive exactly
        val synthetic = cur.join(batchKeys, keys, "left_semi")
          .select(keys.map(col) ++ Seq(col("valid_from").as(tsCol),
            col(tieCol), col("version_value").as(attrCol)) ++
            carryCols.map(col): _*)
        val untouched = st.where(!col("is_current"))
          .unionByName(cur.join(batchKeys, keys, "left_anti"))
        untouched.unionByName(build(
          synthetic.unionByName(batch.select(evCols.map(col): _*))))
    }
    SketchState.swapReplace(merged, path)
  }

  /** The accumulated version table — exactly [[Scd.scd2]]'s output over
    * everything folded so far (the tie-break helper column dropped). */
  def readVersions(spark: SparkSession, stateDir: String,
                   tieCol: String): DataFrame =
    SketchState.read(spark, vPath(stateDir)).drop(tieCol)
}
