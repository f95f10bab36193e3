package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming last-touch attribution — each conversion is credited the
  * instant it arrives, against the touches seen so far.
  *
  * Two stores, both bounded:
  *  - `touch/` — ONE row per key: its latest touch `(k, tts, channel,
  *    eid)` (keys-bounded). Under per-key ts-MONOTONE arrival (batch
  *    boundaries split on the ts VALUE — the [[ScdStream]] contract, so
  *    equal instants co-arrive) only the latest touch can ever win a
  *    FUTURE conversion's as-of lookup, so older touches need no
  *    retention; per-instant channel ties resolve inside the poll by
  *    the batch operator's own `max_by(channel, eventId)` collapse.
  *  - `rollup/` — per-poll `(channel, n, s)` channel partials
  *    (channels-bounded, ADDITIVE: cents-snapped long sums fold exactly
  *    under any arrival split).
  *
  * Per poll: batch conversions as-of-probe (prior last touches for the
  * batch's keys) ∪ (batch touches) through the SAME
  * [[Funnel.assignLastTouch]] core as the batch operator — the verdict
  * per conversion is FINAL (a later touch has a later timestamp than
  * every already-processed conversion, so it can never re-win one) —
  * then folds the channel partials and advances the per-key last touch
  * in ONE [[SketchState.swapReplaceMany]] commit: both tables live as
  * subdirectories of a single state dir swapped by one parent rename,
  * so a crash can never land the rollup with the batch's conversions
  * while the touch state lacks its touches (the split that two
  * independent swaps permitted). Batch equivalence is exact, so the
  * registered query shares the batch attribution oracle verbatim.
  *
  * Scale shape: per-poll work is batch-sized (batch keys semi-join +
  * one as-of sort-merge over batch-cardinality rows); the read finish
  * is the channels-cardinality [[Funnel.attributionFinish]].
  */
object AttributionStream {

  // both tables under ONE swapped parent — their consistency is joint
  private def pairPath(stateDir: String) = s"$stateDir/state"
  private def touchSub = "touch"
  private def rollupSub = "rollup"

  /** Fold one batch of events: attribute its conversions, advance the
    * per-key last-touch state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                  tsCol: String, typCol: String, eidCol: String,
                  valCol: String, conversionType: String,
                  touchTypes: Seq[String], lookbackSeconds: Long,
                  stateDir: String): Unit = {
    require(touchTypes.nonEmpty,
      "attribution needs at least one touch type")
    require(lookbackSeconds >= 1, // the batch operator's contract, shared
      s"lookbackSeconds must be >= 1, got $lookbackSeconds")
    val pairP = pairPath(stateDir)
    val ev = batch.select(col(keyCol).as("k"),
      col(tsCol).cast("timestamp").as("ts"), col(typCol).as("typ"),
      col(eidCol).as("eid"), col(valCol).as("value"))
    val conv = ev.where(col("typ") === conversionType)
      .select(col("k"), col("ts").as("cts"),
        round(col("value") * 100).cast("long").as("vc"))
    // one winner per (key, instant) — the batch operator's collapse —
    // plus the max eid for the cross-batch latest-touch tie-break
    val batchTouches = ev
      .where(col("typ").isin(touchTypes.map(lit(_)): _*))
      .groupBy(col("k"), col("ts").as("tts"))
      .agg(max_by(col("typ"), col("eid")).as("channel"),
        max(col("eid")).as("eid"))
    val state = SketchState.readManyOpt(spark, pairP)
    val prior = state.map(_(touchSub))
    // eligible touches for THIS batch's conversions: each conversion
    // key's stored last touch ∪ the batch's own touches (instants never
    // repeat across batches under the ts-value split)
    val eligible = prior match {
      case Some(st) =>
        st.join(conv.select("k").distinct(), Seq("k"), "left_semi")
          .unionByName(batchTouches)
      case None => batchTouches
    }
    val partial = Funnel.assignLastTouch(conv,
        eligible.select("k", "tts", "channel"), lookbackSeconds)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
    val mergedRollup = state match {
      case Some(part) =>
        part(rollupSub).unionByName(partial)
          .groupBy(col("channel"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      case None => partial
    }
    // advance the per-key last touch: max by (tts, eid)
    val mergedTouch = prior match {
      case Some(st) => st.unionByName(batchTouches)
      case None => batchTouches
    }
    val nextTouch = mergedTouch.groupBy(col("k"))
      .agg(max_by(struct(col("tts"), col("channel"), col("eid")),
        struct(col("tts"), col("eid"))).as("w"))
      .select(col("k"), col("w.tts").as("tts"),
        col("w.channel").as("channel"), col("w.eid").as("eid"))
    // ONE commit for the pair: the swap parent materializes both tables
    // (reading the live pair is safe — the copy completes before the
    // live dir is touched), then a single rename publishes them together
    SketchState.swapReplaceMany(spark,
      Seq(rollupSub -> mergedRollup.coalesce(1), touchSub -> nextTouch),
      pairP)
  }

  /** The accumulated attribution — [[Funnel.attributionFinish]] over
    * the additive channel partials; equals the one-shot batch operator
    * under the arrival contract. */
  def readAttribution(spark: SparkSession, stateDir: String): DataFrame =
    Funnel.attributionFinish(
      SketchState.readPart(spark, pairPath(stateDir), rollupSub))
}
