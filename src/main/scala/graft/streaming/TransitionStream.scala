package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming event-transition matrix — `Funnel.transitionMatrix` in its
  * real regime: the user-journey Markov model updated after every event
  * batch with zero corpus access.
  *
  * Adjacency counts are NOT purely additive across batches: the pair
  * spanning a batch boundary (a key's last event in batch N → its first
  * in batch N+1) belongs to neither batch alone. The state therefore
  * holds TWO tables: the types²-bounded `(from_type, to_type, n)` count
  * table, and the keys-bounded last-event table `(key cols, ts, tie,
  * typ)` whose only job is to stitch those boundary pairs. Per poll: one
  * key-partitioned window over the BATCH (its internal adjacencies), a
  * keys-sized join minting boundary pairs from the last-event state, an
  * additive types²-merge, and a max-by-(ts, tie) refresh of the
  * last-event table — all batch- or state-bounded. The two tables are
  * one joint state (the boundary pairs a batch adds are stitched from the
  * last events it leaves), so they commit together in ONE
  * [[SketchState.swapReplaceMany]]: a crash can never land counts that
  * include a batch whose last events were not advanced.
  *
  * Batch equivalence: under per-key `(ts, tie)`-monotone arrival the
  * stitched counts equal the one-shot table EXACTLY (spec-pinned across
  * splits), so the registered query shares q202's oracle verbatim. The
  * read ([[readMatrix]]) is `transitionsFromCounts` over the count
  * state. */
object TransitionStream {

  // both tables under ONE swapped parent — their consistency is joint
  private def pairPath(stateDir: String) = s"$stateDir/state"
  private val countsSub = "pair_counts"
  private val lastSub = "last_events"

  /** Fold one batch of events into the transition state. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, keys: Seq[String],
                  tsCol: String, tieCol: String, typCol: String,
                  stateDir: String): Unit = {
    val pairP = pairPath(stateDir)
    val inBatch = Funnel.transitionCounts(batch,
      struct(keys.map(col): _*), col(tsCol), col(tieCol), col(typCol))
    val batchFirsts = batch
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col(tsCol), col(tieCol), col(typCol))).as("f"))
      .select(keys.map(col) :+ col(s"f.$typCol").as("__first_typ"): _*)
    val batchLasts = batch
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col(tsCol), col(tieCol), col(typCol))).as("l"))
      .select(keys.map(col) ++ Seq(col(s"l.$tsCol").as(tsCol),
        col(s"l.$tieCol").as(tieCol), col(s"l.$typCol").as(typCol)): _*)
    val (counts, lasts) = SketchState.readManyOpt(spark, pairP) match {
      case None => (inBatch, batchLasts)
      case Some(part) =>
        val prevLast = part(lastSub)
        // boundary pairs: each key's stored last event → its first event
        // of THIS batch
        val boundary = prevLast
          .select(keys.map(col) :+ col(typCol).as("__prev_typ"): _*)
          .join(batchFirsts, keys)
          .groupBy(col("__prev_typ").as("from_type"),
            col("__first_typ").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val merged = part(countsSub).unionByName(inBatch)
          .unionByName(boundary)
          .groupBy(col("from_type"), col("to_type"))
          .agg(sum(col("n")).as("n"))
        // per-key freshest event wins (monotone arrival makes this the
        // batch's last where present, the stored one otherwise)
        val refreshed = prevLast.unionByName(batchLasts)
          .groupBy(keys.map(col): _*)
          .agg(max(struct(col(tsCol), col(tieCol), col(typCol))).as("l"))
          .select(keys.map(col) ++ Seq(col(s"l.$tsCol").as(tsCol),
            col(s"l.$tieCol").as(tieCol), col(s"l.$typCol").as(typCol)): _*)
        (merged, refreshed)
    }
    // ONE commit for the pair: counts that include this batch land only
    // together with the last events that stitch its successor's boundary
    SketchState.swapReplaceMany(spark,
      Seq(countsSub -> counts, lastSub -> lasts), pairP)
  }

  /** The accumulated transition matrix — exactly
    * [[Funnel.transitionMatrix]]'s output over everything folded so
    * far. */
  def readMatrix(spark: SparkSession, stateDir: String): DataFrame =
    Funnel.transitionsFromCounts(
      SketchState.readPart(spark, pairPath(stateDir), countsSub))
}
