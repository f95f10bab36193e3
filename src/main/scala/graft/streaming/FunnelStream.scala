package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Funnel, SketchState}

/** Streaming ordered funnel (strict or windowed) — the conversion
  * dashboard fed by an event stream instead of a nightly batch scan.
  *
  * State is the funnel's own sufficient statistic: ONE row per
  * stage-1-entered key holding its earliest per-stage conversion times
  * `(k, t0 … t{S−1})` (nullable tail). That is keys-bounded — no event
  * retention — because under per-key `ts`-MONOTONE arrival (batch
  * boundaries split on the ts VALUE, the [[ScdStream]] contract, so
  * equal instants co-arrive) a discarded event can never become
  * relevant: stage times only ever get set by later-arriving events
  * with later timestamps, and an event that failed `ts > t_i` against
  * the then-current chain would fail it against any future chain too
  * (future t_i are ≥ the times that rejected it, since each stage keeps
  * its EARLIEST qualifying time and earlier qualifying events would
  * have arrived earlier).
  *
  * Per poll: the batch's stage events probe out their keys' state rows;
  * each stored stage time is replayed as a synthetic stage event (the
  * [[ScdStream]] replay move), and one batch-sized
  * [[Funnel.stageReached]] cascade over synthetic ∪ batch re-derives
  * those keys' wide rows; untouched keys union back unchanged under the
  * crash-safe [[SketchState.swapReplace]]. Batch equivalence: the
  * accumulated state equals the one-shot cascade EXACTLY, so the
  * registered query shares the batch windowed-funnel oracle verbatim.
  *
  * Scale shape: per-poll work is batch-sized (batch keys × S stage
  * joins); the read finish is the stage-cardinality
  * [[Funnel.funnelFinish]] over S counts of the state — never a
  * corpus-sized shuffle.
  */
object FunnelStream {

  private def sPath(stateDir: String) = s"$stateDir/stages"

  private def tCol(i: Int) = s"t$i"

  /** Fold one batch of events into the per-key stage-times state.
    * `batch` must carry `keyCol`/`tsCol`/`typCol`; events not matching a
    * stage type are ignored. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                  tsCol: String, typCol: String, stages: Seq[String],
                  maxGapSeconds: Option[Long], stateDir: String): Unit = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val path = sPath(stateDir)
    // the event key rides as "__ek" so stageReached's join against its
    // own "k"-keyed reach tables never self-shadows
    val ev = batch.select(col(keyCol).as("__ek"),
        col(tsCol).cast("timestamp").as("ts"), col(typCol).as("typ"))
      .where(col("typ").isin(stages.map(lit(_)): _*) &&
        col("__ek").isNotNull)
    def widen(events: DataFrame): DataFrame = {
      val cascade = Funnel.stageReached(events, col("__ek"), col("ts"),
        col("typ"), stages, maxGapSeconds)
      // fold the cascade wide: stage-1 keys carry the row, deeper stage
      // times left-join on (nullable tail). Each reached_i is keyed by k.
      cascade.zipWithIndex.map { case ((_, df), i) =>
        df.select(col("k"), col("t").as(tCol(i)))
      }.reduceLeft((acc, nxt) =>
        acc.join(nxt, Seq("k"), "left"))
    }
    val merged = SketchState.readOpt(spark, path) match {
      case None => widen(ev)
      case Some(st) =>
        val batchKeys = ev.select(col("__ek").as("k")).distinct()
        val touched = st.join(batchKeys, Seq("k"), "left_semi")
        val untouched = st.join(batchKeys, Seq("k"), "left_anti")
        // replay each stored stage time as a synthetic event of that
        // stage; the cascade over synthetic ∪ batch re-derives exactly
        val synthetic = stages.indices.map { i =>
          touched.where(col(tCol(i)).isNotNull)
            .select(col("k").as("__ek"), col(tCol(i)).as("ts"),
              lit(stages(i)).as("typ"))
        }.reduce(_ unionByName _)
        untouched.unionByName(widen(synthetic.unionByName(ev)))
    }
    SketchState.swapReplace(merged, path)
  }

  /** The accumulated funnel — [[Funnel.funnelFinish]] over per-stage
    * counts of the state; equals the one-shot batch funnel under the
    * arrival contract. */
  def readFunnel(spark: SparkSession, stages: Seq[String],
                 stateDir: String): DataFrame = {
    val st = SketchState.read(spark, sPath(stateDir))
    val perStage = stages.zipWithIndex.map { case (s, i) =>
      st.agg(count(col(tCol(i))).as("n"))
        .select(lit(i + 1).as("stage_idx"), lit(s).as("stage"),
          col("n").cast("long").as("n_keys"))
    }.reduce(_ union _)
    Funnel.funnelFinish(perStage)
  }
}
