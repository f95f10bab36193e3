package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The arrival splits the registry's streaming sims ingest. Every sim
  * certifies a stream by ingesting a split and matching the one-shot
  * oracle, so the split shapes are shared: [[modSplits]] (every batch
  * spans the key range) and [[idThirds]] (id-monotone batches). The
  * ts-value split of the event streams is [[TdqStreaming.tsValueBatches]].
  * Each sim keeps its state and sinks in a
  * [[graft.operators.CacheHygiene.tempDir]]: the returned plan reads
  * those files, so they cannot be deleted eagerly, and Bench reps would
  * orphan one dir per rep outside the JVM-exit sweep.
  */
private[queries] object StreamSim {

  /** `df` as `k` arrival batches, batch `b` = rows with `key % k == b`:
    * every batch spans the whole key range. Keys must be non-negative (a
    * negative remainder matches no batch, as `% k` does in the oracles). */
  def modSplits(df: DataFrame, key: Column, k: Int = 3): Seq[DataFrame] =
    (0 until k).map(b => df.filter(key % k === b))

  /** `df` as 3 arrival batches of ascending `id` VALUE ranges, cut from
    * the ACTUAL min/max (ids may be negative or start anywhere; assuming
    * ids >= 0 would starve a batch) — the contract of the id-monotone
    * streams. Null ids arrive in no batch. */
  def idThirds(df: DataFrame, id: String): Seq[DataFrame] = {
    val mm = df.agg(min(col(id)), max(col(id))).collect()(0)
    val lo = mm.getLong(0)
    val span = mm.getLong(1) - lo + 1
    val (c1, c2) = (lo + span / 3, lo + 2 * span / 3)
    Seq(df.filter(col(id) < c1),
      df.filter(col(id) >= c1 && col(id) < c2),
      df.filter(col(id) >= c2))
  }
}
