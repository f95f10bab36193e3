package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs
import graft.operators.{SketchState, Vocab}

/** Incremental Stupid-Backoff n-gram count tables over micro-batches —
  * the streaming regime of `Vocab.stupidBackoffNll`, and the formulation
  * Brants et al. 2007 built the distributed LM on in the first place:
  * the MODEL is nothing but count tables, and raw counts are ADDITIVE
  * (associative + commutative under per-key sum), so batches of training
  * text fold into the state in ANY arrival order or split and the
  * accumulated tables equal the whole-corpus tables EXACTLY — no
  * ordering caveat exists for counting, unlike the dedup streams'
  * first-arrival-wins degradation.
  *
  * State layout (r19, LSM delta): three parquet DELTA tables under
  * `statePath` — `tri(w1,w2,w3,c3)`, `bi(w2,w3,c_br)`, `uni(w3,c1)` —
  * each holding one APPENDED count-increment row-set per ingested batch
  * (the ContamStream `hits` discipline: additive state appends its
  * increments; a reader aggregates). The accumulated count of a key is
  * the SUM of its delta rows, exact because raw counts are additive
  * longs — so per-batch ingest cost is O(batch types), never
  * O(accumulated types): the pre-r19 layout re-read and re-wrote the
  * ENTIRE table per batch (`read ∪ inc → groupBy → swapReplace`), a
  * per-poll full-state rewrite that is the scale-killer at 100 TB
  * state. File count is bounded by the shared excess-triggered
  * size-tiered compaction ([[SketchState.compactIfNeeded]] — merges
  * file BANDS, never touches row content, so compaction commutes with
  * the read-side aggregation). Context marginals are NOT stored:
  * a marginal is not additive across batches, but it is a per-context
  * sum over the stored counts, so the scorer derives it with a
  * context-partitioned window (`Vocab.scoreBackoff`, shared verbatim
  * with the batch operator — the two regimes cannot drift).
  *
  * Scale shape: per batch, ONE tokenize of the batch (persisted, all
  * three increments re-derive), three TYPES-bounded groupBy increments,
  * three increment-sized appends — and NO read of accumulated state at
  * ingest. The scorer pays one per-key sum-aggregate per table at read
  * time (types-bounded, paid once per score instead of once per poll).
  *
  * Crash contract (same as ContamStream's append dirs): an interrupted
  * batch may land a PARTIAL append (Spark's commit moves files at job
  * commit); recovery is re-running the interrupted batch's ingest after
  * discarding the partial poll — the swap/tiered-merge recovery that
  * [[SketchState.append]]'s gate runs first only ever repairs COMPACTION
  * crashes (which rewrite, never add, rows). */
object NgramLmStream {

  private def tok(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))

  /** Fold one batch of TRAINING text into the count tables (delta
    * appends — O(batch types) per call, see class doc). */
  def ingestBatch(spark: SparkSession, batch: DataFrame, id: Column,
                  text: Column, statePath: String,
                  compactAfterFiles: Int = 64): Unit = {
    val toks = tok(batch, id, text).persist()
    try {
      SketchState.append(Vocab.triTable(toks), s"$statePath/tri",
        compactAfterFiles)
      SketchState.append(Vocab.biTable(toks), s"$statePath/bi",
        compactAfterFiles)
      SketchState.append(Vocab.uniTable(toks), s"$statePath/uni",
        compactAfterFiles)
    } finally toks.unpersist()
  }

  /** One accumulated count table: per-key sum over the delta rows —
    * exact (counts are additive longs), identical values to the pre-r19
    * rewrite-per-batch table. */
  private def aggTable(spark: SparkSession, path: String,
                       keys: Seq[String], cnt: String): DataFrame =
    SketchState.read(spark, path)
      .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))

  /** Score held-out docs against the accumulated tables — identical
    * output to `Vocab.stupidBackoffNll` over (all ingested text) ∪
    * (the held docs as the `id % heldMod = 0` slice) because the scorer
    * IS the batch operator's score path over tables that are exactly the
    * batch tables. Pure plan over the state parquet + `docs`; no caches
    * outlive the call. */
  def scoreFromState(spark: SparkSession, statePath: String,
                     docs: DataFrame, id: Column, text: Column,
                     alpha: Double = 0.4): DataFrame =
    Vocab.scoreBackoff(
      Vocab.docTriples(tok(docs, id, text)),
      aggTable(spark, s"$statePath/tri", Seq("w1", "w2", "w3"), "c3"),
      aggTable(spark, s"$statePath/bi", Seq("w2", "w3"), "c_br"),
      aggTable(spark, s"$statePath/uni", Seq("w3"), "c1"),
      alpha)
}
