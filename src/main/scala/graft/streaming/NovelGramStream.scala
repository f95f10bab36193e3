package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs
import graft.operators.SketchState

/** Streaming NOVELTY series — `Datasheet.novelGramsBySource`'s question
  * asked per ingest batch: how much of each arriving batch is content
  * the accumulated corpus has never seen. The curve every recurring
  * crawl watches: novelty trending toward zero means the feed is
  * re-crawling itself and the marginal batch buys nothing.
  *
  * Unlike the drift streams this statistic is INHERENTLY order-indexed
  * (batch b's novelty is defined against batches < b) — the invariant is
  * not split-independence but first-seen attribution: a gram counts as
  * novel exactly once, in the batch where it first appears (so the
  * series is reproducible for a given arrival order, and Σ n_novel =
  * |distinct grams| for ANY order — the spec's conservation law).
  *
  * State: `grams` is the accumulated distinct gram-hash set — each batch
  * appends ONLY its novel grams, which keeps the dir exactly the
  * distinct union without ever rewriting it; `series` appends one
  * metadata row per batch. Both append through [[SketchState.append]],
  * so both stay under the compaction bound. Scale per batch: one shingle explode of the
  * BATCH, one anti-join against the accumulated set (hash-keyed, batch
  * side tiny), zero text in state. */
object NovelGramStream {

  case class BatchResult(nGrams: Long, nNovel: Long)

  private def gramsPath(d: String) = s"$d/grams"
  private def seriesPath(d: String) = s"$d/series"

  private def gramHashes(docs: DataFrame, text: Column, n: Int): DataFrame =
    docs.select(explode(TextExprs.wordShingles(text, n)).as("g"))
      .select(xxhash64(col("g")).as("h1"),
        xxhash64(col("g"), lit(1)).as("h2"))
      .distinct()

  /** Fold one batch: measure its novelty against the accumulated gram
    * set, append the novel grams and the series row. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, text: Column,
                  batchId: Long, stateDir: String, n: Int = 3,
                  compactAfterFiles: Int = 64): BatchResult = {
    import spark.implicits._
    val gp = gramsPath(stateDir)
    // r18 (guide §1.2): both series numbers ride the novel-grams append
    // as observed metrics — the anti-join consumes every bg row, so a
    // count observed there IS |batch grams|, and one observed at the
    // write IS |novel|. The old shape paid two extra count() jobs and
    // two persists per poll for numbers the write's own tasks see.
    // SINGLE-ATTEMPT ASSUMPTION: observed metrics are accumulator
    // semantics — a retried/speculative stage attempt double-counts.
    // Holds on local[*] (no speculation, deterministic single attempt);
    // on a cluster derive n_novel from the files the write committed
    // instead of trusting the observation.
    val obsG = new org.apache.spark.sql.Observation()
    val obsN = new org.apache.spark.sql.Observation()
    val bg = gramHashes(batch, text, n)
      .observe(obsG, count(lit(1)).as("n"))
    val novel = SketchState.readOpt(spark, gp)
      .fold(bg)(bg.join(_, Seq("h1", "h2"), "left_anti"))
      .observe(obsN, count(lit(1)).as("n"))
    SketchState.append(novel, gp, compactAfterFiles)
    def got(o: org.apache.spark.sql.Observation): Long =
      o.get.get("n").flatMap(Option(_)).map(_.asInstanceOf[Long])
        .getOrElse(0L)
    val nGrams = got(obsG)
    val nNovel = got(obsN)
    SketchState.append(Seq((batchId, nGrams, nNovel))
      .toDF("batch_id", "n_grams", "n_novel"), seriesPath(stateDir),
      compactAfterFiles)
    BatchResult(nGrams, nNovel)
  }

  /** The accumulated (batch_id, n_grams, n_novel, novelty_rate) series —
    * metadata-sized, one row per batch ever ingested. */
  def noveltySeries(spark: SparkSession, stateDir: String): DataFrame =
    SketchState.read(spark, seriesPath(stateDir))
      .select(col("batch_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty_rate"))
}
