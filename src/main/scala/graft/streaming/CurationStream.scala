package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs
import graft.operators.SketchState

/** Streaming corpus curation — the training-set builder run the way
  * ingestion actually happens: every arriving batch is quality-gated,
  * deduplicated against EVERYTHING already accepted, decontaminated
  * against the benchmark holdout, and packed into token-budget shards,
  * with each document's fate decided the moment it lands and never
  * revisited.
  *
  * This is the incremental sibling of the one-shot q242 composition,
  * restricted to the stages whose decisions are FINAL under arrival
  * order (the honest streaming subset): quality floor (stateless),
  * exact text dedup (keep-first-seen), shingle decontamination against
  * a FIXED holdout, and [[ShardStream]] packing. Near-dup clustering
  * and share rebalancing are deliberately absent — their decisions are
  * global (a cluster representative or a keep-rate can change with
  * every arrival), so a stream offering them per-poll would be lying;
  * run those as the batch q242 over the accumulated survivors instead.
  *
  * Batch equivalence, under the [[ShardStream]] arrival contract
  * (batches split on the id VALUE): keep-first-seen == keep-min-id, so
  * the accumulated shard sink is row-identical to the one-shot
  * cascade quality → exact-dedup(min id) → decontaminate → shard over
  * the whole corpus — the registered query's oracle replays exactly
  * that.
  *
  * State, all bounded and crash-safe:
  *  - `seen/`  accepted texts' 128-bit hashes (append-only deltas, the
  *    anti-join makes replayed batches fold away; survivor-bounded);
  *  - `bench/` the holdout's distinct gram hashes, built ONCE at first
  *    poll (holdout-bounded, swap-committed);
  *  - the [[ShardStream]] watermark pair, whose replay detection makes
  *    the whole per-poll pipeline effectively-once: a replayed batch
  *    re-derives the same survivors (its `seen` hashes anti-join away
  *    only NEW batches' rows... its own rows were appended AFTER the
  *    shard commit, see ingest order below) and the shard stage skips.
  *
  * Ingest order matters for crash safety: shard FIRST (its overwrite +
  * watermark swap is the effectively-once commit point), then append
  * the batch's seen-hashes. A crash between the two replays the batch:
  * survivors re-derive identically (seen state unchanged), the shard
  * stage detects the watermark and skips, and the seen append completes
  * — nothing double-counts.
  *
  * Per poll: batch-sized quality/hash/shingle work, one anti-join probe
  * of the seen store, one broadcast probe of the fixed bench set, one
  * batch range-shuffle. The accumulated corpus is never re-read. */
object CurationStream {

  private def seenPath(stateDir: String) = s"$stateDir/seen"
  private def benchPath(stateDir: String) = s"$stateDir/bench"
  private def shardDir(stateDir: String) = s"$stateDir/shards"

  private def hash128(c: org.apache.spark.sql.Column) =
    struct(xxhash64(c).as("h1"), xxhash64(c, lit(1)).as("h2"))

  /** Install the FIXED benchmark holdout (id, text). Must run before
    * the first document poll; re-installation is rejected (a moving
    * holdout would silently change past decisions' meaning). */
  def installBenchmark(spark: SparkSession, bench: DataFrame,
                       textCol: String, n: Int,
                       stateDir: String): Unit = {
    val bp = benchPath(stateDir)
    require(!SketchState.exists(spark, bp),
      "benchmark holdout is already installed — it is fixed by contract")
    val grams = bench
      .select(explode(TextExprs.wordShingles(col(textCol), n)).as("g"))
      .select(xxhash64(col("g")).as("h1"),
        xxhash64(col("g"), lit(1)).as("h2"))
      .distinct()
    SketchState.swapReplace(grams, bp)
  }

  /** Curate one batch of `(idCol, textCol)` documents: quality floor,
    * dedup vs everything accepted, decontaminate vs the installed
    * holdout, pack into shards. Returns rows sharded this poll. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, qualityFloor: Double, n: Int,
                  budget: Long, stateDir: String): Long = {
    val sp = seenPath(stateDir)
    val bp = benchPath(stateDir)
    require(SketchState.exists(spark, bp),
      "installBenchmark must run before the first document poll")
    val docs = batch.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text"))
      .filter(length(trim(col("text"))) > 0)
      .filter(round(TextExprs.qualityScore(col("text")), 6)
        >= qualityFloor)
      .withColumn("h", hash128(col("text")))
    // keep-first-seen: min id per hash WITHIN the batch, then drop
    // hashes already accepted in any earlier batch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("id").asc)
    val batchReps = docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fresh = SketchState.readOpt(spark, sp)
      .fold(batchReps)(batchReps.join(_, Seq("h"), "left_anti"))
    // decontaminate: drop docs with >= half their shingles in the holdout
    val sh = fresh.select(col("id"),
        explode(TextExprs.wordShingles(col("text"), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h1"),
        xxhash64(col("g"), lit(1)).as("h2"))
    val bench = spark.read.parquet(bp).withColumn("hit", lit(1))
    val contaminated = sh
      .join(broadcast(bench), Seq("h1", "h2"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("ns"), count(col("hit")).as("no"))
      .filter(col("no") * 2 >= col("ns"))
      .select(col("id"))
    val clean = fresh.join(contaminated, Seq("id"), "left_anti")
      .select(col("id"), col("h"),
        TextExprs.tokenCount(col("text")).cast("long").as("n_tok"))
      .persist()
    try {
      // commit point FIRST (see class doc), then the seen-hash deltas
      val nSharded = ShardStream.ingestBatch(spark,
        clean.select(col("id"), col("n_tok")), "id", "n_tok", budget,
        shardDir(stateDir))
      SketchState.append(clean.select(col("h")), sp, 64)
      nSharded
    } finally { clean.unpersist(); () }
  }

  /** Every curated, sharded document so far `(id, n_tok, shard)` —
    * row-identical to the one-shot quality → min-id dedup →
    * decontaminate → shard cascade over the ingested corpus. */
  def readCurated(spark: SparkSession, stateDir: String): DataFrame =
    ShardStream.readShards(spark, shardDir(stateDir))
}
