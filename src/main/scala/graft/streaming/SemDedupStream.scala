package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs
import graft.operators.{Similarity, SketchState}

/** Incremental embedding-level semantic dedup over micro-batches — the
  * streaming counterpart of [[graft.operators.Similarity.semanticDedup]],
  * completing the batch+streaming matrix for the dedup family (exact
  * segments: q88/q91, MinHash near-dup: q19/q57, semantic: q89/this), in
  * the same foreachBatch-plus-checkpointed-state architecture
  * (≙ the reference's fixed-rate micro-batch model, Main.java:53–66).
  *
  * The batch rule is PAIRWISE and non-iterative (SemDeDup, Abbas et al.
  * 2023): a vector is dropped iff SOME smaller-id vector in its LSH
  * bucket has cosine ≥ `threshold` — the justifying vector may itself be
  * dropped. That makes the rule compose exactly over batches: partition
  * the justifying pairs by generation, and (batch, batch) pairs are
  * decided by running the batch operator on the increment verbatim, while
  * (state, batch) pairs are a bucket join of the increment's distinct
  * vectors against the accumulated state. The state therefore holds EVERY
  * distinct vector value ever seen — kept or dropped — because dropped
  * vectors still justify drops; storing only survivors would under-drop.
  *
  * BATCH EQUIVALENCE (the property the spec pins): for any split of a
  * corpus into batches with NON-DECREASING vec_id ranges, the accumulated
  * sink EQUALS `semanticDedup` over the whole corpus: every state vector
  * then has a smaller id than every new vector, so "same bucket ∧ cos ≥ t
  * against state" is exactly the cross-generation half of the batch rule.
  * Out-of-order ingestion degrades to first-ARRIVAL-wins — an earlier
  * arrival justifies dropping a later one regardless of id order — the
  * same graceful degradation as [[SegDedupStream]].
  *
  * Exact copies ride a separate hash path, not cosine: the batch operator
  * decides duplicate copies structurally (content-hash collapse, q9
  * discipline), so the cross-generation check also drops a new vector
  * whose 128-bit content hash is already in state, immune to the float
  * roundoff of cos(v, v) — with a threshold near 1.0 the cosine path
  * alone could misclassify an exact copy.
  *
  * Scale shape per batch: bucketing/hashing is map-side, and the
  * corpus-sized state is read in ONE streamed pass — the bucket join
  * evaluates BOTH drop conditions (cosine ≥ t, exact content-hash match)
  * in a single state × batch join, aggregated to batch-bounded
  * per-value verdicts. At steady state (accumulated ≫ batch, the regime
  * any long-lived stream converges to) the batch's distinct vectors
  * BROADCAST, so state never shuffles or sorts — it streams from parquet
  * through the join map-side; early in the stream's life (or for
  * over-sized batches, `maxBroadcastVecs`) the join falls back to
  * sort-merge, where shuffling state is proportionate because state is
  * still batch-sized. The ratio switch mirrors
  * [[NearDupStream]]'s measured `semiJoinCorpusRatio` pattern. The
  * state-growth anti-join needs no second state scan: the exact-hit
  * verdicts already say which batch values state has seen, so new-state
  * selection is batch × batch. State grows by distinct NEW vector values
  * only (dim × 4 B + 24 B per row), and both state and sink append
  * through [[SketchState.append]], which runs the shared
  * excess-triggered swap-replace compaction.
  */
object SemDedupStream {

  case class BatchResult(newVecs: Long, kept: Long)

  /** One micro-batch increment. `newVecs` must carry (id, emb); ids must
    * be unique across the stream's life, and batch-monotone for exact
    * batch equivalence (see class doc).
    *
    * `broadcastStateRatio`: when accumulated-state rows / batch distinct
    * vectors exceeds it (and the batch is under `maxBroadcastVecs`), the
    * batch side broadcasts so state streams through the probe join
    * without shuffling — the steady-state shape. Below it, sort-merge. */
  def ingestBatch(spark: SparkSession, newVecs: DataFrame, stateDir: String,
                  sinkDir: String, dim: Int, bits: Int, seed: Long,
                  threshold: Double,
                  compactAfterFiles: Int = 64,
                  broadcastStateRatio: Long = 16L,
                  maxBroadcastVecs: Long = 250000L): BatchResult = {
    val vecsPath = s"$stateDir/vecs"
    val nv = newVecs.select(col("id"), col("emb")).persist()
    try {
      val nNew = nv.count()
      if (nNew == 0) return BatchResult(0, 0)
      // (batch, batch) pairs: the batch operator on the increment verbatim
      val local = Similarity.semanticDedup(nv, col("id"), col("emb"),
        dim, bits, seed, threshold)
      val hashed = nv.select(col("id"), col("emb"),
        xxhash64(col("emb")).as("h1"),
        xxhash64(col("emb"), lit(1)).as("h2"))
      // the increment's distinct vector values, bucketed once (copies
      // share bucket and every cosine, so value-level decisions are
      // row-level decisions — the batch operator's collapse argument)
      val distinctVals = hashed.groupBy(col("h1"), col("h2"))
        .agg(first(col("emb")).as("v"))
        .select(col("h1"), col("h2"), col("v"),
          VectorExprs.lshBucket(col("v"), dim, bits, seed).as("bucket"),
          VectorExprs.norm2(col("v")).as("n2"))
        .persist()
      try {
        val nDistinct = distinctVals.count()
        // (state, batch) pairs: ONE streamed pass over state evaluating
        // both drop conditions, aggregated to batch-bounded per-value
        // verdicts — `cos_hit` (a bucket-mate clears the threshold) and
        // `exact_hit` (state already holds this exact value; also the
        // state-growth signal, so no second state scan is needed)
        val verdicts = (SketchState.readOpt(spark, vecsPath) match {
          case Some(state) =>
            // zero-column scan: footer row counts, not data I/O
            val stateRows = state.count()
            val probe =
              if (stateRows / nDistinct.max(1L) > broadcastStateRatio &&
                  nDistinct <= maxBroadcastVecs)
                broadcast(distinctVals)
              else distinctVals
            state
              .select(col("bucket"), col("h1").as("sh1"),
                col("h2").as("sh2"), col("v").as("sv"), col("n2").as("sn2"))
              .join(probe, Seq("bucket"))
              .select(col("h1"), col("h2"),
                (VectorExprs.dot(col("v"), col("sv")) /
                  (sqrt(col("n2")) * sqrt(col("sn2"))) >= threshold)
                  .as("cos_hit"),
                (col("sh1") === col("h1") && col("sh2") === col("h2"))
                  .as("exact_hit"))
              .groupBy(col("h1"), col("h2"))
              .agg(max(col("cos_hit")).as("cos_hit"),
                max(col("exact_hit")).as("exact_hit"))
          case None => distinctVals.select(col("h1"), col("h2"),
              lit(false).as("cos_hit"), lit(false).as("exact_hit"))
              .limit(0)
        }).persist()
        try {
          val dropHashes = verdicts
            .filter(col("cos_hit") || col("exact_hit"))
            .select(col("h1"), col("h2"))
          val crossDropIds = hashed
            .join(dropHashes, Seq("h1", "h2"), "left_semi")
            .select(col("id").as("vec_id"), lit(true).as("__xdrop"))
          val decisions = local
            .join(crossDropIds, Seq("vec_id"), "left")
            .select(col("vec_id"),
              (col("kept") && col("__xdrop").isNull).as("kept"))
          locally {
            // sink first, then state (at-least-once on restart — the same
            // ordering contract as the sibling streams). The kept count
            // rides the write as an observed metric: decisions' ONLY
            // consumer is this append, so the old persist + separate
            // count() paid a full extra plan/job per poll for a number
            // the write's own tasks already see (guide §1.2: fewer
            // passes; measured in OPTIMIZATION_r18.md).
            val obs = new org.apache.spark.sql.Observation()
            SketchState.append(decisions.observe(obs,
                sum(when(col("kept"), 1L).otherwise(0L)).as("kept")),
              sinkDir, compactAfterFiles)
            val nKept = obs.get.get("kept").flatMap(Option(_))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
            // state grows by distinct vector values NOT already present —
            // kept or dropped, both justify future drops (class doc);
            // batch × batch anti-join on the exact-hit verdicts (the
            // verdicts persist decouples this plan from the state scan,
            // so the append below never writes into a directory a live
            // plan is reading)
            SketchState.append(distinctVals.join(
                verdicts.filter(col("exact_hit"))
                  .select(col("h1"), col("h2")),
                Seq("h1", "h2"), "left_anti")
              .select(col("h1"), col("h2"), col("bucket"), col("v"),
                col("n2")), vecsPath, compactAfterFiles)
            BatchResult(nNew, nKept)
          }
        } finally verdicts.unpersist()
      } finally distinctVals.unpersist()
    } finally nv.unpersist()
  }
}
