package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SketchState}

/** Incremental cross-document segment dedup over micro-batches — the
  * streaming counterpart of [[graft.operators.Dedup.dedupSegments]], in
  * the same foreachBatch-plus-checkpointed-state architecture as
  * [[NearDupStream]] / [[CancellationStream]] (≙ the reference's
  * fixed-rate micro-batch model, Main.java:53–66).
  *
  * Each micro-batch of NEW documents is segmented once; an occurrence is
  * kept iff its 128-bit segment hash is absent from the ACCUMULATED index
  * AND it is the batch's own first occurrence (min (doc_id, pos) within
  * the batch). Cleaned docs append to the sink; the batch's genuinely-new
  * hashes append to the index.
  *
  * BATCH EQUIVALENCE (the property the spec pins): for any split of a
  * corpus into batches with NON-DECREASING doc_id ranges (ids assigned by
  * arrival — the natural stream order), the accumulated sink EQUALS
  * `Dedup.dedupSegments` over the whole corpus. Monotone ids matter here,
  * unlike [[NearDupStream]]'s any-split guarantee: a near-dup PAIR is
  * symmetric (discovered when its later endpoint arrives), but a keep
  * decision is ordered — the batch operator's winner is the global
  * min (doc_id, pos), which equals first-arrival only when arrival order
  * respects doc_id order. Out-of-order ingestion degrades gracefully to
  * first-ARRIVAL-wins (still exactly one survivor per distinct segment).
  *
  * Scale shape per batch: segmenting is map-side; the freshness check is
  * an anti join of the batch's winner set (≤ batch segments, ids+hashes
  * only) against the hash-only index (16 B/row — no positions, no text:
  * membership is the only question the state ever answers); the rebuild
  * re-slices the batch's own token arrays. The index grows by DISTINCT
  * new segments only, and the small-file wall — for the state index AND
  * the append sink, each accumulating one file-set per batch — is handled
  * by the same excess-triggered swap-replace compaction as
  * [[NearDupStream]] (see [[SketchState.compactIfNeeded]] for the
  * trigger's amortization argument).
  */
object SegDedupStream {

  case class BatchResult(newDocs: Long, keptSegments: Long)

  /** One micro-batch increment. `newDocs` must carry (id, text); ids must
    * be unique across the stream's life, and batch-monotone for exact
    * batch equivalence (see class doc). */
  def ingestBatch(spark: SparkSession, newDocs: DataFrame, stateDir: String,
                  sinkDir: String, w: Int,
                  compactAfterFiles: Int = 64): BatchResult = {
    val segsPath = s"$stateDir/segs"
    val base = Dedup.segmentBase(newDocs, col("id"), col("text")).persist()
    try {
      val nNew = base.count()
      if (nNew == 0) return BatchResult(0, 0)
      val segs = Dedup.segmentRows(base, w)
      // batch-local winners: one candidate occurrence per distinct hash
      val batchFirst = segs.groupBy(col("skey"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("skey.h1").as("h1"), col("skey.h2").as("h2"),
          col("f.doc_id").as("doc_id"), col("f.pos").as("pos"))
      // freshness: drop candidates whose hash the stream has already seen
      val fresh = SketchState.readOpt(spark, segsPath)
        .fold(batchFirst)(batchFirst.join(_, Seq("h1", "h2"), "left_anti"))
        .persist()
      try {
        val cleaned = Dedup.rebuildFromKept(base, fresh, w)
        // sink first, then state (at-least-once on restart — the same
        // ordering contract as NearDupStream / CancellationStream).
        // The kept-segment count rides the state append as an observed
        // metric (the state write IS the fresh rows), replacing the old
        // separate count() job per poll (guide §1.2: fewer passes)
        SketchState.append(cleaned, sinkDir, compactAfterFiles)
        val obs = new org.apache.spark.sql.Observation()
        SketchState.append(fresh.select(col("h1"), col("h2")).observe(obs,
            count(lit(1)).as("n")), segsPath, compactAfterFiles)
        val nKept = obs.get.get("n").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        BatchResult(nNew, nKept)
      } finally fresh.unpersist()
    } finally base.unpersist()
  }
}
