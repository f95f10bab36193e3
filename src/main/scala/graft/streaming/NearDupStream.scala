package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextExprs
import graft.operators.{NearDup, SketchState}

/** Incremental MinHash-LSH near-duplicate detection over micro-batches —
  * the §2.10 dedup family unified with the reference's micro-batch model
  * (≙ Main.java:53–66 scheduleAtFixedRate: the same
  * foreachBatch-plus-checkpointed-state architecture as
  * [[CancellationStream]]).
  *
  * Each micro-batch of NEW documents is banded once
  * ([[NearDup.minhashBands]]) and joined against the ACCUMULATED band
  * index, so the per-batch cost is O(batch × bands) band rows probing the
  * index — no re-banding of the existing corpus, ever. Candidates are
  * verified with exact shingle Jaccard (texts come from the accumulated
  * doc store; shingling happens AFTER the candidate semi-join, so only
  * matched rows re-tokenize), verified pairs append to the sink, and the
  * batch's bands/docs append to the state.
  *
  * BATCH EQUIVALENCE (the property the spec pins): a pair (x, y) is
  * discovered exactly when the LATER of x, y arrives — via the index join
  * if they arrived in different batches, via the within-batch self-join
  * otherwise — under the same banding as the batch operator. So for ANY
  * split of a corpus into arrival batches, the accumulated sink EQUALS
  * `NearDup.minhashLshPairs` over the whole corpus, and each pair is
  * emitted exactly once (its earlier endpoint is only ever "new" once).
  *
  * State is checkpointed parquet (restart-safe, like CancellationStream's
  * key-set state): `<stateDir>/bands` is the (id, band, bucket) index,
  * `<stateDir>/docs` the (id, text) verification store. At scale both are
  * partitioned tables the per-batch join shuffles against — the index
  * grows with the corpus, the probe side stays batch-sized.
  *
  * COMPACTION: every ingest appends a batch-sized set of part files to
  * each state dir AND the sink, so after thousands of micro-batches the
  * index probe (and any sink reader) would open thousands of tiny files —
  * the classic streaming-state small-file wall (footer reads and
  * task-scheduling overhead dwarf the data I/O). When a dir's part-file
  * count exceeds max(`compactAfterFiles`, 2 × ideal) — ideal =
  * ceil(bytes / spark.sql.files.maxPartitionBytes), the layout a fresh
  * scan would want; see [[SketchState.compactIfNeeded]] for why the
  * trigger must be excess-based — the ingest rewrites it to ideal files via
  * [[SketchState.swapReplace]]'s write-swap-delete-rename discipline, so
  * a crash mid-compaction never loses state (a complete swap is adopted
  * by the next read, or by the gate of the next [[SketchState.append]]).
  * Rewrites space out geometrically as a dir grows; output pairs are
  * unaffected (the spec pins identical pair output across compacted and
  * uncompacted runs).
  */
object NearDupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  case class BatchResult(newDocs: Long, verifiedPairs: Long)

  /** One micro-batch increment: band the new docs, probe the accumulated
    * index, verify, append sink + state. `newDocs` must carry columns
    * (id, text); ids must be globally unique across the stream's life.
    *
    * `semiJoinCorpusRatio` governs the verify step's corpus access: when
    * accumulated-docs / batch-docs exceeds it, the doc store is restricted
    * to candidate ids (broadcast semi-join) BEFORE shingling, so verify
    * cost tracks the candidate set, not the corpus. Below it the plain
    * full-corpus shingle projection wins — the extra broadcast job costs
    * more than shingling a small store saves. The default crossover is
    * MEASURED (SCALE.md § "NearDupStream verify-side crossover"):
    * full-scan wins at ratio 8 (7.9 vs 10.4 s), ~tie at 32, semi-join 2×
    * at 125 and 5.8× at 500 (26.4 vs 4.5 s) — full-scan cost grows with
    * the corpus while the semi-join's stays candidate-bounded; at corpus
    * ≫ batch (the steady state of any long-lived stream — and any 100 TB
    * deployment) the semi-join is the only shape that works. */
  def ingestBatch(spark: SparkSession, newDocs: DataFrame, stateDir: String,
                  sinkDir: String, n: Int, bands: Int, rowsPerBand: Int,
                  threshold: Double,
                  semiJoinCorpusRatio: Long = 16L,
                  compactAfterFiles: Int = 64): BatchResult = {
    val bandsPath = s"$stateDir/bands"
    val docsPath = s"$stateDir/docs"
    val nd = newDocs.select(col("id"), col("text")).persist()
    try {
      val nNew = nd.count() // materialize before the multi-reference fan-out
      if (nNew == 0) return BatchResult(0, 0)
      val newBands =
        NearDup.minhashBands(nd, col("id"), col("text"), n, bands, rowsPerBand)
          .persist()
      try {
        // no bare materializing count(): the first consuming action
        // populates the persist — one fewer plan/job per poll (guide §1.2)
        // cross-generation candidates: new bands probe the accumulated
        // index; orientation normalized so (id_a < id_b) like the batch op
        val probe = newBands.select(
          col("band"), col("bucket"), col("id").as("id_new"))
        val candOld = SketchState.readOpt(spark, bandsPath) match {
          case Some(bandIndex) =>
            probe.join(
              bandIndex
                .select(col("band"), col("bucket"), col("id").as("id_old")),
              Seq("band", "bucket"))
              .select(least(col("id_new"), col("id_old")).as("id_a"),
                greatest(col("id_new"), col("id_old")).as("id_b"))
          case None => spark.emptyDataFrame
            .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
        }
        // within-batch candidates: the batch operator's self-join shape
        val candNew = probe
          .join(probe.select(col("band"), col("bucket"),
            col("id_new").as("id_b")), Seq("band", "bucket"))
          .filter(col("id_new") < col("id_b"))
          .select(col("id_new").as("id_a"), col("id_b"))
        val cand = candOld.union(candNew).distinct()
        // verify with exact shingle Jaccard. Two corpus-access shapes:
        //  - full scan: shingle the whole accumulated store + batch. Cost
        //    grows with the corpus but pays zero extra jobs — wins while
        //    the store is still batch-sized (early stream life, and the
        //    bench-scale regime round 6 measured).
        //  - candidate restriction: broadcast-semi-join the store down to
        //    candidate ids first. One extra tiny job (the candidate-id
        //    distinct feeds a broadcast), but shingling cost now tracks
        //    the CANDIDATE set — the only viable shape once the corpus
        //    dwarfs the batch. Candidate ids are bounded by the batch's
        //    band collisions (≤ 2 × candidate pairs), broadcastable by
        //    construction for sane banding configs.
        // The ratio switch picks per batch; crossover measured in SCALE.md.
        val priorDocs = SketchState.readOpt(spark, docsPath)
        val corpus = priorDocs.map(_.unionByName(nd)).getOrElse(nd)
        // zero-column parquet scan: footer-row-count work, not data I/O
        val corpusRows = priorDocs.map(_.count()).getOrElse(0L) + nNew
        // division form: `corpusRows > ratio * nNew` overflows Long for
        // sentinel ratios like Long.MaxValue and silently INVERTS the
        // switch (nNew > 0 here — the nNew == 0 case returned above)
        val restrict = corpusRows / nNew > semiJoinCorpusRatio
        // in semi-join mode cand is read twice (candidate-id build +
        // verify join) — persist it so the band-probe/union/distinct
        // plan executes once per batch
        val candMat = if (restrict) cand.persist() else cand
        val verifySource =
          if (restrict) {
            val candIds = candMat.select(col("id_a").as("id"))
              .union(candMat.select(col("id_b").as("id"))).distinct()
            corpus.join(broadcast(candIds), Seq("id"), "left_semi")
          } else corpus
        val sh = verifySource.select(col("id"),
          TextExprs.wordShingles(col("text"), n).as("sh"))
        val verified = candMat
          .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("jaccard",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        try {
          // the pair count rides the sink append as an observed metric —
          // the write is verified's only consumer, so the old persist +
          // separate count() was a full extra plan/job per poll
          val obs = new org.apache.spark.sql.Observation()
          SketchState.append(verified.observe(obs, count(lit(1)).as("n")),
            sinkDir, compactAfterFiles)
          val nPairs = obs.get.get("n").flatMap(Option(_))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          // state appends AFTER the sink write (at-least-once on restart,
          // same ordering contract as CancellationStream's key-set state).
          // The sink's size-triggered compaction rides its append, so it
          // runs BEFORE the state appends. That leaves the crash class as
          // it is: a crash anywhere from the sink append to the last state
          // append leaves a partial batch that is re-run, and a crash
          // mid-compaction leaves either the old files or a complete swap
          // that the next append's gate adopts.
          // r19 (guide §2.6, ContamStream's discipline): bands and docs are
          // DISJOINT state dirs with no mutual ordering contract — every
          // partial-append state already leads to the same re-run-the-batch
          // recovery (the append → checkpoint-commit window admits full
          // duplication in the sequential form too), so running them (each
          // with its own compaction; rows unchanged, layout-only, spec pins
          // identical output) as concurrent jobs changes wall, not the
          // crash class.
          PollOps.inParallel(Seq(
            () => SketchState.append(newBands, bandsPath, compactAfterFiles),
            () => SketchState.append(nd, docsPath, compactAfterFiles)))
          BatchResult(nNew, nPairs)
        } finally {
          if (restrict) candMat.unpersist()
          ()
        }
      } finally newBands.unpersist()
    } finally nd.unpersist()
  }

  /** Start the incremental stream over a parquet drop directory: each new
    * file of (id, text) docs becomes a micro-batch increment. */
  def start(spark: SparkSession, incomingDir: String, stateDir: String,
            sinkDir: String, checkpointDir: String, n: Int, bands: Int,
            rowsPerBand: Int, threshold: Double,
            intervalSeconds: Int = 1,
            semiJoinCorpusRatio: Long = 16L,
            compactAfterFiles: Int = 64): StreamingQuery =
    spark.readStream
      .schema(docSchema)
      .parquet(incomingDir)
      .writeStream
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = ingestBatch(spark, batch, stateDir, sinkDir,
          n, bands, rowsPerBand, threshold, semiJoinCorpusRatio,
          compactAfterFiles)
        println(s"[neardup batch $batchId] docs=${r.newDocs} " +
          s"pairs=${r.verifiedPairs}")
      }
      .start()
}
