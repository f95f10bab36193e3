package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs
import graft.operators.SketchState

/** Incremental benchmark decontamination over micro-batches — the §2.10
  * contamination family unified with the reference's micro-batch model
  * (≙ Main.java:53–66 scheduleAtFixedRate), completing the streaming
  * family beside near-dup / segment / semantic dedup.
  *
  * The real deployment regime is two INDEPENDENT slow feeds: corpus
  * documents keep arriving (crawl ingest), and the benchmark set ALSO
  * grows (new eval suites get registered). A contamination hit is a
  * (document gram, benchmark gram) identity; each hit must be counted
  * exactly once, no matter which side arrived first — re-scanning the
  * accumulated corpus per benchmark update (or the accumulated benchmark
  * per corpus batch) is the O(corpus × polls) cost this operator exists
  * to avoid.
  *
  * BATCH EQUIVALENCE (the property the spec pins): a hit (d, g) is
  * counted exactly when the LATER side arrives — new docs probe the
  * accumulated benchmark set PLUS this batch's benchmark increment;
  * previously-accumulated doc grams probe ONLY the increment (the
  * increment is anti-joined against the accumulated set first, so a
  * re-registered gram contributes nothing). Overlap counts are then
  * ADDITIVE, and for ANY split of corpus and benchmark into arrival
  * batches the final read EQUALS `Contamination.overlapVsBenchmark` over
  * the whole corpus — q62's oracle certifies q156 verbatim.
  *
  * State (checkpointed parquet, crash-safe via [[SketchState]]'s
  * swap-replace / adoption discipline; all four dirs get the shared
  * excess-triggered compaction, and all but `grams` append through
  * [[SketchState.append]]):
  *  - `bench`     distinct benchmark gram hashes (h1, h2) — the 128-bit
  *                key of the batch operator, gram TEXT never persists
  *  - `grams`     (id, h1, h2) accumulated doc-gram index,
  *                HIVE-PARTITIONED as `nb=<N>/b=<k>/` with
  *                k = pmod(h1, N), where N is the CURRENT bucket modulus
  *                (the [[IvfPqStream]] layout discipline: ingest layout
  *                == probe layout). It appends raw, after the gate in
  *                [[liveBuckets]], because it must rebucket before it
  *                compacts.
  *  - `docstats`  (id, n_shingles) one row per doc, appended on arrival
  *  - `hits`      (id, n_hits) per-batch overlap increments
  *
  * ADAPTIVE BUCKETING (default, `nBuckets = 0`): the modulus N starts at
  * 1 — a fresh stream's appends are layout-free (no per-batch shuffle, no
  * partitioned-compaction floor; the round-15 fixed-64 layout paid ~1 s
  * per poll of exactly that floor at fixture scale where the whole index
  * fits in one scan partition anyway). Once the index bytes EXCEED
  * N × `bucketTargetBytes` (the smallest size whose rounded-up power-of-2
  * ideal reaches 2 × N), the WHOLE index is rewritten at
  * N′ = nextPow2(bytes / bucketTargetBytes) (capped at `maxBuckets`) via
  * a crash-safe swap — doubling-triggered like [[SketchState
  * .compactIfNeeded]], so total rebucket cost over a stream's life is
  * O(index × log batches). The live modulus is the `nb=` level of the
  * layout itself: every layout rewrite (rebucket and compaction both)
  * commits it with the data in one rename, so no crash point can leave a
  * reader pruning with a modulus the layout doesn't have, and data
  * without a modulus cannot be written at all. Passing `nBuckets > 0`
  * pins the legacy fixed layout (the spec's
  * exactness-at-any-modulus sweep and the pruning-law witness of SCALE.md
  * § "Round-15 probe: bucket-pruned ContamStream gram index"
  * need a deterministic N).
  *
  * Scale shape per batch: one shingle explode of the BATCH (never the
  * accumulated corpus), one join of batch-grams against the bench set,
  * one join of the gram index against the benchmark INCREMENT — the
  * index side is corpus-sized but the probe side is increment-sized,
  * and the probe reads ONLY the increment's hash buckets (partition
  * pruning on `b`; matching index rows share the increment gram's h1,
  * hence its bucket). The pruning law is explicit: a k-gram increment
  * touches at most min(k, N) buckets — expected coverage
  * N·(1−(1−1/N)^k) — so SMALL increments (the production cadence: one
  * eval suite registered at a time, k ≈ 10²–10³ grams vs thousands of
  * buckets at 100 TB index scale) read a k/N sliver, while a bulk
  * backfill honestly degrades to the full scan it genuinely needs (its
  * grams cover every bucket). The final read joins two id-keyed metadata
  * tables (no text, no grams). */
object ContamStream {

  case class BatchResult(newDocs: Long, newBenchGrams: Long, newHits: Long)

  private def p(stateDir: String, leaf: String) = s"$stateDir/$leaf"

  private def gramHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("id"),
        explode(TextExprs.wordShingles(col("text"), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h1"),
        xxhash64(col("g"), lit(1)).as("h2"))
      .distinct()

  /** The gram index's live bucket modulus, read from its layout: after
    * the [[SketchState.exists]] gate (which adopts an interrupted
    * rebucket or compaction swap), ONE listing of the `nb=` level gives
    * both the modulus and whether the index holds data — None means no
    * data yet. */
  private def liveBuckets(spark: SparkSession,
                          gramsPath: String): Option[Int] = {
    if (!SketchState.exists(spark, gramsPath)) return None
    val path = new org.apache.hadoop.fs.Path(gramsPath)
    val nbs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).iterator.map(_.getPath.getName)
      .filter(_.startsWith("nb=")).map(_.stripPrefix("nb=").toInt).toVector
    require(nbs.size <= 1, s"gram index at $gramsPath holds moduli " +
      s"${nbs.sorted.mkString(",")}; its layout has exactly one")
    nbs.headOption
  }

  /** `grams` rows in the layout of modulus `nB`: partition columns
    * `nb` and `b`. */
  private def laidOut(grams: DataFrame, nB: Int): DataFrame =
    grams.withColumn("nb", lit(nB))
      .withColumn("b", pmod(col("h1"), lit(nB.toLong)).cast("int"))

  private def nextPow2(x: Long): Int = {
    var n = 1
    while (n < x && n < (1 << 30)) n <<= 1
    n
  }

  /** One micro-batch increment: `newDocs` (id, text) are corpus arrivals,
    * `newBench` (id, text) benchmark arrivals — either may be empty.
    * Corpus ids must be globally unique across the stream's life and
    * disjoint from benchmark membership (the batch operator's caller
    * contract). `nBuckets = 0` (default) = adaptive layout (see class
    * doc); `nBuckets > 0` pins that fixed modulus for the stream's life.
    * `bucketTargetBytes` is the adaptive target per bucket — size it to
    * the increment-probe read you want (a pruned probe reads
    * ~coverage × bucketTargetBytes per touched bucket). */
  def ingestBatch(spark: SparkSession, newDocs: DataFrame,
                  newBench: DataFrame, stateDir: String, n: Int = 3,
                  compactAfterFiles: Int = 64,
                  nBuckets: Int = 0,
                  bucketTargetBytes: Long = 256L << 20,
                  maxBuckets: Int = 4096): BatchResult = {
    require(nBuckets >= 0, s"nBuckets must be >= 0, got $nBuckets")
    require(bucketTargetBytes >= 1, "bucketTargetBytes must be >= 1")
    val benchPath = p(stateDir, "bench")
    val gramsPath = p(stateDir, "grams")
    val statsPath = p(stateDir, "docstats")
    val hitsPath = p(stateDir, "hits")
    // the modulus this batch appends AND probes with; a rebucket (end of
    // batch) only affects the NEXT batch's reads. A pinned caller
    // (`nBuckets > 0`) must match the layout: mixing moduli on one state
    // dir would probe with a modulus the layout doesn't have.
    val live = liveBuckets(spark, gramsPath)
    require(nBuckets == 0 || live.forall(_ == nBuckets),
      s"gram index at $gramsPath has nBuckets=${live.get}; " +
        s"caller pinned $nBuckets — the modulus is baked into the layout")
    val nB = if (nBuckets > 0) nBuckets else live.getOrElse(1)

    val nd = newDocs.select(col("id"), col("text")).persist()
    val nb = newBench.select(col("id"), col("text")).persist()
    try {
      val nNew = nd.count()
      val benchState = SketchState.readOpt(spark, benchPath)

      // benchmark increment: grams NOT already in the accumulated set —
      // the anti-join is what makes re-registered grams count zero
      val newBenchGrams0 =
        if (nb.isEmpty) None // emptiness gate only — isEmpty stops at row 1
        else {
          val g = gramHashes(nb, n).select(col("h1"), col("h2")).distinct()
          Some(benchState.fold(g)(g.join(_, Seq("h1", "h2"), "left_anti")))
        }
      val newBenchGrams = newBenchGrams0.map(_.persist())
      val nBenchInc = newBenchGrams.map(_.count()).getOrElse(0L)

      // no materializing count: the first consumer (the hits join, or the
      // docstats write) populates the persist — a separate count() job per
      // poll bought nothing (guide §1.2: don't add passes)
      val newDocGrams = if (nNew > 0) Some(gramHashes(nd, n).persist())
        else None

      // hits for NEW docs: probe state ∪ increment (the full post-batch
      // benchmark set; state and increment are disjoint by construction)
      val benchAfter = (benchState, newBenchGrams) match {
        case (Some(st), Some(inc)) => Some(st.unionByName(inc))
        case (st, inc) => st.orElse(inc)
      }
      val hitsNew = (newDocGrams, benchAfter) match {
        case (Some(dg), Some(bg)) =>
          Some(dg.join(bg, Seq("h1", "h2"))
            .groupBy(col("id")).agg(count(lit(1)).as("n_hits")))
        case _ => None
      }
      // hits for OLD docs: the accumulated gram index probes ONLY the
      // increment — and only the increment's HASH BUCKETS of the index:
      // a matching index row carries the same h1, hence the same bucket,
      // so restricting the scan to the increment's bucket set loses
      // nothing. The bucket list is collected (bounded: ≤ nB ints) so
      // the restriction is a plan literal → static hive-partition
      // pruning at the file source, no runtime-filter machinery.
      val hitsOld = newBenchGrams match {
        case Some(inc) if nBenchInc > 0 && live.nonEmpty =>
          val bks = inc
            .select(pmod(col("h1"), lit(nB.toLong)).cast("int").as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          Some(spark.read.parquet(gramsPath)
            .where(col("b").isin(bks: _*))
            .join(inc, Seq("h1", "h2"))
            .groupBy(col("id")).agg(count(lit(1)).as("n_hits")))
        case _ => None
      }
      // the total-hit metric rides the hits append as an observed metric —
      // the write is hits' only consumer, so the old persist + separate
      // aggregate job per poll was a whole extra plan cycle (guide §1.2)
      val hits = (hitsNew ++ hitsOld).reduceOption(_ unionByName _)
      val hitsObs = new org.apache.spark.sql.Observation()

      // appends: increments only, never a rewrite of accumulated state.
      // The gram index appends in its bucket layout; at nB > 1,
      // repartition(b) clusters each bucket's rows into one task so a
      // batch adds at most min(nB, its distinct buckets) files — at
      // nB == 1 (adaptive initial) the clustering shuffle buys nothing
      // (one bucket) and is skipped; compaction owns the file count.
      // r19 (guide §2.6): the hits, docstats and grams appends land in
      // INDEPENDENT state dirs with no mutual ordering contract, so they
      // run as concurrent jobs — per-poll wall at fixture scale is mostly
      // driver-side plan/commit latency, which overlaps instead of
      // summing. The hits and docstats units also compact their own dirs
      // ([[SketchState.append]]): no unit in the pool compacts a path
      // that a sibling reads through a cached plan (no sibling reads
      // `hits` or `docstats` at all), so a compaction's swap and refresh
      // can never re-list a running sibling's file index. The bench
      // append stays LAST, after the pool: its commit refreshes every
      // cached plan reading benchPath (newBenchGrams is one), and that
      // refresh re-lists benchState's file index IN PLACE — a hits job
      // still running would then read this batch's bench grams in both
      // benchState and the increment and count their hits twice (q156
      // over-counted in about half of its runs). Crash class unchanged:
      // an interrupted poll leaves a partial batch across dirs and is
      // re-run, exactly as with sequential appends.
      val appendUnits = Seq.newBuilder[() => Unit]
      hits.foreach(h => appendUnits += (() =>
        SketchState.append(
          h.observe(hitsObs, coalesce(sum(col("n_hits")), lit(0L)).as("n")),
          hitsPath, compactAfterFiles)))
      newDocGrams.foreach { dg =>
        appendUnits += (() => SketchState.append(
          dg.groupBy(col("id")).agg(count(lit(1)).as("n_shingles")),
          statsPath, compactAfterFiles))
        // raw append: the gate ran in liveBuckets, and the compaction
        // waits for the rebucket check below
        appendUnits += (() => {
          val laid = laidOut(dg, nB)
          (if (nB > 1) laid.repartition(col("b")) else laid)
            .write.mode("append").partitionBy("nb", "b").parquet(gramsPath)
        })
      }
      PollOps.inParallel(appendUnits.result())
      newBenchGrams.foreach(SketchState.append(_, benchPath, compactAfterFiles))
      val nHits = if (hits.isEmpty) 0L
        else hitsObs.get.get("n").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
      // rebucket FIRST: its swap already lands the whole index at one file
      // per bucket, so running compaction before it could pay two full
      // index rewrites back-to-back in one batch; compaction only runs
      // when no rebucket rewrote the index this batch
      val rebucketed = nBuckets == 0 &&
        rebucketIfNeeded(spark, gramsPath, nB, bucketTargetBytes,
          maxBuckets) != nB
      if (!rebucketed)
        SketchState.compactIfNeeded(spark, gramsPath, compactAfterFiles,
          partitionCols = Seq("nb", "b"))

      newDocGrams.foreach(_.unpersist())
      newBenchGrams.foreach(_.unpersist())
      BatchResult(nNew, nBenchInc, nHits)
    } finally {
      nd.unpersist(); nb.unpersist()
    }
  }

  /** Doubling-triggered layout growth: rewrite the gram index at
    * N′ = nextPow2(bytes / bucketTargetBytes) once that is ≥ 2 × N. The
    * rewrite is one crash-safe swap of the whole `nb=N′/b=<k>/` layout,
    * so modulus and data are never observable split. Returns the new
    * modulus. */
  private def rebucketIfNeeded(spark: SparkSession, gramsPath: String,
                               nB: Int, bucketTargetBytes: Long,
                               maxBuckets: Int): Int = {
    val bytes = SketchState.listPartFiles(spark, gramsPath).map(_._2).sum
    val ideal = math.min(maxBuckets,
      nextPow2((bytes + bucketTargetBytes - 1) / bucketTargetBytes))
    if (ideal < 2 * nB) return nB
    SketchState.swapReplace(
      laidOut(spark.read.parquet(gramsPath).drop("nb", "b"), ideal)
        .repartition(col("b")),
      gramsPath, partitionCols = Seq("nb", "b"))
    ideal
  }

  /** The accumulated contamination table — identical to
    * `Contamination.overlapVsBenchmark(corpus-so-far, benchmark-so-far)`:
    * (id, n_shingles, n_overlap, contaminated). Joins two id-keyed
    * metadata tables; zero gram or text access. */
  def contamination(spark: SparkSession, stateDir: String): DataFrame = {
    val stats = SketchState.read(spark, p(stateDir, "docstats"))
    val overlap = SketchState.readOpt(spark, p(stateDir, "hits")) match {
      case Some(hits) =>
        hits.groupBy(col("id")).agg(sum(col("n_hits")).as("o"))
      case None => stats.select(col("id"), lit(0L).as("o")).limit(0)
    }
    stats.join(overlap, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("o"), lit(0L)).as("n_overlap"),
        (coalesce(col("o"), lit(0L)) * 2 >= col("n_shingles"))
          .as("contaminated"))
  }
}
