package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact heavy hitters at sketch cost (§2.10 extension surface — the
  * "find the boilerplate / hot n-grams" primitive of a training-data
  * pipeline).
  *
  * Two passes:
  *   1. per-partition Misra–Gries with `counters` counters emits a small
  *      candidate superset — O(counters) memory per task, and only
  *      partitions × counters candidate strings ever leave the executors.
  *      MG's guarantee: any item whose partition-local count exceeds
  *      n_p/(counters+1) survives that partition's sketch; summing over
  *      partitions, any item with global count > n/(counters+1) must
  *      exceed the local bound somewhere (pigeonhole), so with
  *      minShare > 1/(counters+1) the union has NO false negatives.
  *   2. an exact recount restricted to the candidate set — the groupBy
  *      shuffles at most `counters` distinct keys per partition after
  *      map-side combine, instead of the full vocabulary. At web scale
  *      (billions of distinct tokens) that is the difference between a
  *      metadata-sized shuffle and a full-vocabulary one.
  *
  * False positives from pass 1 are eliminated by the exact threshold in
  * pass 2, so the output is EXACTLY {item : count(item) >= ceil(minShare
  * * n)} with exact counts — a plain GROUP BY/HAVING to any SQL oracle,
  * despite the sketch in the middle. Deterministic regardless of
  * partitioning: the candidate set varies, the thresholded output never
  * does.
  *
  * The pass-1 summary (candidates + per-partition totals, ≤ partitions ×
  * (counters+1) tuples) is collected to the driver: sketch metadata, not
  * data — same class as the 1-row convergence probe and the seed
  * codebook, and it is what lets both passes share one scan each with no
  * persist of the input.
  */
object Frequent {

  /** The per-partition Misra–Gries pass shared by batch and incremental
    * use: each partition emits its surviving counters as (item, c) plus
    * one (null, n_p) total row — ≤ partitions × (counters+1) tuples of
    * sketch metadata, collected to the driver. */
  private def mgPartials(df: DataFrame, key: Column,
      counters: Int): Array[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("string").as("item"))
      .filter(col("item").isNotNull)
      .as[String].mapPartitions { it =>
        val counts = new java.util.HashMap[String, java.lang.Long](counters * 2)
        var np = 0L
        it.foreach { k =>
          np += 1
          val cur = counts.get(k)
          if (cur != null) counts.put(k, cur + 1L)
          else if (counts.size < counters) counts.put(k, 1L)
          else {
            // decrement-all step: drop every counter by one, evict zeros
            val e = counts.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove()
              else en.setValue(en.getValue - 1L)
            }
          }
        }
        counts.entrySet().iterator().asScala
          .map(en => (en.getKey, Long.unbox(en.getValue))) ++
          Iterator.single((null: String, np))
      }.collect()
  }

  /** The Agarwal et al. (2013) MG merge compression: if more than
    * `counters` items survive a sum-merge, subtract the (counters+1)-th
    * largest count from every item and drop the non-positive — deviation
    * stays ≤ N/(counters+1) under ANY merge tree, which is what keeps
    * the no-false-negative guarantee through batching. */
  private def compress(m: Map[String, Long], counters: Int): Map[String, Long] =
    if (m.size <= counters) m
    else {
      val d = m.values.toSeq.sorted(Ordering[Long].reverse).apply(counters)
      m.collect { case (k, c) if c - d > 0 => k -> (c - d) }
    }

  /** The exact-recount pass shared by batch and incremental use:
    * candidates broadcast as a semi-join (scan stays map-side), exact
    * groupBy bounded by the candidate count, exact threshold. */
  private def recount(df: DataFrame, key: Column, candidates: Seq[String],
      nTotal: Long, minShare: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val threshold = math.ceil(minShare * nTotal).toLong
    df.select(key.cast("string").as("item"))
      .filter(col("item").isNotNull)
      .join(broadcast(candidates.toDF("item")), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .select(col("item"), col("cnt"), lit(nTotal).as("n_total"))
  }

  private def requireGuarantee(minShare: Double, counters: Int): Unit = {
    require(minShare > 0.0 && minShare < 1.0,
      s"minShare must be in (0,1), got $minShare")
    require(minShare > 1.0 / (counters + 1),
      s"minShare=$minShare below the Misra-Gries guarantee 1/(counters+1)=" +
        s"${1.0 / (counters + 1)} — raise counters or minShare")
  }

  /** Items of `key` with frequency >= ceil(minShare * n), exact counts.
    * Output: (item, cnt, n_total). Requires minShare > 1/(counters+1)
    * so the Misra–Gries union provably contains every heavy hitter. */
  def heavyHitters(df: DataFrame, key: Column, minShare: Double,
      counters: Int = 256): DataFrame = {
    requireGuarantee(minShare, counters)
    val summary = mgPartials(df, key, counters)
    val nTotal = summary.collect { case (null, np) => np }.sum
    val candidates = summary.collect { case (k, _) if k != null => k }
      .distinct.toSeq
    recount(df, key, candidates, nTotal, minShare)
  }

  /** Incremental Misra–Gries over micro-batches (the heavy-hitter
    * counterpart of the streaming KMV): the state is ONE compressed MG
    * summary — ≤ counters (item, c) rows plus a (null, n_total) row,
    * read as plain parquet. Each batch runs the same per-partition MG
    * pass over the BATCH only; the batch partials, the prior state, and
    * the compression all merge on the driver (sketch metadata, ≤
    * counters entries). Because MG summaries are fully mergeable with
    * deviation ≤ N/(counters+1) under any merge tree, the state's
    * candidate set provably contains every item with global share >
    * 1/(counters+1) — for ANY split of the data into arrival batches. */
  def mgIngestBatch(batch: DataFrame, key: Column, counters: Int,
      statePath: String): Unit = {
    require(counters >= 1, s"need counters >= 1, got $counters")
    val spark = batch.sparkSession
    import spark.implicits._
    val partials = mgPartials(batch, key, counters)
    val nBatch = partials.collect { case (null, np) => np }.sum
    val batchSketch = partials.filter(_._1 != null)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val prior = SketchState.readOpt(spark, statePath)
      .fold(Array.empty[(String, Long)])(
        _.collect().map(r => (r.getString(0), r.getLong(1))))
    val priorSketch = prior.filter(_._1 != null).toMap
    val priorN = prior.collect { case (null, n) => n }.sum
    val merged = compress(
      (priorSketch.keySet ++ batchSketch.keySet).map(k =>
        k -> (priorSketch.getOrElse(k, 0L) + batchSketch.getOrElse(k, 0L)))
        .toMap, counters)
    // crash-safe swap; state is ≤ counters+1 rows (see SketchState)
    SketchState.write(
      (merged.toSeq :+ ((null: String, priorN + nBatch))).toDF("item", "c"),
      statePath)
  }

  /** Exact heavy hitters from a state directory maintained by
    * `mgIngestBatch`, recounted against the accumulated corpus (same
    * schema as `heavyHitters`, and — by the mergeability guarantee —
    * the same OUTPUT as running `heavyHitters` over `corpus` directly,
    * regardless of how ingestion was batched). */
  def heavyHittersFromState(statePath: String, corpus: DataFrame,
      key: Column, minShare: Double, counters: Int = 256): DataFrame = {
    requireGuarantee(minShare, counters)
    val spark = corpus.sparkSession
    val rows = SketchState.read(spark, statePath)
      .collect().map(r => (if (r.isNullAt(0)) null else r.getString(0),
        r.getLong(1)))
    val nTotal = rows.collect { case (null, n) => n }.sum
    val candidates = rows.collect { case (k, _) if k != null => k }.toSeq
    recount(corpus, key, candidates, nTotal, minShare)
  }

  /** Per-event-time-window exact heavy hitters ("trending keys"): items
    * with share >= minShare WITHIN their `windowSeconds` bucket. Output:
    * `(w_start, item, cnt, n_total)` with `w_start` in epoch seconds.
    *
    * Unlike the single-window operators above, this one is fully
    * relational end to end — no driver summary: pass 1 runs Misra–Gries
    * PER (partition, window) and emits its candidates (≤ partitions ×
    * windows × counters rows) plus one total row per (partition,
    * window) as a DataFrame; the threshold join and exact recount are
    * ordinary bounded aggregations, so window count never bottlenecks
    * the driver. Per-task memory is O(windows-seen-by-partition ×
    * counters) — the sketch-by-key regime (event streams are roughly
    * time-ordered, so most partitions see few windows; same contract as
    * `Sketch.kmvDistinctByGroup`, enforced by the same per-task ceiling
    * via `maxWindowsPerTask`). The MG guarantee applies
    * per window (pigeonhole within the window's rows), so with
    * minShare > 1/(counters+1) no within-window heavy hitter is lost,
    * and the exact recount makes the output identical to the plain
    * per-window GROUP BY/HAVING. */
  /** Per-group top-k n-grams by occurrence count — boilerplate-candidate
    * mining (the template phrases a domain stamps on every page surface
    * here before they flood a mixture; feed the survivors to the q119
    * blocklist or the q105/q106 span dedup).
    *
    * Scale shape, two phases so gram TEXT never rides the big shuffle:
    * (1) grams reduce map-side to `(grp, hash128)` counts (partial agg),
    * one exchange of count rows, WindowGroupLimit top-k per group;
    * (2) ONE more scan recovers the winning grams' text via a broadcast
    * semi-join on the hash + distinct. The 128-bit key is the q9/q88
    * trade — the oracle groups by the gram string itself, so a
    * collision would surface as a count mismatch.
    *
    * Membership is top-k WITH TIES (every gram whose count reaches the
    * group's k-th highest count): a count threshold is the only
    * boundary any engine can replay — an arbitrary tie-break inside a
    * count plateau would be hash-order-dependent. Output may therefore
    * exceed k rows per group on plateaus — and a DEGENERATE plateau
    * (min_cnt lands on 1 in a small or highly diverse source) would
    * make "winners" essentially every distinct gram, turning the
    * hash-set broadcast corpus-sized. `maxWinnersPerGroup` fail-fasts
    * that regime inside the plan (raise_error at execution, same
    * discipline as Sketch's group ceiling) instead of OOMing the
    * driver; callers hitting it should raise n, lower k, or pre-filter
    * the source. */
  def topNgramsPerGroup(docs: DataFrame, text: Column, group: Column,
      n: Int, k: Int, maxWinnersPerGroup: Int = 1 << 20): DataFrame = {
    require(n >= 1 && k >= 1, s"bad n=$n k=$k")
    require(maxWinnersPerGroup >= k,
      s"maxWinnersPerGroup=$maxWinnersPerGroup must be >= k=$k")
    val grams = docs.select(group.as("grp"),
        explode(Diversity.slideGrams(graft.functions.TextExprs.tokens(text), n)).as("gram"))
      .select(col("grp"), col("gram"),
        struct(xxhash64(col("gram")), xxhash64(col("gram"), lit(1)))
          .as("h"))
    val counts = grams.groupBy(col("grp"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("cnt").desc, col("h").asc)
    // Plateau guard IN THE SAME SHUFFLE as the rank: min_cnt (the k-th
    // highest count) and n_win (ties-inclusive winner count) are two
    // further window passes over the grp-partitioned count table —
    // same partition key, so Catalyst plans them behind the rank's one
    // exchange with NO extra aggregation pass and NO side-table
    // broadcasts. An offending group raise_errors on its FIRST
    // materialized winner row, before its plateau can reach the text
    // broadcast.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    val stats = counts.withColumn("rank", row_number().over(w))
      .withColumn("min_cnt",
        min(when(col("rank") <= k, col("cnt"))).over(wAll))
      .withColumn("n_win",
        sum(when(col("cnt") >= col("min_cnt"), 1L).otherwise(0L))
          .over(wAll))
    val winners = stats.filter(col("cnt") >= col("min_cnt"))
      .select(col("grp"), col("h"),
        when(col("n_win") <= lit(maxWinnersPerGroup.toLong), col("cnt"))
          .otherwise(raise_error(concat(
            lit("topNgramsPerGroup: group "), col("grp").cast("string"),
            lit(s" has "), col("n_win").cast("string"),
            lit(s" ties-inclusive winners > maxWinnersPerGroup=" +
              s"$maxWinnersPerGroup (count plateau at min_cnt="),
            col("min_cnt").cast("string"),
            lit("); raise n, lower k, or pre-filter the source")))
            .cast("long")).as("cnt"))
    // broadcast-filter FIRST, distinct after: the distinct then runs
    // over winner grams only — all other gram text dies map-side
    val texts = grams.select(col("h"), col("gram"))
      .join(broadcast(winners.select(col("h")).distinct()), Seq("h"))
      .distinct()
    winners.join(texts, Seq("h"))
      .select(col("grp"), col("gram"), col("cnt"))
  }

  def heavyHittersByWindow(df: DataFrame, ts: Column, key: Column,
      windowSeconds: Long, minShare: Double,
      counters: Int = 256, maxWindowsPerTask: Int = -1): DataFrame = {
    require(windowSeconds > 0, s"windowSeconds must be > 0, got $windowSeconds")
    requireGuarantee(minShare, counters)
    val ceiling = Sketch.groupCeiling(counters, maxWindowsPerTask)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
      (floor(ts.cast("long") / windowSeconds).cast("long") *
        windowSeconds).as("w_start"),
      key.cast("string").as("item"))
      .filter(col("item").isNotNull && col("w_start").isNotNull)
    // pass 1: MG per (partition, window); emit (w, item) candidates and
    // one (w, null, n) total row per partition-window
    val partial = rows.as[(Long, String)].mapPartitions { it =>
      val sketches = new java.util.HashMap[java.lang.Long,
        java.util.HashMap[String, java.lang.Long]]()
      val totals = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      it.foreach { case (w, k) =>
        totals.merge(w, 1L, (a, b) => a + b)
        var counts = sketches.get(w)
        if (counts == null) {
          Sketch.checkGroupCeiling(sketches.size(), ceiling,
            "heavyHittersByWindow")
          counts = new java.util.HashMap[String, java.lang.Long](counters * 2)
          sketches.put(w, counts)
        }
        val cur = counts.get(k)
        if (cur != null) counts.put(k, cur + 1L)
        else if (counts.size < counters) counts.put(k, 1L)
        else {
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val en = e.next()
            if (en.getValue == 1L) e.remove()
            else en.setValue(en.getValue - 1L)
          }
        }
      }
      sketches.entrySet().iterator().asScala.flatMap { we =>
        we.getValue.keySet().iterator().asScala
          .map(k => (Long.unbox(we.getKey), k, 0L))
      } ++ totals.entrySet().iterator().asScala.map(te =>
        (Long.unbox(te.getKey), null: String, Long.unbox(te.getValue)))
    }.toDF("w_start", "item", "n")
    val candidates = partial.filter(col("item").isNotNull)
      .select(col("w_start"), col("item")).distinct()
    val totals = partial.filter(col("item").isNull)
      .groupBy(col("w_start")).agg(sum(col("n")).as("n_total"))
    // pass 2: exact recount over candidate (window, item) pairs only,
    // thresholded per window — both joins on bounded relations
    rows.join(candidates, Seq("w_start", "item"), "left_semi")
      .groupBy(col("w_start"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .join(totals, Seq("w_start"))
      .filter(col("cnt") >= ceil(lit(minShare) * col("n_total")).cast("long"))
      .select(col("w_start"), col("item"), col("cnt"), col("n_total"))
  }
}
