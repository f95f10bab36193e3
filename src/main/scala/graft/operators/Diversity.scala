package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Corpus-level n-gram diversity — the repetitiveness signal reported on
  * training-corpus datasheets (type-token ratio at n=1; distinct-n /
  * total-n for higher n, the corpus-side quantity behind Self-BLEU-style
  * diversity metrics): per group (source, language, shard …) and per n,
  * the total n-gram occurrences, the distinct n-gram count, and their
  * ratio. Low ratios flag template-heavy or boilerplate-dominated
  * sources before they flood a training mix.
  *
  * Scale shape:
  *  - grams are generated map-side per doc (one let-bound tokenize per
  *    requested n — slide, not shingle-distinct: totals count every
  *    occurrence);
  *  - only `(group, hash128(gram))` enters the distinct aggregate —
  *    gram TEXT never shuffles (the q9/q88 128-bit-key trade; the
  *    oracle groups by the gram string itself so a collision would
  *    surface as a count mismatch);
  *  - `count(DISTINCT h1, h2)` plans as Expand + two-phase hash
  *    aggregate with map-side partial distinct — the exact regime; at
  *    vocabularies that outgrow it, [[Sketch.kmvDistinctByGroup]] is
  *    the k-bounded approximate path with the same group keying.
  */
object Diversity {

  /** Every n-gram occurrence of the token array (NOT deduplicated —
    * unlike `TextExprs.wordShingles`, which is a distinct SET for
    * similarity). Empty when the doc has fewer than n tokens. */
  // r18: one codegen'd kernel call (TextKernels.slideGrams)
  // replacing the interpreted transform/array_join HOF — identical
  // output (full n-windows only; < n tokens → empty), pinned against
  // the HOF reference in TextExprsSpec.
  private[operators] def slideGrams(ts: Column, n: Int): Column =
    graft.functions.TextKernels.slideGrams(ts, n)

  /** Per `group` and per n in `ns`: `(grp, n, n_grams, n_distinct,
    * diversity = n_distinct / n_grams)`. A group whose docs all have
    * fewer than n tokens contributes no grams and is absent at that n
    * (explode drops it), same as the relational formulation. */
  def ngramDiversity(docs: DataFrame, text: Column, group: Column,
                     ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"need ns >= 1, got $ns")
    val base = docs.select(group.as("grp"), TextExprs.tokens(text).as("ts"))
    ns.map { n =>
      base.select(col("grp"), explode(slideGrams(col("ts"), n)).as("g"))
        .select(col("grp"), xxhash64(col("g")).as("h1"),
          xxhash64(col("g"), lit(1)).as("h2"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("h1"), col("h2")).as("n_distinct"))
        .select(col("grp"), lit(n).as("n"), col("n_grams"),
          col("n_distinct"),
          round(col("n_distinct").cast("double") /
            col("n_grams").cast("double"), 6).as("diversity"))
    }.reduce(_ unionByName _)
  }

  /** Per-group token-length histogram in power-of-two buckets — the
    * length-distribution panel of a corpus datasheet (and the input to
    * curriculum/packing decisions: how much of a source is sub-context-
    * length shorts vs truncation-risk longs). Bucket is `⌊log2 n⌋ + 1`
    * computed as the LENGTH OF THE BINARY STRING of the token count
    * (`bin(n)`) — pure integer/string arithmetic, no float log2 whose
    * boundary values (`log2(2^k)`) would be at the mercy of libm; bucket
    * 0 holds empty docs. All outputs are exact integers → hash-exact
    * across engines.
    *
    * Scale shape: token counts are map-side (one let-bound tokenize),
    * the aggregate is a two-level map-combined groupBy over (group,
    * bucket) — output cardinality groups × ~40 buckets, metadata-sized;
    * the corpus shuffles only its pre-aggregated partials. */
  def lengthHistogram(docs: DataFrame, text: Column,
                      group: Column): DataFrame = {
    val nTok = TextExprs.tokenCount(text).cast("long")
    val bucket = when(nTok === 0, lit(0))
      .otherwise(length(bin(nTok)).cast("int"))
    docs.select(group.as("grp"), nTok.as("n_tok"), bucket.as("bucket"))
      .groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    * over an embedding corpus: per query, greedily pick `k` items
    * maximizing `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` — the
    * diversity-aware re-rank used when a retrieval pool is fed to a
    * context window or a demonstration set and near-duplicate hits
    * waste the slots.
    *
    * Distribution of labor: the CORPUS work is [[Similarity
    * .bruteForceTopK]] (broadcast queries, map-side scoring,
    * WindowGroupLimit top-poolN) plus one pool-sized self-join for the
    * candidate–candidate cosines — everything past that operates on
    * queries × poolN rows, which is METADATA, and runs as a driver-side
    * greedy loop (the one regime where a driver loop is the right
    * plan: k·poolN² comparisons over ≤ thousands of rows, vs k more
    * distributed jobs). Determinism: both cosine tables are snapped to
    * 4 decimals (the q21-established cross-engine parity point); all
    * downstream arithmetic is fixed-sequence IEEE ops on identical
    * doubles, ties break on ascending doc id — the oracle replays the
    * greedy selection exactly, iteration by iteration.
    *
    * Output: `(query_id, sel_rank, doc_id, mmr)` — `sel_rank` the
    * greedy pick order (1-based), `mmr` the score at selection time. */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, poolN: Int, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && poolN >= k, s"need poolN >= k >= 1: poolN=$poolN k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val spark = corpus.sparkSession
    // Null-cosine rows (zero-norm query or doc — cosine undefined) are
    // dropped HERE, before the pool is collected: a zero-norm doc can
    // never be a meaningful MMR pick, a zero-norm query loses its whole
    // pool, and keeping them would NPE the driver-side getDouble below.
    val pool = Similarity.bruteForceTopK(corpus, queries, id, vec, poolN)
      .filter(col("cos").isNotNull)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cos").as("rel"))
    val vecs = corpus.select(col(id).as("doc_id"), col(vec).as("v"),
      graft.functions.VectorExprs.norm2(col(vec)).as("n2"))
    val pv = pool.join(vecs, "doc_id")
      .select(col("query_id"), col("doc_id"), col("v"), col("n2"))
    val x = pv.select(col("query_id"), col("doc_id").as("a"),
      col("v").as("av"), col("n2").as("an2"))
    val y = pv.select(col("query_id").as("qb"), col("doc_id").as("b"),
      col("v").as("bv"), col("n2").as("bn2"))
    val pc = x.join(y, col("query_id") === col("qb") && col("a") < col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(Similarity.pairCosine(col("av"), col("bv"),
          col("an2"), col("bn2")), 4).as("sim"))
    // ---- driver-side greedy over the metadata-sized pool
    val relRows = pool.collect()
      .map(r => (r.get(0), r.getLong(1), r.getDouble(2)))
    val simMap = pc.collect()
      .map(r => ((r.get(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    val oneMinus = 1.0 - lambda
    val out = relRows.groupBy(_._1).toSeq
      .flatMap { case (qid, rows) =>
        val rel = rows.map(r => r._2 -> r._3).toMap
        def sim(a: Long, bb: Long): Double =
          simMap((qid, math.min(a, bb), math.max(a, bb)))
        val selected = collection.mutable.ArrayBuffer.empty[(Long, Double)]
        // Pool can run dry before k picks (corpus smaller than poolN,
        // null-cosine zero-norm rows filtered above): emit fewer rows,
        // like the oracle, instead of minBy-on-empty throwing.
        var exhausted = false
        (1 to k).foreach { _ =>
          if (!exhausted) {
            val done = selected.map(_._1).toSet
            val cands = rel.keysIterator.filterNot(done)
              .map { d =>
                val pen = if (selected.isEmpty) 0.0
                          else selected.iterator.map(s => sim(d, s._1)).max
                (d, lambda * rel(d) - oneMinus * pen)
              }.toSeq
            if (cands.isEmpty) exhausted = true
            else selected += cands.minBy { case (d, s) => (-s, d) }
          }
        }
        selected.zipWithIndex.map { case ((d, s), i) =>
          org.apache.spark.sql.Row(qid, i + 1, d, s) }
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          pool.schema("query_id").dataType),
        org.apache.spark.sql.types.StructField("sel_rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mmr",
          org.apache.spark.sql.types.DoubleType))))
  }
}
