package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Vocabulary-induction and n-gram language-model statistics over a token
  * corpus (§2.10 extension surface — the "train a tokenizer / score with a
  * cheap LM" stages of a training-data pipeline).
  *
  * Both operators are pure relational compositions over the adjacent-token
  * pair stream: explode once, aggregate with map-side combine, never
  * collect. The pair stream is the corpus's bigram multiset — the exact
  * object BPE training (Sennrich et al. 2016) counts each merge round, and
  * the sufficient statistic of a bigram MLE language model.
  */
object Vocab {

  /** Adjacent token pairs, one output row per occurrence, carrying the
    * given prefix columns: the token array is MATERIALIZED as a column
    * before the pair lambda touches it. Inlining `tokens(text)` into the
    * lambda would re-run the whitespace split per element access —
    * higher-order functions evaluate interpreted, with no CSE into
    * lambda bodies, so the once-per-row projection below is worth ~4× on
    * the pair stream (measured on the 8k-doc corpus of SCALE.md
    * § "Round-6 extension operators").
    * Docs with < 2 tokens contribute nothing. */
  private[operators] def pairRows(df: DataFrame, idOpt: Option[Column],
      text: Column): DataFrame = {
    val base = idOpt match {
      case Some(id) => df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
      case None => df.select(TextExprs.tokens(text).as("__ts"))
    }
    val ts = col("__ts")
    val pairs = when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1), i =>
        struct(element_at(ts, i).as("l_tok"),
          element_at(ts, i + 1).as("r_tok"))))
      .otherwise(array().cast("array<struct<l_tok:string,r_tok:string>>"))
    val kept = if (idOpt.isDefined) Seq(col("id")) else Seq.empty[Column]
    base.select(kept :+ explode(pairs).as("p"): _*)
      .select(kept ++ Seq(col("p.l_tok").as("l_tok"),
        col("p.r_tok").as("r_tok")): _*)
  }

  /** One BPE-training merge round: the top-`k` adjacent token pairs by
    * corpus count — `(rank, l_tok, r_tok, n)`, ties broken
    * pair-lexicographically so the ranking is total and oracle-stable.
    *
    * Scale shape: one explode + a map-combinable pair count (partial
    * aggregation collapses each task to its distinct-pair set), then a
    * DISTRIBUTED top-k — `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject (per-partition heaps, k rows to the driver
    * stage), NOT a no-partition row_number window that would drag the
    * whole pair-count table into one task. The rank column is minted
    * after the limit, over k rows. */
  def topPairs(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val counts = pairRows(df, None, text)
      .groupBy("l_tok", "r_tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_tok").asc, col("r_tok").asc)
      .limit(k)
    // k rows by construction; always-zero NON-FOLDABLE partition key
    // (pmod of the non-null count — a literal would be stripped by
    // EliminateWindowPartitions) = explicit single-tiny-task rank, no
    // empty-spec global window (see Sketch.quantilesFromSample's scaladoc
    // for the repo-wide rule)
    val w = Window.partitionBy(pmod(col("n"), lit(1L)))
      .orderBy(col("n").desc, col("l_tok").asc, col("r_tok").asc)
    counts.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("l_tok"), col("r_tok"), col("n"))
  }

  /** Top-`k` collocations by pointwise mutual information — the
    * vocabulary-building companion to [[topPairs]]: raw pair counts
    * surface "of the", PMI surfaces the pairs that co-occur far above
    * chance ("San Francisco"), the classical collocation-mining score
    * (Church & Hanks 1990). With unigram marginals and the pair total,
    *
    *   pmi(x,y) = ln( c_xy · Nu² / (Np · c_x · c_y) )
    *
    * add-nothing (raw MLE) estimates; `minCount` suppresses the
    * low-count PMI explosion (a hapax pair of two hapax tokens scores
    * arbitrarily high — every PMI treatment cuts low counts first).
    *
    * Determinism across engines: candidates are ORDERED by the ratio
    * inside the ln — a quotient of exact integer-valued doubles with a
    * fixed operation sequence, identical IEEE in any engine — never by
    * the transcendental itself, so a last-ulp `ln` disagreement cannot
    * reorder ties; `pmi` is emitted rounded(4) for display. Ties break
    * pair-lexicographically.
    *
    * Scale shape: both totals derive from the COUNT TABLES (the pair
    * total summed before the `minCount` filter — no extra corpus
    * pass for either); `minCount` prunes the pair table BEFORE its two
    * vocab-sized marginal joins; the 1-row totals broadcast; the final
    * top-k is TakeOrderedAndProject (per-partition heaps), rank minted
    * over k rows under the sanctioned pmod window. This convenience
    * form hands lazy count plans to [[pmiFromCounts]] and Catalyst
    * re-evaluates each reference (measured: 4 corpus scans) —
    * petabyte-scale callers materialize the count tables first and use
    * [[pmiFromCounts]] directly (2 scans). Output:
    * `(rank, l_tok, r_tok, n_pair, pmi)`. */
  def pmiCollocations(df: DataFrame, text: Column, k: Int,
                      minCount: Int): DataFrame =
    pmiFromCounts(
      pairRows(df, None, text)
        .groupBy(col("l_tok"), col("r_tok")).agg(count(lit(1)).as("n_pair")),
      df.select(explode(TextExprs.tokens(text)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c_t")),
      k, minCount)

  /** [[pmiCollocations]] over pre-aggregated count tables — the
    * sufficient-statistic entry (`(l_tok, r_tok, n_pair)` pair counts
    * and `(t, c_t)` unigram counts; both totals derive from the tables
    * themselves). The convenience wrapper above hands UNMATERIALIZED
    * count plans to this function, and Catalyst inlines each reference
    * — the executed q175 plan re-scans the corpus once per marginal
    * join (4 scans total, one AQE stage reuse; measured via
    * `tools.Explain`). At fixture scale that's noise; a caller
    * mining collocations from a petabyte corpus should materialize the
    * two vocab-sized count tables first (one scan each) and call this
    * entry, paying 2 corpus scans total. */
  def pmiFromCounts(pairCntAll: DataFrame, uniCnt: DataFrame, k: Int,
                    minCount: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val pairCnt = pairCntAll.filter(col("n_pair") >= minCount)
    val totals = uniCnt.agg(sum(col("c_t")).as("n_uni"))
      .crossJoin(broadcast(pairCntAll.agg(sum(col("n_pair")).as("n_pairs"))))
    val scored = pairCnt
      .join(uniCnt.select(col("t").as("l_tok"), col("c_t").as("c_l")),
        Seq("l_tok"))
      .join(uniCnt.select(col("t").as("r_tok"), col("c_t").as("c_r")),
        Seq("r_tok"))
      .crossJoin(broadcast(totals))
      // exact-integer doubles through a FIXED op sequence: the sort key
      .withColumn("ratio",
        col("n_pair").cast("double") * col("n_uni").cast("double") *
          col("n_uni").cast("double") / col("n_pairs").cast("double") /
          col("c_l").cast("double") / col("c_r").cast("double"))
    val top = scored
      .orderBy(col("ratio").desc, col("l_tok").asc, col("r_tok").asc)
      .limit(k)
    val w = Window.partitionBy(pmod(col("n_pair"), lit(1L)))
      .orderBy(col("ratio").desc, col("l_tok").asc, col("r_tok").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("l_tok"), col("r_tok"), col("n_pair"),
        round(log(col("ratio")), 4).as("pmi"))
  }

  // wrapped-string corpus form for multi-round BPE: every token sits in
  // \u0001...\u0002 brackets, so one string `replace` of
  // "<1>l<2><1>r<2>" -> "<1>lr<2>" IS the greedy
  // left-to-right non-overlapping merge of pair (l, r) — the exact BPE
  // round semantics ("a a a" merges the first two), with identical
  // behavior in any engine's standard replace (the oracle replays every
  // round in SQL). The bracket chars are NOT guaranteed absent from raw
  // text (control chars are not whitespace, so tokens() would keep them)
  // — wrappedSeqs scrubs them to spaces first, making the boundary
  // invariant real rather than assumed; the oracle scrubs identically.
  private val S1 = "\u0001"
  private val S2 = "\u0002"

  /** The wrapped-string corpus: brackets scrubbed from the raw text, one
    * row per doc with ≥ 1 token. */
  private def wrappedSeqs(df: DataFrame, text: Column): DataFrame =
    df.select(
      concat_ws("", transform(
        TextExprs.tokens(regexp_replace(text, "[\u0001\u0002]", " ")),
        t => concat(lit(S1), t, lit(S2)))).as("s"))
      .filter(length(col("s")) > 0)

  /** The signed adjacent-pair stream of a materialized token-array
    * column: `(l_tok, r_tok, w)` structs with weight `w` per occurrence.
    * `ts` must be a plain column reference (HOF CSE discipline — the
    * lambda re-evaluates its argument per element access). */
  private def weightedPairs(ts: Column, w: Long): Column =
    when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1), i =>
        struct(element_at(ts, i).as("l_tok"),
          element_at(ts, i + 1).as("r_tok"), lit(w).as("w"))))
      .otherwise(array().cast(
        "array<struct<l_tok:string,r_tok:string,w:bigint>>"))

  /** The full pair-count table `(l_tok, r_tok, n)` of a wrapped-string
    * corpus — ONE explode + map-combined count. The incremental trainer
    * pays this exactly once (round 1); every later round maintains it by
    * delta. */
  private def pairCounts(seqs: DataFrame): DataFrame = {
    val toksDf = seqs.select(
      split(expr("substring(s, 2, length(s) - 2)"),
        java.util.regex.Pattern.quote(S2 + S1)).as("__ts"))
    val tsc = col("__ts")
    toksDf.select(explode(weightedPairs(tsc, 1L)).as("p"))
      .select(col("p.l_tok").as("l_tok"), col("p.r_tok").as("r_tok"))
      .groupBy("l_tok", "r_tok").agg(count(lit(1)).as("n"))
  }

  /** The signed per-pair delta of applying merge `pat -> rep` to the
    * rows of `seqs` that contain `pat`: ONE scan of the affected subset,
    * both token arrays materialized as columns BEFORE the pair lambdas
    * (HOF CSE discipline), −1 per pre-merge pair occurrence, +1 per
    * post-merge. Rows without `pat` contribute nothing by construction —
    * the Sennrich delta trick's correctness core. */
  private def pairDelta(seqs: DataFrame, pat: String,
      rep: String): DataFrame =
    seqs.filter(col("s").contains(pat))
      .select(col("s").as("sb"),
        replace(col("s"), lit(pat), lit(rep)).as("sa"))
      .select(
        split(expr("substring(sb, 2, length(sb) - 2)"),
          java.util.regex.Pattern.quote(S2 + S1)).as("tb"),
        split(expr("substring(sa, 2, length(sa) - 2)"),
          java.util.regex.Pattern.quote(S2 + S1)).as("ta"))
      .select(explode(concat(
        weightedPairs(col("tb"), -1L),
        weightedPairs(col("ta"), 1L))).as("p"))
      .groupBy(col("p.l_tok").as("l_tok"), col("p.r_tok").as("r_tok"))
      .agg(sum(col("p.w")).as("n"))

  /** Multi-round BPE training (Sennrich et al. 2016): K merge rounds,
    * each merging the single most frequent adjacent pair of the previous
    * round's merged token sequences (ties pair-lexicographic, same total
    * order as [[topPairs]]). Returns the merge table
    * `(round, l_tok, r_tok, n)` — the actual tokenizer-training artifact.
    *
    * INCREMENTAL pair-count maintenance (the trick that makes real merge
    * counts K = 30–50k feasible): merging (l, r) only changes pair counts
    * on sequences that CONTAIN an (l, r) occurrence, so after ONE full
    * pair count, each round recounts only the affected rows
    * ([[pairDelta]] — a `contains` filter over the cached corpus) and
    * folds the signed delta into the maintained count table. The corpus
    * itself never shuffles (merges apply as map-side `replace`), and the
    * full explode+count of the naive formulation (O(K · corpus), see
    * [[bpeTrainRecount]]) is paid exactly once.
    *
    * Two count-table regimes, same measured-crossover discipline as
    * DupClusters' union-find:
    *  - `|pairs| ≤ maxDriverPairs` (every real tokenizer run: the table
    *    is DISTINCT BIGRAM TYPES, bounded ~vocab², not corpus size — a
    *    50k-merge GPT-2-style run holds ~10⁵–10⁶ pairs): the table lives
    *    in a driver hash map with a TreeSet priority index, exactly like
    *    Sennrich's in-process implementation — top-1 is O(log n), each
    *    round is ONE Spark job (the delta collect; delta is
    *    affected-subset-bounded), zero count-table shuffles ever.
    *  - above the ceiling (degenerate open vocabularies): the table stays
    *    a persisted DataFrame, top-1 is a distributed
    *    TakeOrderedAndProject, and the delta folds in via union+sum —
    *    count-table-bounded shuffle per round, still never the corpus.
    *
    * Exactness: the delta replays full affected rows, so the maintained
    * table equals the recount table bit-exactly every round — both
    * regimes produce merge tables IDENTICAL to [[bpeTrainRecount]]
    * (property-checked in VocabSpec across both regimes), and the q82
    * oracle (which unrolls rounds in SQL) checks any of them. */
  def bpeTrain(df: DataFrame, text: Column, rounds: Int,
      maxDriverPairs: Int = 2000000): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(maxDriverPairs >= 0, s"maxDriverPairs must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val merges = withRddCleanup(spark) {
      val seqs0 = wrappedSeqs(df, text).persist()
      // the full pair-count table persists BEFORE the regime probe, so the
      // above-ceiling regime hands the already-computed table to the
      // distributed trainer instead of re-paying the full explode+count;
      // the probe reads through the same persist, capped at ceiling+1 rows
      // so the collect itself stays driver-safe (never an unbounded table)
      val counts0 = pairCounts(seqs0).persist()
      val probe = counts0
        .limit(math.min(maxDriverPairs.toLong + 1, Int.MaxValue).toInt)
        .collect() // materializes seqs0's persist (and counts0's, partially)
      if (probe.length <= maxDriverPairs) {
        counts0.unpersist() // driver regime owns its counts in-heap
        trainDriverDelta(seqs0, probe, rounds)
      } else trainDistributedDelta(seqs0, counts0, rounds)
    }
    merges.toDF("round", "l_tok", "r_tok", "n")
  }

  /** Scoped cache-hygiene guard — see [[CacheHygiene.withRddCleanup]]:
    * the training result is a driver-side Seq, so nothing the caller can
    * observe depends on the loop's caches. */
  private def withRddCleanup[A](
      spark: org.apache.spark.sql.SparkSession)(f: => A): A =
    CacheHygiene.withRddCleanup(spark)(f)

  /** Driver-resident count table (hash map + TreeSet priority index,
    * ordered (n desc, l asc, r asc) — the same total order as the
    * distributed top-1). Takes ownership of `seqs0`'s persist. One Spark
    * job per round: the affected-subset delta collect. */
  private def trainDriverDelta(seqs0: DataFrame,
      initial: Array[org.apache.spark.sql.Row],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val counts = new java.util.HashMap[(String, String), Long]()
    val ord: Ordering[(Long, String, String)] =
      Ordering.by((t: (Long, String, String)) => (-t._1, t._2, t._3))
    val index =
      scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)
    initial.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      counts.put(k, r.getLong(2))
      index.add((r.getLong(2), k._1, k._2))
    }
    var seqs = seqs0
    var prev: DataFrame = null
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        if (index.isEmpty) exhausted = true
        else {
          val (n, l, rt) = index.head // O(log n) top-1, total order
          merges += ((r, l, rt, n))
          val pat = S1 + l + S2 + S1 + rt + S2
          val rep = S1 + l + rt + S2
          val delta = pairDelta(seqs, pat, rep)
            .collect() // the round's ONE job; materializes seqs' persist
          if (prev != null) { prev.unpersist(); prev = null }
          delta.foreach { d =>
            val k = (d.getString(0), d.getString(1))
            val old = counts.getOrDefault(k, 0L)
            if (old != 0L) index.remove((old, k._1, k._2))
            val now = old + d.getLong(2)
            if (now > 0L) { counts.put(k, now); index.add((now, k._1, k._2)) }
            else counts.remove(k)
          }
          // localCheckpoint every 3rd generation (same discipline as
          // DupClusters' label loop): persist alone caches rows but keeps
          // the full replace-chain lineage, so plan size — and the nested
          // InMemoryRelation trees Spark renders for logging — would grow
          // with K and OOM the driver around K ≈ 30 (measured)
          val next0 = seqs.select(
            replace(col("s"), lit(pat), lit(rep)).as("s"))
          val next = if (r % 3 == 0) next0.localCheckpoint(eager = false)
            else next0.persist()
          prev = seqs
          seqs = next
        }
        r += 1
      }
    } finally {
      if (prev != null) prev.unpersist()
      seqs.unpersist()
    }
    merges.result()
  }

  /** Distributed count table for the above-ceiling regime. Takes
    * ownership of the `seqs0` AND `counts0` persists — `counts0` is the
    * regime probe's already-persisted full pair count, so the full
    * explode+count is paid exactly once. One job per round (the top-1
    * collect); counts_r materializes at round r's collect (reading
    * seqs_{r-1}'s cache through the delta), seqs_r at round r+1's (the
    * affected filter scans it), so the trailing TWO seqs and one counts
    * generations stay pinned and every materialization is a one-step
    * read from cache, never a replay to round 0. */
  private def trainDistributedDelta(seqs0: DataFrame, counts0: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var seqs = seqs0
    var counts = counts0
    var seqsOld1: DataFrame = null // seqs_{r-1}: may back seqs_r / counts_r
    var seqsOld2: DataFrame = null // seqs_{r-2}: droppable after the collect
    var countsPrev: DataFrame = null
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val top = counts
          .orderBy(col("n").desc, col("l_tok").asc, col("r_tok").asc)
          .limit(1).collect() // the round's ONE job
        // counts_r is now cached (and seqs_{r-1} fully materialized via
        // the delta's affected scan): release the generations nothing
        // can read again
        if (countsPrev != null) { countsPrev.unpersist(); countsPrev = null }
        if (seqsOld2 != null) { seqsOld2.unpersist(); seqsOld2 = null }
        if (top.isEmpty) exhausted = true
        else {
          val l = top(0).getString(0)
          val rt = top(0).getString(1)
          merges += ((r, l, rt, top(0).getLong(2)))
          val pat = S1 + l + S2 + S1 + rt + S2
          val rep = S1 + l + rt + S2
          // lineage truncation every 3rd round for BOTH growing chains
          // (the replace chain and the union+sum counts chain) — see
          // trainDriverDelta's comment
          val nextCounts0 = counts.unionByName(pairDelta(seqs, pat, rep))
            .groupBy("l_tok", "r_tok").agg(sum(col("n")).as("n"))
            .filter(col("n") > 0)
          val nextCounts = if (r % 3 == 0)
            nextCounts0.localCheckpoint(eager = false) else nextCounts0.persist()
          val nextSeqs0 = seqs.select(
            replace(col("s"), lit(pat), lit(rep)).as("s"))
          val nextSeqs = if (r % 3 == 0)
            nextSeqs0.localCheckpoint(eager = false) else nextSeqs0.persist()
          seqsOld2 = seqsOld1
          seqsOld1 = seqs
          seqs = nextSeqs
          countsPrev = counts
          counts = nextCounts
        }
        r += 1
      }
    } finally {
      Seq(seqs, seqsOld1, seqsOld2, counts, countsPrev)
        .filter(_ != null).foreach(_.unpersist())
    }
    merges.result()
  }

  /** The naive O(K · corpus) formulation — a FULL pair recount
    * (split+explode+count over every sequence) per merge round. Kept as
    * the independently-derived witness for [[bpeTrain]]'s delta
    * maintenance (VocabSpec pins identical merge tables) and as the
    * baseline in SCALE.md § "BPE training K-scaling"; unusable beyond
    * K ≈ 10² rounds. */
  def bpeTrainRecount(df: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val spark = df.sparkSession
    val result = withRddCleanup(spark) {
      var seqs = wrappedSeqs(df, text).persist()
      // the previous round's cache is released only AFTER the current
      // round's top-1 has materialized the current cache (the aggregate
      // below reads seqs through its persist) — one job per round, no
      // separate materializing count(), and never an unmaterialized persist
      // chain that would recompute back to round 0
      var prev: DataFrame = null
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      try {
        var r = 1
        var exhausted = false
        while (r <= rounds && !exhausted) {
          val top = pairCounts(seqs)
            .orderBy(col("n").desc, col("l_tok").asc, col("r_tok").asc)
            .limit(1).collect() // materializes seqs' persist
          if (prev != null) { prev.unpersist(); prev = null }
          if (top.isEmpty) exhausted = true
          else {
            val l = top(0).getString(0)
            val rt = top(0).getString(1)
            merges += ((r, l, rt, top(0).getLong(2)))
            // same every-3rd-round lineage truncation as the delta paths
            val next0 = seqs.select(
              replace(col("s"), lit(S1 + l + S2 + S1 + rt + S2),
                lit(S1 + l + rt + S2)).as("s"))
            val next = if (r % 3 == 0) next0.localCheckpoint(eager = false)
              else next0.persist()
            prev = seqs
            seqs = next
          }
          r += 1
        }
      } finally {
        if (prev != null) prev.unpersist()
        seqs.unpersist()
      }
      merges.result()
    }
    import spark.implicits._
    result.toDF("round", "l_tok", "r_tok", "n")
  }

  /** Apply a trained merge list (as produced by [[bpeTrain]], in training
    * order) to the corpus — BPE ENCODING, the inference half of the
    * tokenizer: `(id, n_raw, n_bpe, compression)` per document with ≥ 1
    * token, where `n_bpe` counts tokens after all merges and
    * `compression = n_raw / n_bpe` (rounded 4) is the per-doc
    * bytes-per-token proxy quality/efficiency signal.
    *
    * Scale shape: the merge list rides the plan as literals (same
    * discipline as Classify's model weights — no join), each merge is one
    * map-side `replace` on the wrapped-string form, and the token count
    * is recovered by counting markers — the corpus NEVER shuffles and the
    * whole encode is a single projection. */
  def bpeEncode(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val clean = regexp_replace(text, "[\u0001\u0002]", " ")
    val s0: Column = concat_ws("", transform(TextExprs.tokens(clean), t =>
      concat(lit(S1), t, lit(S2))))
    val sN = merges.foldLeft(s0) { case (acc, (l, r)) =>
      replace(acc, lit(S1 + l + S2 + S1 + r + S2), lit(S1 + l + r + S2))
    }
    df.select(id.as("id"), size(TextExprs.tokens(clean)).as("__nr"),
        sN.as("__s"))
      .filter(col("__nr") > 0)
      .select(col("id"),
        col("__nr").cast("long").as("n_raw"),
        (length(col("__s")) -
          length(replace(col("__s"), lit(S1), lit(""))))
          .cast("long").as("n_bpe"))
      .withColumn("compression",
        round(col("n_raw").cast("double") / col("n_bpe"), 4))
  }

  /** Per-document bigram-MLE negative log-likelihood — the classic cheap
    * quality/fluency signal (a KenLM-style filter with the corpus itself
    * as training set): `(id, n_bigrams, avg_nll)` where
    * `avg_nll = -mean ln C(l,r)/Cleft(l)` over the doc's adjacent pairs
    * and `Cleft(l)` is the left-context marginal (how many bigrams start
    * with `l`). Every doc bigram is in the corpus counts by construction,
    * so no smoothing term is needed and every probability is in (0, 1].
    * Docs with < 2 tokens have no bigrams and are excluded. The ln is the
    * one cross-engine float risk; round(…, 4) absorbs it (same discipline
    * as BM25's idf).
    *
    * Scale shape: the corpus is TOKENIZED once — the (id, tokens) base
    * persists for the call's scope at 1× corpus footprint, and both
    * consumers of the pair stream (the count-table build and the probe
    * side of the score join) re-derive it from the cache by a cheap array
    * explode. Persisting the EXPLODED stream instead would hold ~2×
    * corpus in cache for the same number of shuffles — the explode is
    * array traversal over cached rows, the tokenizer kernel is the
    * expensive pass. Exchange reuse can't express this sharing (column
    * pruning rewrites the two subtrees differently, so they never
    * canonicalize equal), and a count-window over the stream would buffer
    * a hot left token's whole partition in one task — a 100 TB straggler
    * — so the cache IS the single-scan mechanism, with the join/window
    * shapes unchanged: the left marginal is a window PARTITIONED BY l_tok
    * over the vocab²-BOUNDED count table, the score join is pair-keyed,
    * the per-doc aggregate map-combinable. The operator MATERIALIZES: the
    * narrow per-doc result spills to a JVM-lifetime temp parquet and the
    * scoped guard releases the base cache before returning, so no cache
    * outlives the call (registry hygiene sweep) and re-consumption reads
    * files. */
  def bigramNll(df: DataFrame, id: Column, text: Column): DataFrame =
    CacheHygiene.withRddCleanup(df.sparkSession) {
      val base = df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
        .persist()
      val ts = col("__ts")
      // derived fresh per consumer: both plans read base's cache
      def pairs = base.select(col("id"), explode(
          when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1), i =>
              struct(element_at(ts, i).as("l_tok"),
                element_at(ts, i + 1).as("r_tok"))))
            .otherwise(array().cast(
              "array<struct<l_tok:string,r_tok:string>>"))).as("p"))
        .select(col("id"), col("p.l_tok").as("l_tok"),
          col("p.r_tok").as("r_tok"))
      val counts = pairs.groupBy("l_tok", "r_tok").agg(count(lit(1)).as("c_lr"))
      val withMarginal = counts.withColumn("c_l",
        sum(col("c_lr")).over(Window.partitionBy(col("l_tok"))))
      CacheHygiene.spillToTempParquet(
        pairs.join(withMarginal, Seq("l_tok", "r_tok"))
          .select(col("id"),
            log(col("c_lr").cast("double") / col("c_l").cast("double")).as("ll"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(-sum(col("ll")) / count(lit(1)), 4).as("avg_nll")),
        "graft-nll-")
    }

  /** Per-document add-k–smoothed trigram NLL — [[bigramNll]] with one more
    * token of context and Lidstone smoothing:
    * `P(w3|w1,w2) = (C(w1,w2,w3) + k) / (C(w1,w2,·) + k·V)` with `V` the
    * corpus unigram vocabulary size. The longer context sharpens the
    * fluency signal (a shuffled doc scores far worse than under the
    * bigram model); the smoothing keeps the scorer total when applied to
    * held-out text whose trigrams the corpus lacks — on the training
    * corpus itself every scored trigram is seen, but the k·V mass still
    * shifts probabilities, so the oracle replays the exact formula. Docs
    * with < 3 tokens have no trigrams and are excluded; round(…, 4)
    * absorbs the cross-engine ln/sum-order float risk (q72 discipline).
    *
    * Scale shape: identical to [[bigramNll]] — ONE tokenize of the
    * corpus: the (id, tokens) base persists at 1× corpus footprint and
    * ALL THREE consumers re-derive from the cache by cheap array ops —
    * the TYPES-bounded count table (context marginal via a window
    * PARTITIONED BY (w1, w2)), the probe side of the score join, and the
    * vocabulary-size scan V (which previously re-ran the tokenizer kernel
    * over the whole corpus as a hidden second pass). V is a one-row
    * broadcast riding a crossJoin (the BM25 corpus-stats shape), and the
    * per-doc aggregate is map-combinable. MATERIALIZES like [[bigramNll]]:
    * narrow per-doc spill out, scoped cache released on return. */
  def trigramNll(df: DataFrame, id: Column, text: Column,
                 addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"add-k smoothing needs k > 0, got $addK")
    CacheHygiene.withRddCleanup(df.sparkSession) {
      val base = df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
        .persist()
      val ts = col("__ts")
      // derived fresh per consumer: all plans read base's cache
      def triples = base.select(col("id"), explode(
          when(size(ts) >= 3,
            transform(sequence(lit(1), size(ts) - 2), i =>
              struct(element_at(ts, i).as("w1"),
                element_at(ts, i + 1).as("w2"),
                element_at(ts, i + 2).as("w3"))))
            .otherwise(array().cast(
              "array<struct<w1:string,w2:string,w3:string>>"))).as("t"))
        .select(col("id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
          col("t.w3").as("w3"))
      val counts = triples.groupBy("w1", "w2", "w3")
        .agg(count(lit(1)).as("c3"))
        .withColumn("c2",
          sum(col("c3")).over(Window.partitionBy(col("w1"), col("w2"))))
      val vocab = base.select(explode(ts).as("t"))
        .agg(count_distinct(col("t")).as("v"))
      CacheHygiene.spillToTempParquet(
        triples.join(counts, Seq("w1", "w2", "w3"))
          .crossJoin(broadcast(vocab))
          .select(col("id"),
            log((col("c3") + addK) / (col("c2") + col("v") * addK)).as("ll"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_trigrams"),
            round(-sum(col("ll")) / count(lit(1)), 4).as("avg_nll")),
        "graft-nll-")
    }
  }

  /** Per-document Stupid Backoff trigram scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation") — the n-gram scorer
    * DESIGNED for the distributed count-table regime: no discounting, no
    * normalization pass, just relative frequencies with a fixed backoff
    * penalty, so every level is a plain count table and the whole model
    * is "counts + one constant":
    *
    *   S(w3|w1,w2) = C(w1,w2,w3)/C(w1,w2,·)            if the trigram is seen
    *               = α · C(w2,w3)/C(w2,·)              else if the bigram is
    *               = α² · (C(w3)+1)/(N+V)              else (add-1 unigram
    *                                                    floor — Brants assumes
    *                                                    vocab coverage; the
    *                                                    floor keeps the scorer
    *                                                    total on OOV tokens)
    *
    * Backoff only fires on n-grams the count tables lack, so the corpus is
    * split by `id % heldMod`: held-out docs (`≡ 0`, the scored set) are
    * excluded from the tables, which is also the honest evaluation setup —
    * scoring training text never exercises the backoff chain. Context
    * marginals (`C(w1,w2,·)`, `C(w2,·)`) are sums over the observed
    * continuations, the standard count-table formulation.
    *
    * Scale shape: ONE tokenize of the corpus — the (id, tokens) base
    * persists once and both splits plus all three count tables re-derive
    * from the cache by cheap array ops. The tables are TYPES-bounded
    * (trigram/bigram/unigram types of the train split, NOT corpus size);
    * marginals are windows PARTITIONED BY the context; (N, V) is a one-row
    * broadcast riding a crossJoin (the BM25 corpus-stats shape). The held
    * trigram stream takes three LEFT joins against the bounded tables —
    * pair-keyed shuffles (broadcast when the tables fit, AQE's call), with
    * the unigram join's stopword skew left to AQE skew handling. Per-doc
    * aggregate is map-combinable; `round(…, 4)` absorbs cross-engine
    * ln/sum-order float risk (q72 discipline). MATERIALIZES like
    * [[bigramNll]]: narrow per-doc spill out, scoped cache released on
    * return. */
  def stupidBackoffNll(df: DataFrame, id: Column, text: Column,
                       alpha: Double = 0.4, heldMod: Int = 5): DataFrame = {
    require(heldMod >= 2, s"heldMod >= 2 (else no train split), got $heldMod")
    CacheHygiene.withRddCleanup(df.sparkSession) {
      val base = df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
        .persist()
      def split(held: Boolean) =
        base.filter(if (held) pmod(col("id"), lit(heldMod)) === 0
                    else pmod(col("id"), lit(heldMod)) =!= 0)
      val train = split(held = false)
      CacheHygiene.spillToTempParquet(
        scoreBackoff(docTriples(split(held = true)), triTable(train),
          biTable(train), uniTable(train), alpha),
        "graft-nll-")
    }
  }

  /** Per-document interpolated Kneser–Ney bigram NLL (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form) — the standard-smoothing
    * rung above [[stupidBackoffNll]]'s score-only shortcut:
    *
    *   P(r|l) = max(C(l,r) − D, 0)/C(l,·)
    *          + D·N1+(l,·)/C(l,·) · N1+(·,r)/N1+(·,·)
    *
    * with ONE absolute discount `D ∈ (0,1)` and the continuation
    * distribution `N1+(·,r)/N1+(·,·)` — "how many distinct contexts does r
    * follow" — instead of raw unigram frequency (the "San Francisco"
    * correction: a word frequent only inside one collocation gets a SMALL
    * continuation weight). The discounted mass D·N1+(l,·)/C(l,·) is
    * exactly what the max(·−D,0) term gives up, so P sums to 1 over the
    * vocabulary per context. Scored over the corpus itself every scored
    * bigram is seen (first term > 0); the interpolation still shifts mass,
    * so the oracle replays the exact formula. Docs with < 2 tokens have no
    * bigrams and are excluded; `round(…, 4)` absorbs cross-engine
    * ln/sum-order float risk (q72 discipline).
    *
    * Scale shape: ONE tokenize (persisted (id, tokens) base, q72's
    * single-scan discipline); everything KN adds over [[bigramNll]] is
    * derived from the TYPES-bounded bigram count table, never the corpus
    * stream — C(l,·) and N1+(l,·) from one window PARTITIONED BY l_tok,
    * N1+(·,r) from one PARTITIONED BY r_tok (two exchanges of a bounded
    * table), N1+(·,·) a one-row count riding a broadcast crossJoin. The
    * probe join is pair-keyed; the per-doc aggregate map-combinable.
    * MATERIALIZES like [[bigramNll]]: narrow per-doc spill out, scoped
    * cache released on return. */
  def kneserNeyNll(df: DataFrame, id: Column, text: Column,
                   discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"KN absolute discount in (0,1), got $discount")
    CacheHygiene.withRddCleanup(df.sparkSession) {
      val base = df.select(id.as("id"), TextExprs.tokens(text).as("__ts"))
        .persist()
      val ts = col("__ts")
      def pairs = base.select(col("id"), explode(
          when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1), i =>
              struct(element_at(ts, i).as("l_tok"),
                element_at(ts, i + 1).as("r_tok"))))
            .otherwise(array().cast(
              "array<struct<l_tok:string,r_tok:string>>"))).as("p"))
        .select(col("id"), col("p.l_tok").as("l_tok"),
          col("p.r_tok").as("r_tok"))
      val counts = pairs.groupBy("l_tok", "r_tok")
        .agg(count(lit(1)).as("c_lr"))
      // every row of the bounded table is a distinct (l,r) type, so
      // count(*) over a context partition IS that context's N1+
      val tab = counts
        .withColumn("c_l",
          sum(col("c_lr")).over(Window.partitionBy(col("l_tok"))))
        .withColumn("n1p_l",
          count(lit(1)).over(Window.partitionBy(col("l_tok"))))
        .withColumn("n1p_r",
          count(lit(1)).over(Window.partitionBy(col("r_tok"))))
      val types = counts.agg(count(lit(1)).as("n1p_all"))
      val d = lit(discount)
      CacheHygiene.spillToTempParquet(
        pairs.join(tab, Seq("l_tok", "r_tok"))
          .crossJoin(broadcast(types))
          .select(col("id"), log(
            greatest(col("c_lr").cast("double") - d, lit(0.0)) / col("c_l") +
              d * col("n1p_l") / col("c_l") *
                (col("n1p_r").cast("double") / col("n1p_all"))).as("ll"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(-sum(col("ll")) / count(lit(1)), 4).as("avg_nll")),
        "graft-nll-")
    }
  }

  /** The per-position trigram stream of a tokenized `(id, __ts)` frame. */
  private[graft] def docTriples(src: DataFrame): DataFrame = {
    val ts = col("__ts")
    src.select(col("id"), explode(
        when(size(ts) >= 3,
          transform(sequence(lit(1), size(ts) - 2), i =>
            struct(element_at(ts, i).as("w1"),
              element_at(ts, i + 1).as("w2"),
              element_at(ts, i + 2).as("w3"))))
          .otherwise(array().cast(
            "array<struct<w1:string,w2:string,w3:string>>"))).as("t"))
      .select(col("id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
  }

  /** RAW n-gram count tables from a tokenized `(id, __ts)` frame. Raw
    * counts are ADDITIVE — associative and commutative under per-key sum —
    * so tables built from any sharding of a corpus merge to the whole-
    * corpus tables exactly (the property `streaming/NgramLmStream` builds
    * on). Context marginals are NOT stored: they are derived at scoring
    * time by [[scoreBackoff]]'s partitioned windows, because a marginal is
    * not additive across shards but a sum of counts is. */
  private[graft] def triTable(src: DataFrame): DataFrame =
    docTriples(src).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))

  private[graft] def biTable(src: DataFrame): DataFrame = {
    val ts = col("__ts")
    src.select(explode(
        when(size(ts) >= 2,
          transform(sequence(lit(1), size(ts) - 1), i =>
            struct(element_at(ts, i).as("w2"),
              element_at(ts, i + 1).as("w3"))))
          .otherwise(array().cast(
            "array<struct<w2:string,w3:string>>"))).as("p"))
      .select(col("p.w2").as("w2"), col("p.w3").as("w3"))
      .groupBy("w2", "w3").agg(count(lit(1)).as("c_br"))
  }

  private[graft] def uniTable(src: DataFrame): DataFrame =
    src.select(explode(col("__ts")).as("w3"))
      .groupBy("w3").agg(count(lit(1)).as("c1"))

  /** The three-level Stupid Backoff scorer over RAW count tables
    * (`triTable`/`biTable`/`uniTable` schemas): derives the context
    * marginals with context-PARTITIONED windows, broadcasts the one-row
    * (N, V) corpus stats, and takes the held trigram stream through three
    * LEFT joins — the [[stupidBackoffNll]] score path, shared verbatim by
    * the incremental-state scorer so batch and streaming regimes cannot
    * drift. */
  private[graft] def scoreBackoff(heldTriples: DataFrame, tri: DataFrame,
      bi: DataFrame, uni: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"backoff alpha in (0,1), got $alpha")
    val c3tab = tri.withColumn("c2",
      sum(col("c3")).over(Window.partitionBy(col("w1"), col("w2"))))
    val bitab = bi.withColumn("c_bl",
      sum(col("c_br")).over(Window.partitionBy(col("w2"))))
    val stats = uni.agg(sum(col("c1")).as("n_tok"), count(lit(1)).as("v"))
    val a  = lit(alpha)
    val a2 = lit(alpha * alpha)
    heldTriples
      .join(c3tab, Seq("w1", "w2", "w3"), "left")
      .join(bitab, Seq("w2", "w3"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(stats))
      .select(col("id"), log(
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2"))
        .when(col("c_br").isNotNull,
          a * col("c_br").cast("double") / col("c_bl"))
        .otherwise(
          a2 * (coalesce(col("c1"), lit(0L)) + 1).cast("double") /
            (col("n_tok") + col("v")))).as("ll"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"),
        round(-sum(col("ll")) / count(lit(1)), 4).as("avg_nll"))
  }

  /** Unigram-LM (SentencePiece-style) Viterbi scoring: for each word,
    * the best segmentation into vocabulary pieces under an additive
    * piece score — `best(i) = max_j best(i−j) + score(word[i−j..i])` —
    * with single characters as the guaranteed fallback piece. Returns
    * per doc `(id, n_tokens, nll_e6)`: `n_tokens` the word count and
    * `nll_e6` the summed negated best scores in 1e-6 fixed point.
    * `maxPiece` bounds the DP lookback — the longest vocabulary piece
    * the segmenter will consider; every token scores (the 1-char
    * fallback guarantees a path), so nothing is excluded.
    *
    * This is the INFERENCE half of a unigram tokenizer (the EM vocab
    * fit is a driver-regime loop like [[bpeTrainIncremental]]); as a
    * corpus statistic it is the "how well does this tokenizer's vocab
    * fit this text" signal (fertility/NLL per doc).
    *
    * Determinism and scale shape:
    *  - scores are 1e-6 fixed-point LONGS; the DP is pure integer max
    *    — exact, replayable, no float anywhere, so the oracle may use
    *    a differently-SHAPED evaluation and still match bit-for-bit;
    *  - the DP runs as ONE linear-size `aggregate` HOF that folds the
    *    char positions while growing the best-score array (an unrolled
    *    per-position projection was the first cut — Catalyst's project
    *    collapse inlines `b(i)` into `b(i+1)` and the 3-way recurrence
    *    explodes 3^len expression nodes before codegen even starts);
    *  - it is evaluated once per DISTINCT token: the type table is
    *    orders of magnitude smaller than the corpus, and the corpus
    *    only pays a token-keyed hash join + per-doc aggregate;
    *  - ties between segmentations share the same max score, so the
    *    OUTPUT (the score) is tie-independent. */
  def unigramNll(docs: DataFrame, id: Column, text: Column,
      vocab: Seq[(String, Long)], charScoreE6: Long,
      maxPiece: Int = 3): DataFrame = {
    require(maxPiece >= 1, s"bad maxPiece=$maxPiece")
    require(vocab.forall(_._1.nonEmpty) && charScoreE6 < 0,
      "vocab pieces must be non-empty; char fallback score negative")
    val sentinel = Long.MinValue / 4
    def pieceScore(piece: Column): Column =
      vocab.foldLeft(lit(null).cast("long")) { case (acc, (p, sc)) =>
        when(piece === p, lit(sc)).otherwise(acc)
      }
    val toks = docs.select(id.as("id"),
      explode(graft.functions.TextExprs.tokens(text)).as("tok"))
    // acc(k) = best score of the first k-1 chars (acc(1) = b0 = 0)
    def newBest(acc: Column, i: Column): Column = {
      val cands = (1 to maxPiece).map { j =>
        val piece = col("tok").substr((i - lit(j - 1)).cast("int"), lit(j))
        val sc =
          if (j == 1) coalesce(pieceScore(piece), lit(charScoreE6))
          else pieceScore(piece)
        val prev = element_at(acc, (i - lit(j - 1)).cast("int"))
        if (j == 1) prev + sc
        else when(i >= j && sc.isNotNull, prev + sc).otherwise(lit(sentinel))
      }
      if (cands.size == 1) cands.head else greatest(cands: _*)
    }
    val bs = aggregate(
      sequence(lit(1L), length(col("tok")).cast("long")),
      array(lit(0L)),
      (acc, i) => concat(acc, array(newBest(acc, i))))
    val dp = toks.select(col("tok")).distinct()
      .select(col("tok"),
        element_at(bs, length(col("tok")) + 1).as("s"))
    toks.join(dp, Seq("tok"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(-col("s")).as("nll_e6"))
  }

  /** Out-of-vocabulary rate per group under a MIN-FREQUENCY vocabulary
    * (the `min_frequency` cut every tokenizer trainer applies): a token
    * occurrence is OOV when its corpus-wide count is below `minCount`.
    * One row per group: `(grp, n_tokens, oov_tokens, oov_rate)`.
    *
    * Scale shape: one shuffle of gram traffic to (group, token) counts,
    * then all further work happens on COUNT tables — the global token
    * totals are a re-aggregation of those counts (never a second pass
    * over the corpus), and the totals join back on the token key. A
    * frequency-threshold vocab needs no top-k ordering anywhere, which
    * is what makes this shape scale: no global sort, no single-partition
    * window, no driver-side vocab materialization.
    */
  def oovRateByGroup(df: DataFrame, grp: Column, text: Column,
                     minCount: Long): DataFrame =
    oovRateFromCounts(oovCounts(df, grp, text), minCount)

  /** [[oovRateByGroup]]'s sufficient statistic: the `(grp, t, cnt)`
    * token-occurrence count table. COUNTS, hence additive — batches fold
    * into an accumulated table in any arrival order and equal the
    * one-shot table exactly (the streaming arm's batch-equivalence
    * argument). */
  def oovCounts(df: DataFrame, grp: Column, text: Column): DataFrame =
    df.select(grp.as("grp"), explode(TextExprs.tokens(text)).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("cnt"))

  /** Zipf rank-frequency fit per group — the corpus-health scalar the
    * log-log plot everyone draws actually encodes: natural text's token
    * frequencies fall as `freq ∝ rank^s` with `s ≈ −1`; template spam,
    * generated text, and truncation artifacts bend the slope (flatter =
    * suspiciously uniform vocabulary, steeper = a few tokens dominating).
    * Returns [[Trend.olsByGroup]]'s row per group over the snapped
    * `(ln rank, ln freq)` points — `slope` is the Zipf exponent
    * (scale-invariant: the common 1e6 snap factor cancels in Δy/Δx).
    *
    * The fit uses ONE POINT PER DISTINCT FREQUENCY (x = ln of the tie
    * group's min-rank, the classic plotting convention) — so everything
    * after the token-count shuffle runs on the (grp, cnt) DISTINCT-COUNT
    * table: state bounded by distinct frequency values per group, the
    * same bound as the q177 exact-percentile argument, and the per-group
    * cumulative window orders that bounded table, never the vocabulary
    * and never the corpus. Transcendentals snap to 1e-6 fixed-point
    * longs BEFORE entering the OLS sums (the established cross-engine
    * discipline); the OLS itself is [[Trend.olsByGroup]]'s decimal-exact
    * sufficient statistics.
    */
  def zipfSlopeByGroup(df: DataFrame, grp: Column, text: Column)
      : DataFrame =
    zipfSlopeFromCounts(oovCounts(df, grp, text))

  /** [[zipfSlopeByGroup]] over a pre-aggregated `(grp, t, cnt)` count
    * table (the streaming/OOV state's grain — additive, shareable). */
  def zipfSlopeFromCounts(st: DataFrame): DataFrame = {
    val byCnt = st.groupBy(col("grp"), col("cnt"))
      .agg(count(lit(1)).as("n_types"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("cnt").desc)
    val pts = byCnt
      .withColumn("min_rank",
        sum(col("n_types")).over(w) - col("n_types") + 1L)
      .select(col("grp"),
        round(log(col("min_rank").cast("double")) * 1e6).cast("long")
          .as("lx"),
        round(log(col("cnt").cast("double")) * 1e6).cast("long")
          .as("ly"))
    Trend.olsByGroup(pts, col("grp"), col("lx"), col("ly"))
  }

  /** [[oovRateByGroup]] over a pre-aggregated `(grp, t, cnt)` count
    * table (the streaming state's grain). */
  def oovRateFromCounts(st: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val tot = st.groupBy(col("t")).agg(sum(col("cnt")).as("tot"))
    st.join(tot, Seq("t"))
      .groupBy(col("grp"))
      .agg(sum(col("cnt")).cast("long").as("n_tokens"),
        sum(when(col("tot") < minCount, col("cnt")).otherwise(0L))
          .cast("long").as("oov_tokens"))
      .withColumn("oov_rate",
        round(col("oov_tokens").cast("double") /
          col("n_tokens").cast("double"), 6))
  }

  /** Vocabulary-concentration panel per group — the corpus-health
    * numbers next to the Zipf slope on every datasheet: how much of the
    * token mass a handful of types carries, and how long the singleton
    * tail is. Per group: `n_types` (V), `n_tokens` (N), `hapax_types`
    * (types occurring exactly once — legomena; a bloated hapax share
    * flags OCR noise / tokenizer shredding), `hapax_share` (hapax/V),
    * `top10_mass` (share of N held by the highest-frequency types,
    * TIES-INCLUSIVE at the distinct-frequency grain: every type whose
    * min-rank ≤ 10 counts, so a tie block straddling rank 10 is taken
    * whole — deterministic without a token-level tiebreak), and the
    * `gini` coefficient of the count distribution (0 = perfectly
    * uniform vocabulary — suspicious for natural text — 1 = one type
    * holds everything).
    *
    * Scale shape: everything after the (grp, token) count shuffle runs
    * on the `(grp, cnt)` DISTINCT-FREQUENCY table (the [[zipfSlopeFromCounts]]
    * bound — state per group is the number of distinct count values,
    * not the vocabulary). The rank windows order that bounded table.
    * Gini's rank-weighted sum is exact integer arithmetic in
    * DECIMAL(38,0) (doubled to stay division-free): an ascending tie
    * block of `n` types with count `c` starting after cumulative rank
    * `r0` contributes `2·Σ rank·c = c · (2·n·r0 + n(n+1))` — tied types
    * share a count, so any rank assignment inside the block gives the
    * same sum and the panel is deterministic without a token-level
    * tiebreak; one snap-6 double division at the end.
    */
  def concentrationByGroup(df: DataFrame, grp: Column, text: Column)
      : DataFrame =
    concentrationFromCounts(oovCounts(df, grp, text))

  /** [[concentrationByGroup]] over a pre-aggregated `(grp, t, cnt)`
    * count table (the streaming/OOV state's grain — additive,
    * shareable with q195/q199/q205/q209). */
  def concentrationFromCounts(st: DataFrame): DataFrame = {
    val byCnt = st.groupBy(col("grp"), col("cnt"))
      .agg(count(lit(1)).as("n_types"))
    val wDesc = Window.partitionBy(col("grp")).orderBy(col("cnt").desc)
    val wAsc = Window.partitionBy(col("grp")).orderBy(col("cnt").asc)
    val c = col("cnt").cast("decimal(38,0)")
    val n = col("n_types").cast("decimal(38,0)")
    val r0 = (sum(col("n_types")).over(wAsc) - col("n_types"))
      .cast("decimal(38,0)")
    val blocks = byCnt.select(col("grp"), col("cnt"), col("n_types"),
      (sum(col("n_types")).over(wDesc) - col("n_types") + 1L)
        .as("min_rank"),
      // 2·Σ rank_i · c_i over the ascending tie block, exact in decimal
      (c * (lit(2).cast("decimal(38,0)") * n * r0 +
        n * (n + lit(1).cast("decimal(38,0)")))).as("rw2"))
    val agg = blocks.groupBy(col("grp"))
      .agg(sum(col("n_types")).cast("long").as("n_types"),
        sum(col("cnt").cast("decimal(38,0)") *
          col("n_types").cast("decimal(38,0)")).as("n_tok_d"),
        sum(when(col("cnt") === 1L, col("n_types")).otherwise(0L))
          .cast("long").as("hapax_types"),
        sum(when(col("min_rank") <= 10L,
          col("cnt").cast("decimal(38,0)") *
            col("n_types").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("top_mass_d"),
        sum(col("rw2").cast("decimal(38,0)")).as("s_rw2"))
    val vD = col("n_types").cast("double")
    val nD = col("n_tok_d").cast("double")
    agg.select(col("grp"), col("n_types"),
      col("n_tok_d").cast("long").as("n_tokens"),
      col("hapax_types"),
      round(col("hapax_types").cast("double") / vD, 6).as("hapax_share"),
      round(col("top_mass_d").cast("double") / nD, 6).as("top10_mass"),
      // G = (2·Σ rank·c − (V+1)·N) / (V·N), ranks ascending by count
      round((col("s_rw2").cast("double") -
        (vD + 1.0) * nD) / (vD * nD), 6).as("gini"))
  }

  /** Heaps'-law fit across groups — the vocabulary-GROWTH health check
    * beside the Zipf slope: natural corpora obey `V ≈ k·N^β` with
    * β ≈ 0.4–0.6 (Heaps 1978), so the per-group `(ln N, ln V)` points
    * fall on a line whose slope is β. A β near 1 means vocabulary grows
    * as fast as the corpus (unbounded noise — OCR garbage, random ids
    * in text); a β near 0 means template spam re-using a closed
    * vocabulary. One row: [[Trend.olsByGroup]] over the groups-bounded
    * point set under the fixed group `'all'`. `slope` = β (the 1e-6
    * snap factor cancels in Δy/Δx); `intercept` (like mean_x/mean_y)
    * is reported on the SNAPPED axis, i.e. `1e6 · ln k` — descale
    * before exponentiating for k.
    *
    * Scale: the points are one row per GROUP (per-group N and V from
    * one re-aggregation of the count table); the fit input is
    * groups-sized metadata. Transcendentals snap to 1e-6 fixed point
    * before the decimal-exact OLS sums — the cross-engine discipline
    * shared with [[zipfSlopeFromCounts]]. */
  def heapsFitFromCounts(st: DataFrame): DataFrame = {
    val pts = st.groupBy(col("grp"))
      .agg(count(lit(1)).as("v"), sum(col("cnt")).as("nt"))
      .select(
        round(log(col("nt").cast("double")) * 1e6).cast("long").as("lx"),
        round(log(col("v").cast("double")) * 1e6).cast("long").as("ly"))
    Trend.olsByGroup(pts, lit("all"), col("lx"), col("ly"))
  }

  /** [[heapsFitFromCounts]] from raw documents. */
  def heapsFitByGroup(df: DataFrame, grp: Column, text: Column)
      : DataFrame =
    heapsFitFromCounts(oovCounts(df, grp, text))

  /** Unigram entropy and EFFECTIVE vocabulary per group — the
    * concentration panel's information-theoretic sibling: `H = −Σ p·ln p`
    * over the group's token distribution, reported in nats together
    * with `exp(H)` — the "perplexity of the corpus under itself", i.e.
    * how many EQUIPROBABLE types would carry the same uncertainty. A
    * 200k-type vocabulary with an effective size of 900 is template
    * spam; effective size tracking `n_types` means suspiciously flat
    * usage. Row: `(grp, n_tokens, n_types, entropy, eff_vocab)`.
    *
    * Exactness: `H = ln N − (Σ cnt·ln cnt)/N` — the Σ runs over the
    * `(grp, cnt)` DISTINCT-FREQUENCY table (`n_types · cnt · snap6(ln
    * cnt)` per block: two exact long factors times a 1e-6 fixed-point
    * ln, summed in DECIMAL — order-free), so the only IEEE sequence is
    * the three-op finish, snapped to 6. Same count-table bound as the
    * Zipf fit and the concentration panel. */
  def entropyByGroup(df: DataFrame, grp: Column, text: Column)
      : DataFrame =
    entropyFromCounts(oovCounts(df, grp, text))

  /** [[entropyByGroup]] over a pre-aggregated `(grp, t, cnt)` count
    * table (the shared streaming state's grain). */
  def entropyFromCounts(st: DataFrame): DataFrame = {
    val byCnt = st.groupBy(col("grp"), col("cnt"))
      .agg(count(lit(1)).as("n_types"))
    val agg = byCnt.groupBy(col("grp"))
      .agg(sum(col("n_types")).cast("long").as("n_types"),
        sum(col("cnt").cast("decimal(38,0)") *
          col("n_types").cast("decimal(38,0)")).cast("long")
          .as("n_tokens"),
        sum((col("cnt").cast("decimal(38,0)") *
          col("n_types").cast("decimal(38,0)")) *
          round(log(col("cnt").cast("double")) * 1e6).cast("long")
            .cast("decimal(38,0)")).as("s6"))
    val h = log(col("n_tokens").cast("double")) -
      col("s6").cast("double") / 1e6 / col("n_tokens").cast("double")
    agg.select(col("grp"), col("n_tokens"), col("n_types"),
      round(h, 6).as("entropy"),
      round(exp(h), 6).as("eff_vocab"))
  }
}
