package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus mixture sampling (§2.10 extension surface): cut each source /
  * domain / language slice of a corpus down to a per-group token budget,
  * deterministically — the "data mixing" stage that turns raw crawls into
  * a training mixture with chosen proportions (the static-weights regime
  * of DoReMi/Pile-style mixture design).
  *
  * The keep decision is pure integer arithmetic on a portable hash, so the
  * sample is a deterministic function of the data (same discipline as the
  * KMV/count-min sketches): group G with total weight T keeps rows whose
  * `mixedHash(id) mod scale < floor(budget·scale / T)` — an expected kept
  * weight ≤ budget (floor bias keeps it under, accuracy O(1/scale)), with
  * no RNG, no float, and an oracle that replays every row's decision.
  *
  * Scale shape: one tiny per-group aggregate (groups × 1 rows) broadcast
  * back onto the corpus; the filter itself is map-side — the corpus is
  * never shuffled. Groups must be low-cardinality (sources/languages —
  * the mixing use case), which is what makes the broadcast correct.
  */
object Mix {

  /** Sample `df` down to ≈`budget` total `weight` per `group`. Output:
    * the kept rows as `(id, group, weight, rate_bp)` where `rate_bp` is
    * the group's keep rate in basis points of `scale` (scale = keep all).
    * Groups already under budget keep every row. `id` must identify rows
    * (it keys the hash); null ids/groups are dropped. */
  def sampleToBudget(df: DataFrame, id: Column, group: Column,
      weight: Column, budget: Long, scale: Int = 10000): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(scale >= 2, s"scale must be >= 2, got $scale")
    // budget·scale is computed in Long inside the rate expression — an
    // unguarded huge budget would overflow silently (ANSI off) and flip
    // keep rates negative
    require(budget <= Long.MaxValue / scale,
      s"budget * scale overflows Long: budget=$budget scale=$scale")
    val rows = df.select(id.as("id"), group.as("grp"),
      weight.cast("long").as("w"))
      .filter(col("id").isNotNull && col("grp").isNotNull)
    // negative weights make the budget arithmetic meaningless — fail the
    // job with a clear message (distributed check, no extra pass: min(w)
    // rides the same aggregate). A group whose total weight is 0 (all-zero
    // weights) is trivially under any budget → keep-all, NOT the silent
    // null→least()-skip that previously also yielded keep-all but by
    // accident of null semantics. An all-NULL-weight group has t_total =
    // NULL (sum ignores nulls): it contributes no measurable weight, so
    // it gets the same explicit keep-all — previously the NULL flowed
    // through the rate division and the filter dropped every row of the
    // group silently.
    val rates = rows.groupBy(col("grp"))
      .agg(sum(col("w")).as("t_total"), min(col("w")).as("w_min"))
      .select(col("grp"),
        when(col("w_min") < 0, raise_error(concat(
            lit("Mix.sampleToBudget: negative weight in group "),
            col("grp").cast("string"))).cast("long"))
          .when(col("t_total").isNull || col("t_total") <= 0, lit(scale.toLong))
          .otherwise(least(lit(scale.toLong),
            call_function("div", lit(budget) * scale, col("t_total"))))
          .as("rate_bp"))
    rows.join(broadcast(rates), Seq("grp"))
      .filter(pmod(Sketch.mixedHash(col("id").cast("string")),
        lit(scale.toLong)) < col("rate_bp"))
      .select(col("id"), col("grp"), col("w"), col("rate_bp"))
  }

  /** Temperature-scaled mixture sampling (the multilingual/multi-source
    * `p_g ∝ T_g^α` rebalancing of mBERT/XLM-R/Gopher-style mixture
    * design, α < 1 up-weighting small sources): keep rates follow target
    * shares `T_g^α / Σ_u T_u^α` of a global `budget`, instead of
    * [[sampleToBudget]]'s hard per-group ceiling.
    *
    * Keep rate per group: `rate_bp = min(scale, floor(round(
    * budget·scale·T_g^(α−1) / Σ_u T_u^α, 6)))` with `x^α` written
    * `exp(α·ln x)` in BOTH engines and each group's `T^α` term snapped
    * to 6 decimals BEFORE the cross-group decimal sum — so the one
    * genuinely transcendental step is per-group local and the sum is
    * exact and order-free (last-ulp exp/ln skew would need to cross a
    * 1e-6 rounding boundary to flip a rate). The keep decision is the
    * same portable `mixedHash(id) mod scale < rate_bp` as
    * [[sampleToBudget]] — no RNG, every row oracle-replayable.
    *
    * Scale shape: identical to [[sampleToBudget]] — one tiny per-group
    * aggregate (plus a groups-sized decimal sum) broadcast back; the
    * corpus never shuffles. Rates can exceed a group's fair share only
    * down to `scale` granularity; α = 1 degrades to proportional
    * sampling, α = 0 to equal shares. */
  def temperatureSample(df: DataFrame, id: Column, group: Column,
      weight: Column, alpha: Double, budget: Long, scale: Int = 10000)
      : DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    require(scale >= 2, s"scale must be >= 2, got $scale")
    require(budget <= Long.MaxValue / scale,
      s"budget * scale overflows Long: budget=$budget scale=$scale")
    val rows = df.select(id.as("id"), group.as("grp"),
      weight.cast("long").as("w"))
      .filter(col("id").isNotNull && col("grp").isNotNull)
    val totals = rows.groupBy(col("grp"))
      .agg(sum(col("w")).as("t_total"), min(col("w")).as("w_min"))
      .select(col("grp"),
        when(col("w_min") < 0, raise_error(concat(
            lit("Mix.temperatureSample: negative weight in group "),
            col("grp").cast("string"))).cast("long"))
          .otherwise(col("t_total")).as("t_total"))
    val rates = temperatureRates(totals, alpha, budget, scale)
    rows.join(broadcast(rates), Seq("grp"))
      .filter(pmod(Sketch.mixedHash(col("id").cast("string")),
        lit(scale.toLong)) < col("rate_bp"))
      .select(col("id"), col("grp"), col("w"), col("rate_bp"))
  }

  /** Post-stratification rebalance to a TARGET categorical distribution
    * (raking's one-dimensional case): given target shares over a
    * category (language, domain, label), find the LARGEST corpus subset
    * whose composition matches them — `T = min_c n_c / t_c` rows total,
    * the limiting category kept whole — and hash-keep each category at
    * `rate_c = T·t_c / n_c`. The standard "rebalance languages before
    * training" stage, dual to [[temperatureSample]] (temperature warps
    * shares by a law; this HITS given shares exactly in expectation).
    *
    * Returns the PANEL, one row per target category: `(cat, n,
    * target_share, rate_bp, n_kept, realized_share)` — `rate_bp` in
    * parts of `scale`, keeps decided by the portable
    * `mixedHash(id) mod scale < rate_bp` (no RNG; every decision
    * replayable). [[rebalanceSample]] returns the kept rows under the
    * identical rates. Rows whose category is OUTSIDE the target list
    * are dropped (no target = no share); a target category ABSENT from
    * the corpus fails fast (T would be 0 — silently keeping nothing is
    * the wrong answer to a typo'd target). Target shares are
    * normalized driver-side.
    *
    * Scale shape: a cats-cardinality count table collected to the
    * driver once (T is its min), the rate table broadcast back as a local
    * relation onto a map-side filtered scan — the corpus never shuffles;
    * the panel's realized counts are one more map-side conditional
    * count. */
  def rebalanceToTarget(df: DataFrame, id: Column, cat: Column,
      targets: Seq[(String, Double)], scale: Int = 1000000)
      : DataFrame = {
    // rates computed ONCE and shared with the sample pass — building
    // the sample via rebalanceSample would re-run the corpus count
    // aggregate a second time for the identical rate table
    val rates = rebalanceRates(df, id, cat, targets, scale)
    val kept = sampleFromRates(df, id, cat, rates, scale)
      .groupBy(col("cat")).agg(count(lit(1)).as("n_kept"))
    val tot = kept.agg(sum(col("n_kept")).as("tk"))
    rates.join(broadcast(kept), Seq("cat"), "left")
      .na.fill(0L, Seq("n_kept"))
      .crossJoin(broadcast(tot))
      .select(col("cat"), col("n"),
        round(col("tgt"), 6).as("target_share"), col("rate_bp"),
        col("n_kept"),
        round(col("n_kept").cast("double") /
          col("tk").cast("double"), 6).as("realized_share"))
  }

  /** The kept rows `(id, cat, rate_bp)` under [[rebalanceToTarget]]'s
    * rates — the same hash-keep discipline as [[sampleToBudget]]. */
  def rebalanceSample(df: DataFrame, id: Column, cat: Column,
      targets: Seq[(String, Double)], scale: Int = 1000000)
      : DataFrame =
    sampleFromRates(df, id, cat,
      rebalanceRates(df, id, cat, targets, scale), scale)

  private def sampleFromRates(df: DataFrame, id: Column, cat: Column,
      rates: DataFrame, scale: Int): DataFrame =
    df.select(id.as("id"), cat.as("cat"))
      .join(broadcast(rates.select(col("cat"), col("rate_bp"))),
        Seq("cat"))
      .filter(pmod(Sketch.mixedHash(col("id").cast("string")),
        lit(scale.toLong)) < col("rate_bp"))
      .select(col("id"), col("cat"), col("rate_bp"))

  private def rebalanceRates(df: DataFrame, id: Column, cat: Column,
      targets: Seq[(String, Double)], scale: Int): DataFrame = {
    require(targets.nonEmpty, "rebalanceToTarget needs >= 1 target")
    require(targets.map(_._1).distinct.size == targets.size,
      "target categories must be distinct")
    require(targets.forall(_._2 > 0),
      "target shares must be positive")
    require(scale >= 2, s"scale must be >= 2, got $scale")
    val z = targets.map(_._2).sum
    val norm = targets.map { case (c, s) => (c, s / z) }
    val tgt = norm.tail.foldLeft(
      when(col("cat") === norm.head._1, lit(norm.head._2))) {
      case (acc, (c, s)) => acc.when(col("cat") === c, lit(s))
    }
    // the per-target-category counts (at most one row per target) are
    // collected once: every plan using the rates reads a local table
    // instead of re-aggregating the corpus, and an absent target fails
    // here as one SparkException — raised inside the plan, it failed
    // several broadcast stages at once, and AQE surfaced a different
    // exception type depending on how many failed before it stopped
    val counted = df.select(cat.as("cat"))
      .filter(col("cat").isin(norm.map(_._1): _*))
      .groupBy(col("cat")).agg(count(lit(1)).as("n"))
      .select(col("cat"), col("n"), tgt.as("tgt"))
    val counts = counted.collect()
    if (counts.length < norm.size) throw new SparkException(
      s"rebalanceToTarget: a target category is absent from the " +
        s"corpus (found fewer than ${norm.size} target categories)")
    // T = min(n/t): the same double division Spark's Divide makes
    val t = counts.map(r => r.getLong(1).toDouble / r.getDouble(2)).min
    df.sparkSession.createDataFrame(counts.toSeq.asJava, counted.schema)
      .select(col("cat"), col("n"), col("tgt"),
        least(lit(scale.toLong), floor(round(
          lit(t) * col("tgt") / col("n").cast("double") *
            scale.toLong, 6)).cast("long")).as("rate_bp"))
  }

  /** [[temperatureSample]]'s rate table from a `(grp, t_total)` totals
    * relation — shared by the batch and streaming ([[
    * temperatureSampleIngestBatch]]) regimes so both replay the exact
    * same per-group arithmetic: per-group `T^α` as `exp(α·ln T)`
    * snapped to 6 decimals, exact decimal denominator sum, snap-6
    * rate division, floor, scale cap. */
  private def temperatureRates(totals: DataFrame, alpha: Double,
      budget: Long, scale: Int): DataFrame = {
    val live = totals.filter(col("t_total").isNotNull && col("t_total") > 0)
    val talpha = round(exp(lit(alpha) * log(col("t_total").cast("double"))), 6)
      .cast("decimal(38,6)")
    val denom = live.agg(sum(talpha).as("denom_a"))
    live.crossJoin(broadcast(denom))
      .select(col("grp"),
        least(lit(scale.toLong), floor(round(
          (lit((budget * scale).toDouble) *
            exp(lit(alpha - 1.0) * log(col("t_total").cast("double")))) /
            col("denom_a").cast("double"), 6)).cast("long")).as("rate_bp"))
  }

  /** Streaming (online) temperature mixing: totals accumulate in a
    * crash-safe [[SketchState]] directory (exact additive merge — the
    * count-min discipline), and each batch's keep decisions use the
    * rates implied by EVERYTHING SEEN SO FAR including the batch
    * itself. Early batches see thinner totals and keep more; as the
    * stream fills in, rates anneal toward the batch regime's — the
    * documented online behavior (re-running the batch operator over the
    * accumulated corpus is the reconciliation path when drift matters).
    * Returns the kept rows OF THIS BATCH as `(id, grp, w, rate_bp)`;
    * rate arithmetic is [[temperatureRates]] verbatim, so every batch's
    * decisions stay oracle-replayable. */
  def temperatureSampleIngestBatch(batch: DataFrame, id: Column,
      group: Column, weight: Column, alpha: Double, budget: Long,
      scale: Int, statePath: String): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    require(budget > 0 && scale >= 2 && budget <= Long.MaxValue / scale,
      s"bad budget/scale: $budget/$scale")
    val spark = batch.sparkSession
    import spark.implicits._
    val rows = batch.select(id.as("id"), group.cast("string").as("grp"),
        weight.cast("long").as("w"))
      .filter(col("id").isNotNull && col("grp").isNotNull)
    val batchTotals = rows.groupBy(col("grp"))
      .agg(sum(col("w")).as("t"), min(col("w")).as("w_min"))
      .collect().map { r =>
        require(r.getLong(2) >= 0,
          s"temperatureSampleIngestBatch: negative weight in ${r.getString(0)}")
        r.getString(0) -> r.getLong(1)
      }.toMap
    val prior: Map[String, Long] = SketchState.readOpt(spark, statePath)
      .fold(Map.empty[String, Long])(
        _.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val merged = (prior.keySet ++ batchTotals.keySet).toSeq.map { g =>
      g -> (prior.getOrElse(g, 0L) + batchTotals.getOrElse(g, 0L))
    }
    SketchState.write(merged.toDF("grp", "t_total"), statePath)
    val rates = temperatureRates(merged.toDF("grp", "t_total"),
      alpha, budget, scale)
    rows.join(broadcast(rates), Seq("grp"))
      .filter(pmod(Sketch.mixedHash(col("id").cast("string")),
        lit(scale.toLong)) < col("rate_bp"))
      .select(col("id"), col("grp"), col("w"), col("rate_bp"))
  }

  /** Weighted sampling WITHOUT replacement, k per group (Efraimidis &
    * Spirakis 2006 A-ES): rank rows by `ln(u)/w` with `u` a hash-derived
    * uniform in (0,1] and keep each group's top k — inclusion
    * probability tracks the weight (quality-weighted subset selection,
    * eval-set carving, per-source spotlight samples) with NO RNG: `u =
    * (mixedHash(id)+1)/(P+1)` makes the sample a pure function of the
    * data, stable across runs, engines, and partitionings.
    *
    * The one transcendental (`ln`) is per-row local; the ranking key is
    * snapped to 9 decimals before the rank (id tie-break), so a last-ulp
    * libm skew would need to cross a 1e-9 boundary AND land exactly at
    * rank k to change the sample — the oracle replays key, rank, and
    * membership.
    *
    * Scale shape: ONE shuffle on the group key; `row_number <= k` is
    * WindowGroupLimit-pruned map-side (each task pre-prunes to its local
    * top-k per group), so a billion-row group ships O(tasks·k) rows. */
  def prioritySampleByGroup(df: DataFrame, id: Column, group: Column,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = df.select(id.as("id"), group.as("grp"),
      weight.cast("double").as("w"))
      .filter(col("id").isNotNull && col("grp").isNotNull && col("w") > 0)
    val u = (Sketch.mixedHash(col("id").cast("string")) + 1).cast("double") /
      lit(1000000008.0) // P + 1: u in (0, 1], ln(u) in (-inf, 0]
    val key = round(log(u) / col("w"), 9)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("key").desc, col("id").asc)
    rows.withColumn("key", key)
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("grp"), col("rank"), col("id"), col("key"))
  }

  /** Per-group document cap, best-first (the RefinedWeb/C4 per-domain cap:
    * no single domain may contribute more than `n` documents, and when a
    * domain is over the cap its BEST-scoring docs survive — a diversity
    * guard against template farms and SEO mills flooding a mixture with
    * near-identical boilerplate). Rank within `group` by `quality`
    * descending, `id` ascending (total order — float ties cannot make the
    * cut nondeterministic), keep `rank <= n`.
    *
    * Scale shape: ONE shuffle on the group key; `row_number <= n` is
    * recognized by WindowGroupLimit, so each map task pre-prunes to its
    * local top-n per group before the exchange — a hot domain ships
    * O(tasks·n) rows, not its full posting. The quality expression rides
    * the scan (evaluated once, map-side); no join. Skew note: a
    * pathological single-domain corpus concentrates one partition, but
    * the group-limit pre-prune bounds what reaches it. */
  def capPerGroup(df: DataFrame, id: Column, group: Column,
      quality: Column, n: Int): DataFrame = {
    require(n >= 1, s"cap must be >= 1, got $n")
    val rows = df.select(id.as("id"), group.as("grp"), quality.as("q"))
      .filter(col("id").isNotNull && col("grp").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("q").desc, col("id").asc)
    rows.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("grp"), col("rank"), col("id"),
        round(col("q"), 4).as("quality"))
  }

  /** Deterministic train/val/test (or any n-way) split assignment: each
    * row's portable id-hash lands in one of `fractions`' cumulative
    * buckets over [0, scale). Appends a `split` column; the assignment is
    * a pure function of the id — stable across runs, partitionings, and
    * engines (the oracle replays the hash), and rows never move between
    * splits when the corpus grows, which is what makes held-out sets
    * stay held out across dataset versions. Map-side only: no shuffle,
    * no RNG, no join. Fractions must be positive and sum to 1; bucket
    * edges are rounded to `scale`, so realized proportions are exact to
    * 1/scale.
    *
    * The bucket hash is `Sketch.mixedHash`, not the raw base-31
    * polynomial fold: the raw fold does not avalanche, so structured id
    * sets (fixed-stride or shared-suffix ids) land in correlated buckets
    * and can skew realized proportions well past 1/scale. The two
    * bijective mix rounds scatter the fingerprint — the same reason the
    * KMV sketch and `sampleToBudget` mix before bucketing.
    *
    * MIGRATION (round 8): the hash changed from the raw polynomial fold
    * to `mixedHash`, which reassigns EVERY membership relative to splits
    * materialized under the old hash — held-out docs can migrate into
    * train if old and new assignments are mixed. Consumers of splits
    * materialized before the change must REBUILD them wholesale under
    * the new hash (or keep scoring against their frozen materialized
    * assignment); never join old and new split columns in one dataset.
    * The determinism contract holds from this version forward. */
  def assignSplits(df: DataFrame, id: Column,
      fractions: Seq[(String, Double)], scale: Int = 10000): DataFrame = {
    require(fractions.nonEmpty, "need at least one split")
    require(fractions.map(_._1).distinct.size == fractions.size,
      s"duplicate split names in ${fractions.map(_._1)}")
    require(fractions.forall(_._2 > 0), s"fractions must be positive: $fractions")
    val total = fractions.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"fractions must sum to 1, got $total")
    val thresholds = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * scale))
    val h = pmod(Sketch.mixedHash(id.cast("string")), lit(scale.toLong))
    // when-cascade over the first n-1 buckets; the last absorbs rounding
    val split = fractions.init.zip(thresholds.init)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), t)) =>
        Some(acc.map(_.when(h < t, name)).getOrElse(when(h < t, name)))
      }
      .map(_.otherwise(fractions.last._1))
      .getOrElse(lit(fractions.last._1))
    df.withColumn("split", split)
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"),
    * reduced to its one-step relational core: re-weight each source by
    * an exponentiated-gradient step on its EXCESS LOSS — how much worse
    * a global (corpus-wide) unigram LM models the source than the
    * source's own in-domain unigram LM:
    *
    *   excess_s = max(0, (1/N_s) Σ_t c_st · ln(p_s(t) / p_glob(t)))
    *   w_s ∝ share_s · exp(η · excess_s),   then mix with uniform:
    *   weight_s = (1−c) · w_s / Σ w  +  c / K
    *
    * (both distributions add-1 smoothed over the shared vocabulary, so
    * the log-ratio is total; the clamp mirrors DoReMi's nonnegative
    * excess). Sources whose vocabulary diverges from the corpus (the
    * global model "misses" them) gain weight; sources the corpus
    * already models well shrink toward their token share — the paper's
    * dynamics with the proxy-model loss replaced by the unigram NLL the
    * engine can compute exactly (the natural first rung; a learned
    * proxy would swap into the same excess column).
    *
    * Float discipline (cross-engine): the per-token-type log-ratio is
    * the ONLY transcendental before a cross-row sum, so it is snapped
    * to a 1e-9 fixed-point BIGINT per row; the per-source numerator
    * accumulates `c_st · t_e9` in DECIMAL(38,0) (counts up to 1e12 ×
    * 3e10 overflow Long at 100 TB); `exp` outputs snap to 1e-12 before
    * the K-row normalization sum. Every emitted float is a rounded
    * function of exactly-summed integers.
    *
    * Scale shape: text explodes ONCE; the per-(source, token) count
    * table is the only corpus-sized shuffle; the global table derives
    * from it by a second vocab-sized aggregate; totals (1 row) and
    * per-source totals (K rows) broadcast. Output is K rows:
    * `(src, n_tokens, excess, base_share, eg_share, weight)`. */
  def doremiReweight(docs: DataFrame, text: Column, source: Column,
                     eta: Double, smoothing: Double): DataFrame =
    doremiReweightFromCounts(doremiCounts(docs, text, source),
      eta, smoothing)

  /** The sufficient statistic of [[doremiReweight]]: the per-(source,
    * token) count table `(src, t, c_st)`. COUNTS, hence additive —
    * batches fold into an accumulated table in any arrival order and
    * the result equals the one-shot table exactly (the streaming arm's
    * batch-equivalence argument). */
  def doremiCounts(docs: DataFrame, text: Column, source: Column)
      : DataFrame = {
    import graft.functions.TextExprs
    docs.filter(source.isNotNull)
      .select(source.as("src"), explode(TextExprs.tokens(text)).as("t"))
      .groupBy(col("src"), col("t"))
      .agg(count(lit(1)).as("c_st"))
  }

  /** [[doremiReweight]] over a pre-aggregated `(src, t, c_st)` count
    * table (the streaming state's grain). */
  def doremiReweightFromCounts(srcCnt: DataFrame, eta: Double,
                               smoothing: Double): DataFrame = {
    require(eta >= 0, s"eta must be >= 0, got $eta")
    require(smoothing >= 0 && smoothing <= 1,
      s"smoothing must be in [0, 1], got $smoothing")
    val globCnt = srcCnt.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val srcTot = srcCnt.groupBy(col("src")).agg(sum(col("c_st")).as("n_s"))
    // 1 row: corpus token count, vocabulary size, source count
    val totals = globCnt.agg(sum(col("c_t")).as("n_corpus"),
        count(lit(1)).as("v"))
      .crossJoin(broadcast(srcTot.agg(count(lit(1)).as("k_src"))))
    val pSrc = (col("c_st") + 1).cast("double") /
      (col("n_s") + col("v")).cast("double")
    val pGlob = (col("c_t") + 1).cast("double") /
      (col("n_corpus") + col("v")).cast("double")
    // snap the per-row transcendental BEFORE the cross-row sum
    val termE9 = (col("c_st").cast("decimal(38,0)") *
      round(log(pSrc / pGlob) * 1e9).cast("long").cast("decimal(38,0)"))
    val exSum = srcCnt.join(globCnt, Seq("t"))
      .join(broadcast(srcTot), Seq("src"))
      .crossJoin(broadcast(totals))
      .select(col("src"), col("n_s"), col("n_corpus"), col("k_src"),
        termE9.as("term_e9"))
      .groupBy(col("src"), col("n_s"), col("n_corpus"), col("k_src"))
      .agg(sum(col("term_e9")).as("ex_e9"))
    val excess = greatest(col("ex_e9").cast("double") /
      (col("n_s").cast("double") * 1e9), lit(0.0))
    val baseShare = col("n_s").cast("double") / col("n_corpus").cast("double")
    // Overflow fail-fast: for eta > 1 under heavy skew raw·1e12 can
    // exceed Long (raw ≈ (n_corpus/n_s)^(eta−1) · 1e12), where a
    // non-ANSI cast would silently saturate and corrupt every weight
    // via the shared denominator — raise instead (the
    // temperatureSample negative-weight discipline).
    val rawD = round(baseShare * exp(lit(eta) * excess) * 1e12)
    val rawE12 = when(rawD > lit(9.2e18), raise_error(concat(
        lit("Mix.doremiReweight: eta*excess overflows the 1e-12 " +
          "fixed-point Long for source "), col("src").cast("string"),
        lit("; lower eta"))).cast("long"))
      .otherwise(rawD.cast("long"))
    val scored = exSum.select(col("src"), col("n_s"), col("k_src"),
      excess.as("excess"), baseShare.as("base_share"),
      // snap the exp output before the normalization sum
      rawE12.as("raw_e12"))
    val denom = scored.agg(sum(col("raw_e12")).as("denom_e12"))
    scored.crossJoin(broadcast(denom))
      .select(col("src"), col("n_s").as("n_tokens"),
        round(col("excess"), 6).as("excess"),
        round(col("base_share"), 6).as("base_share"),
        round(col("raw_e12").cast("double") /
          col("denom_e12").cast("double"), 6).as("eg_share"),
        round((col("raw_e12").cast("double") /
            col("denom_e12").cast("double")) * (1.0 - smoothing) +
          lit(smoothing) / col("k_src").cast("double"), 6).as("weight"))
  }

  /** UniMax allocation (Chung et al. 2023): split a token `budget` as
    * UNIFORMLY as possible across groups, capping each group at
    * `maxEpochs` passes over its own data — the mixing law that avoids
    * both temperature tuning and over-epoching low-resource sources.
    * The allocation is exact water-filling: groups with capacity below
    * the water level θ are fully capped; the rest share the remaining
    * budget equally, with θ solving Σ min(cap_g, θ) = budget.
    *
    * Output per group: `(grp, n_tokens, cap_tokens, alloc_tokens,
    * epochs)`. If the budget exceeds total capacity every group is
    * capped and the budget is underfilled (the caller's signal to raise
    * `maxEpochs`).
    *
    * Determinism: capacities snap to 1e-6 fixed-point longs, cumulative
    * prefix sums and the capped test run in DECIMAL(38,0) (exact at any
    * corpus size), and θ is one IEEE division of exact values — every
    * engine replays the identical allocation. Scale shape: the whole
    * computation happens on the groups-cardinality totals table; the
    * two windows ride the sanctioned always-zero partition key (the
    * table is groups-sized by construction — sources/languages). */
  def unimaxAllocate(df: DataFrame, group: Column, weight: Column,
                     budget: Long, maxEpochs: Double): DataFrame =
    unimaxFromTotals(
      df.filter(group.isNotNull)
        .groupBy(group.as("grp"))
        .agg(sum(weight.cast("long")).as("t_total")),
      budget, maxEpochs)

  /** [[unimaxAllocate]] over a pre-aggregated `(grp, t_total)` totals
    * relation (additive — shareable with a streaming totals state). */
  def unimaxFromTotals(totals: DataFrame, budget: Long,
                       maxEpochs: Double): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    require(budget <= Long.MaxValue / 1000000L,
      s"budget * 1e6 overflows Long: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("cap_e6"), lit(1L)))
      .orderBy(col("cap_e6").asc, col("grp").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("cap_e6"), lit(1L)))
    val bE6 = lit(budget * 1000000L).cast("decimal(38,0)")
    val live = totals.filter(col("t_total").isNotNull && col("t_total") > 0)
      .select(col("grp"),
        col("t_total").cast("long").as("t_total"),
        round(col("t_total").cast("double") * maxEpochs * 1e6)
          .cast("long").as("cap_e6"))
    // ascending-capacity scan: group i is capped iff even giving every
    // later (larger) group the same cap_i would still fit the budget —
    // cap_i·(S−i+1) + P_{i−1} ≤ B. The test is monotone in i, so the
    // capped set is a prefix and θ comes from the first uncapped row.
    val scanned = live
      .withColumn("idx", row_number().over(w))
      .withColumn("p_cum", sum(col("cap_e6").cast("decimal(38,0)")).over(w))
      .withColumn("s_all", count(lit(1)).over(wAll))
      .withColumn("capped",
        col("cap_e6").cast("decimal(38,0)") *
          (col("s_all") - col("idx") + 1).cast("decimal(38,0)") +
          (col("p_cum") - col("cap_e6")).cast("decimal(38,0)") <= bE6)
      .withColumn("n_capped",
        sum(when(col("capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("p_capped",
        max(when(col("capped"), col("p_cum"))).over(wAll))
    val thetaE6 = when(col("n_capped") === col("s_all"),
        lit(null).cast("double")) // all capped: budget underfilled
      .otherwise((bE6 - coalesce(col("p_capped"), lit(0).cast("decimal(38,0)")))
        .cast("double") /
        (col("s_all") - col("n_capped")).cast("double"))
    scanned
      .select(col("grp"), col("t_total").as("n_tokens"),
        round(col("cap_e6").cast("double") / 1e6, 6).as("cap_tokens"),
        when(col("capped"), col("cap_e6").cast("double"))
          .otherwise(thetaE6).as("alloc_e6"))
      .select(col("grp"), col("n_tokens"),
        col("cap_tokens"),
        round(col("alloc_e6") / 1e6, 6).as("alloc_tokens"),
        round(col("alloc_e6") / 1e6 / col("n_tokens").cast("double"), 6)
          .as("epochs"))
  }
}
