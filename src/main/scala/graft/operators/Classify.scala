package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashKernels, TextExprs}

/** Hashed linear text classification (§2.10 extension surface) — the
  * inference step of a fastText-style quality/domain filter (Joulin et
  * al. 2016; the classifier family CCNet-style pipelines use to score
  * crawl text): hash each token into D buckets, average the bucket
  * weights, add a bias, squash with a sigmoid.
  *
  * The model is plan-time literals (weight array + bias), so scoring is
  * pure map-side arithmetic: token explode → bucket via the codegen'd
  * portable hash → literal-array weight lookup → per-doc aggregate. No
  * join, no shuffle beyond the per-doc combine. Weight sums accumulate
  * in decimal (exact, associative — the repo's dsum discipline) so the
  * score is independent of row order and engine; the single sigmoid exp
  * is absorbed by round(…, 4).
  *
  * At 100 TB this is the shape a learned filter must have: the model
  * rides the plan (broadcast-free — it IS the code), the corpus never
  * shuffles, and a D of a few hundred thousand stays comfortably inside
  * a literal array. */
object Classify {

  private val P = 1000000007L

  /** Per-doc classifier scores: `(id, n_toks, score)` with
    * `score = round(sigmoid(bias + mean(w[hash(tok) mod D])), 4)`.
    * `weights(i)` must be exactly representable at the declared decimal
    * scale (pass values rounded to ≤ 12 decimals); docs with no tokens
    * are excluded (no features → no score, the caller decides a prior). */
  def hashedLinearScore(df: DataFrame, id: Column, text: Column,
      weights: Seq[Double], bias: Double): DataFrame = {
    require(weights.nonEmpty, "need at least one weight bucket")
    val d = weights.length
    val wArr = array(weights.map(w => lit(w).cast("decimal(28,12)")): _*)
    df.select(id.as("id"), explode(TextExprs.tokens(text)).as("tok"))
      .select(col("id"),
        element_at(wArr,
          pmod(HashKernels.polyHash(col("tok"), 31L, P), lit(d.toLong))
            .cast("int") + 1).as("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("zsum"))
      .select(col("id"), col("n_toks"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(bias) + (col("zsum").cast("double") /
            col("n_toks").cast("double"))))), 4).as("score"))
  }

  /** Threshold-sweep evaluation of a binary filter (the
    * precision/recall panel that decides where to CUT a quality/language
    * classifier before it gates a mixture): for each threshold,
    * confusion counts plus precision/recall/F1 over the scored corpus.
    *
    * One corpus scan, zero shuffles: every threshold's four counts are
    * conditional sums in a single global aggregate (map-side partial
    * combine → one metadata-sized row), exploded back to one row per
    * threshold. Counts are exact longs; the three ratios are single
    * double divisions on them, snapped to 6 — fully oracle-replayable.
    * Degenerate denominators (no predicted/actual positives) yield null
    * rather than a fake 0/0. */
  def evalBinary(scored: DataFrame, score: Column, label: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val base = scored.select(score.as("s"), label.cast("int").as("y"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("s") >= t && col("y") === 1, 1L).otherwise(0L))
          .as(s"tp_$i"),
        sum(when(col("s") >= t && col("y") === 0, 1L).otherwise(0L))
          .as(s"fp_$i"),
        sum(when(col("s") < t && col("y") === 1, 1L).otherwise(0L))
          .as(s"fn_$i"),
        sum(when(col("s") < t && col("y") === 0, 1L).otherwise(0L))
          .as(s"tn_$i"))
    }
    val row = base.agg(aggs.head, aggs.tail: _*)
    val entries = thresholds.zipWithIndex.map { case (t, i) =>
      val (tp, fp, fn, tn) = (col(s"tp_$i").cast("double"),
        col(s"fp_$i").cast("double"), col(s"fn_$i").cast("double"),
        col(s"tn_$i").cast("double"))
      val prec = when(tp + fp > 0, round(tp / (tp + fp), 6))
      val rec = when(tp + fn > 0, round(tp / (tp + fn), 6))
      val f1 = when(tp + tp + fp + fn > 0,
        round((tp + tp) / (tp + tp + fp + fn), 6))
      struct(lit(t).as("threshold"), col(s"tp_$i").as("tp"),
        col(s"fp_$i").as("fp"), col(s"fn_$i").as("fn"),
        col(s"tn_$i").as("tn"), prec.as("precision"), rec.as("recall"),
        f1.as("f1"))
    }
    row.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  /** Reliability-diagram bins (calibration of a probabilistic filter:
    * does score 0.8 mean 80% positive?): fixed `bins` equal-width score
    * buckets over [0,1], each with volume, exact positive count, the
    * decimal-exact mean score, and the positive fraction. Miscalibrated
    * buckets (|mean_score − frac_pos| large) say the filter's scores
    * can't be read as probabilities when setting mixture cuts.
    *
    * One scan into a bins-bounded aggregate (map-side combine); mean
    * score sums the snap-4 scores in DECIMAL (order-free, exact) before
    * one double division; bucket assignment `min(floor(s·bins), bins−1)`
    * is the same IEEE op sequence in both engines. */
  def calibrationBins(scored: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = scored.select(score.as("s"), label.cast("int").as("y"))
    base.select(least(floor(col("s") * lit(bins.toDouble)).cast("int"),
        lit(bins - 1)).as("bin"), col("s"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("long")).as("n_pos"),
        (sum(col("s").cast("decimal(18,4)")).cast("double") /
          count(lit(1)).cast("double")).as("ms"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("ms"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
  }

  /** Expected calibration error — the SCALAR that [[calibrationBins]]'
    * reliability diagram reads off: `ECE = Σ_b (n_b/N)·|frac_pos_b −
    * mean_score_b|` (Naeini et al. 2015's equal-width-bin form). The
    * single number that says whether a filter's scores may be read as
    * probabilities when setting mixture cuts, where the diagram needs a
    * human. Computed FROM the bins operator's exact per-bin values
    * (same snap-6 grain, so the two views can never disagree); each
    * bin's weighted gap snaps to 1e-9 fixed-point before the ≤ bins-row
    * sum (order-free), one final snap-6. Scale shape: inherits
    * [[calibrationBins]]' one-scan bins-bounded aggregate; this adds a
    * bins-row reduction. */
  def calibrationError(scored: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    val b = calibrationBins(scored, score, label, bins)
    val gapE9 = round(col("n").cast("double") *
      abs(col("frac_pos") - col("mean_score")) * 1e9).cast("long")
    b.agg(sum(col("n")).as("n"),
        sum(gapE9).as("num_e9"))
      .select(col("n"),
        round(col("num_e9").cast("double") / 1e9 /
          col("n").cast("double"), 6).as("ece"))
  }

  /** Exact ROC-AUC (the threshold-free companion of [[evalBinary]]):
    * the Mann–Whitney pair statistic `(#[s_pos > s_neg] +
    * 0.5·#ties) / (P·N)`, computed WITHOUT enumerating pairs — group by
    * distinct score, one cumulative window over the score-grain-bounded
    * group table, integer 2×-scaled numerator (ties cost exactly 1 of
    * 2 units), one final double division snapped to 6.
    *
    * Scale shape: the corpus collapses map-side into the distinct-score
    * count table (score grain bounds it: round-4 scores in [0,1] → ≤
    * 10 001 rows regardless of corpus size), so the cumulative window
    * is provably input-bounded and carries the repo's sanctioned
    * non-foldable always-zero partition key (see Sketch's
    * quantilesFromSample note). Degenerate inputs (single-class) yield
    * a null AUC rather than 0/0. The pair numerator and the P·N
    * denominator are accumulated in DECIMAL(38,0), not BIGINT: at the
    * billions-of-labels regime this operator targets, `np·cum_nn` and
    * `n_pos·n_neg` pass 2⁶³ long before the count table itself is
    * large, and a silent Long wrap would produce a plausible-looking
    * wrong AUC (DuckDB's BIGINT would at least error). DECIMAL has its
    * own silent mode under non-ANSI Spark — a per-term DECIMAL(38,0)
    * overflow yields NULL, which `sum()` silently skips, still a
    * plausible-looking wrong AUC — so the plan counts overflowed terms
    * (inputs are never null, so a null product IS an overflow) and
    * `raise_error`s at execution rather than answer wrong. Reachable
    * only near ~7·10¹⁸ labels, but the failure mode would be silent. */
  def aucRoc(scored: DataFrame, score: Column, label: Column): DataFrame = {
    val base = scored.select(score.as("s"), label.cast("int").as("y"))
    val g = base.groupBy(col("s")).agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("np") + col("nn"), lit(1L)))
      .orderBy(col("s").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = g.withColumn("cum_nn", sum(col("nn")).over(w) - col("nn"))
    val dec = "decimal(38,0)"
    val term = col("np").cast(dec) *
      (lit(2L).cast(dec) * col("cum_nn").cast(dec) + col("nn").cast(dec))
    cum.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(term).as("num2"),
        sum(when(term.isNull, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_overflow") > 0, raise_error(lit(
          "aucRoc: pair-numerator term overflowed DECIMAL(38,0) — " +
            "sum() would silently skip it and answer wrong")).cast("double"))
          .when(col("n_pos") > 0 && col("n_neg") > 0,
            round(col("num2").cast("double") /
              (lit(2.0) *
                (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("double")), 6))
          .as("auc"))
  }

  /** Exact average precision — the area under the precision–recall
    * curve by the threshold-step sum `AP = Σ_k (R_k − R_{k−1}) · P_k`
    * over DISTINCT score thresholds descending (the formulation
    * scikit-learn's `average_precision_score` computes). This is the
    * eval metric that behaves under the class imbalance every quality
    * filter has: with 1000:1 negatives, ROC-AUC barely moves when the
    * top of the ranking fills with false positives (it averages over
    * pair comparisons the negatives dominate), while AP — precision
    * averaged where the positives actually sit — collapses toward the
    * prevalence. Threshold-level is also the only tie-robust
    * definition: a per-row ranking AP is undefined under score ties.
    *
    * Determinism: per threshold, `P_k = cum_tp/cum_n` is one IEEE
    * division of exact ints (engine-identical), each term
    * `np_k · P_k` snaps to 9 decimals and accumulates in
    * DECIMAL(38,9) (order-free), then ONE division by n_pos snapped
    * to 6 — the oracle replays every step.
    *
    * Scale shape: identical to [[aucRoc]] — the corpus collapses
    * map-side into the distinct-score count table (score grain bounds
    * it: round-4 scores in [0,1] → ≤ 10 001 rows at any corpus size),
    * the cumulative window runs over that bounded table under the
    * sanctioned non-foldable constant partition key, and one metadata
    * row comes out. No positives → null AP. */
  def averagePrecision(scored: DataFrame, score: Column, label: Column)
      : DataFrame = {
    val base = scored.select(score.as("s"), label.cast("int").as("y"))
    val g = base.groupBy(col("s")).agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("np") + col("nn"), lit(1L)))
      .orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = g.withColumn("cum_tp", sum(col("np")).over(w))
      .withColumn("cum_n", sum(col("np") + col("nn")).over(w))
    val term = col("np").cast("double") *
      (col("cum_tp").cast("double") / col("cum_n").cast("double"))
    cum.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(round(term, 9).cast("decimal(38,9)")).as("num"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          round(col("num").cast("double") / col("n_pos").cast("double"), 6))
          .as("ap"))
  }

  /** [[averagePrecision]] per group — the slice metric beside
    * [[aucRocByGroup]]: under per-source prevalence differences the
    * global AP is dominated by the majority source, and a source whose
    * positives rank poorly hides exactly the way q142's scaladoc
    * describes for AUC — worse, because AP is prevalence-sensitive BY
    * DESIGN, comparing a source's AP against ITS OWN prevalence (the
    * random-ranking baseline) is the only fair read, and that needs the
    * per-group table. Same plan group-keyed: (grp, s)-grained count
    * table, windows properly partitioned by group, independent snap-9
    * decimal numerators. Groups with no positives yield null. */
  def averagePrecisionByGroup(scored: DataFrame, score: Column,
      label: Column, group: Column): DataFrame = {
    val base = scored.select(group.as("grp"), score.as("s"),
      label.cast("int").as("y"))
      .filter(col("grp").isNotNull)
    val g = base.groupBy(col("grp"), col("s")).agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = g.withColumn("cum_tp", sum(col("np")).over(w))
      .withColumn("cum_n", sum(col("np") + col("nn")).over(w))
    val term = col("np").cast("double") *
      (col("cum_tp").cast("double") / col("cum_n").cast("double"))
    cum.groupBy(col("grp"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(round(term, 9).cast("decimal(38,9)")).as("num"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          round(col("num").cast("double") / col("n_pos").cast("double"), 6))
          .as("ap"))
  }

  /** [[aucRoc]] per group (per-source / per-language filter bias: a
    * classifier that ranks well globally can still be near-random on
    * one source — the slice metric that catches it before that source's
    * cut is set from the global curve). Same plan, group-keyed: the
    * distinct-score table is `(grp, s)`-grained, the cumulative window
    * is PROPERLY partitioned by group, and each group's exact
    * Mann–Whitney numerator divides independently. Single-class groups
    * yield null AUC. */
  def aucRocByGroup(scored: DataFrame, score: Column, label: Column,
      group: Column): DataFrame = {
    val base = scored.select(group.as("grp"), score.as("s"),
      label.cast("int").as("y"))
      .filter(col("grp").isNotNull)
    val g = base.groupBy(col("grp"), col("s")).agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = g.withColumn("cum_nn", sum(col("nn")).over(w) - col("nn"))
    val dec = "decimal(38,0)"
    val term = col("np").cast(dec) *
      (lit(2L).cast(dec) * col("cum_nn").cast(dec) + col("nn").cast(dec))
    cum.groupBy(col("grp"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(term).as("num2"),
        sum(when(term.isNull, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        when(col("n_overflow") > 0, raise_error(lit(
          "aucRocByGroup: pair-numerator term overflowed DECIMAL(38,0) — " +
            "sum() would silently skip it and answer wrong")).cast("double"))
          .when(col("n_pos") > 0 && col("n_neg") > 0,
            round(col("num2").cast("double") /
              (lit(2.0) *
                (col("n_pos").cast(dec) * col("n_neg").cast(dec)).cast("double")), 6))
          .as("auc"))
  }

  /** Chance-corrected agreement between two boolean filters (Cohen's
    * kappa): "do my learned gate and my rule gate agree beyond what
    * their keep rates force?" — raw overlap reads high whenever both
    * filters keep most rows; kappa is the number that actually says
    * whether one gate is redundant. One scan, one conditional-sum
    * aggregate to a single metadata row; exact contingency counts,
    * fixed-sequence double ops snapped to 6; degenerate marginals
    * (pe = 1) yield null. */
  def agreementKappa(df: DataFrame, predA: Column, predB: Column)
      : DataFrame = {
    val base = df.select(predA.cast("boolean").as("pa"),
      predB.cast("boolean").as("pb"))
      .filter(col("pa").isNotNull && col("pb").isNotNull)
    val agg = base.agg(
      sum(when(col("pa") && col("pb"), 1L).otherwise(0L)).as("n_both"),
      sum(when(col("pa") && !col("pb"), 1L).otherwise(0L)).as("n_only_a"),
      sum(when(!col("pa") && col("pb"), 1L).otherwise(0L)).as("n_only_b"),
      sum(when(!col("pa") && !col("pb"), 1L).otherwise(0L)).as("n_neither"))
    // Marginal products in DECIMAL(38,0): four counts near 2³¹ already
    // wrap a Long product silently; decimal keeps pe exact-then-one-
    // double-division at any corpus size.
    val dec = "decimal(38,0)"
    val nD = (col("n_both") + col("n_only_a") + col("n_only_b") + col("n_neither"))
      .cast("double")
    val po = (col("n_both") + col("n_neither")).cast("double") / nD
    val pe = ((col("n_both") + col("n_only_a")).cast(dec) *
        (col("n_both") + col("n_only_b")).cast(dec) +
      (col("n_only_b") + col("n_neither")).cast(dec) *
        (col("n_only_a") + col("n_neither")).cast(dec))
      .cast("double") / (nD * nD)
    // counts are never null, so a null pe IS a decimal overflow — fail
    // loudly rather than emit a silently-null kappa
    agg.select(col("n_both"), col("n_only_a"), col("n_only_b"), col("n_neither"),
      round(po, 6).as("po"),
      when(pe.isNull, raise_error(lit(
        "agreementKappa: marginal product overflowed DECIMAL(38,0)"))
        .cast("double"))
        .when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Fleiss' kappa over `raters.size` binary gates — [[agreementKappa]]
    * generalized past two raters (Fleiss 1971): with three or more
    * stacked quality filters, pairwise kappas hide three-way structure
    * (any two can look independent while all three agree everywhere).
    * One row: `(n_items, n_raters, p_keep, p_bar, p_e, kappa)` where
    * `p_bar` is the mean per-item pair agreement
    * `Σᵢ [kᵢ(kᵢ−1) + (n−kᵢ)(n−kᵢ−1)] / (N·n·(n−1))` (kᵢ = keep votes on
    * item i), `p_e = p̄₁² + (1−p̄₁)²` the chance agreement from the
    * pooled keep prevalence, and `kappa = (p_bar − p_e)/(1 − p_e)`
    * (null when `p_e = 1` — all raters unanimous on one side
    * everywhere, agreement indistinguishable from chance).
    *
    * Scale shape: ONE corpus scan, one metadata-row aggregate — the
    * per-item pair numerator is exact integer arithmetic on the vote
    * count (bounded by n(n−1) per row, so Long holds past 10¹⁷ items),
    * and the three final ratios are a fixed IEEE sequence snapped to 6.
    * Rows where any rater abstains (null) are EXCLUDED — a null vote is
    * not a "reject". */
  def fleissKappa(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2,
      s"fleissKappa needs >= 2 raters, got ${raters.size}")
    val n = raters.size.toLong
    val votes = raters.map(r => r.cast("boolean").cast("long"))
      .reduce(_ + _)
    val base = df.select(votes.as("k")).filter(col("k").isNotNull)
    val agg = base.agg(count(lit(1)).as("n_items"),
      sum(col("k")).as("s_keep"),
      sum(col("k") * (col("k") - 1L) +
        (lit(n) - col("k")) * (lit(n) - col("k") - 1L)).as("s_pairs"))
    val p1 = col("s_keep").cast("double") /
      (col("n_items") * lit(n)).cast("double")
    val pBar = col("s_pairs").cast("double") /
      (col("n_items") * lit(n * (n - 1L))).cast("double")
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    agg.select(col("n_items"), lit(n).as("n_raters"),
      round(p1, 6).as("p_keep"), round(pBar, 6).as("p_bar"),
      round(pe, 6).as("p_e"),
      when(pe < 1.0, round((pBar - pe) / (lit(1.0) - pe), 6))
        .as("kappa"))
  }

  /** Full-batch gradient-descent TRAINING of the hashed logistic
    * classifier [[hashedLinearScore]] serves — the learn step of a
    * CCNet/fastText-style quality or language filter, run where the
    * labels are: on the cluster, against the full corpus.
    *
    * Determinism across engines and partitionings, the part a naive
    * float implementation gets wrong:
    *  - the per-doc logit is ONE O(len) left fold over the token array
    *    (weight-literal lookup per token) — the fold order is the
    *    array's content order, a property of the data, not of the
    *    partitioning;
    *  - every gradient addend (per token: `(p−y)/n`; per doc: `p−y`)
    *    is snapped to 1e-8 fixed-point (`round(x·1e8)` → BIGINT), so
    *    the bucket-grouped gradient sums are exact integer aggregates —
    *    associative, partition-order-free, engine-replayable;
    *  - the weight update `w_j − lr·((g_j/1e8)/N)` is then a fixed
    *    sequence of IEEE double ops on engine-identical inputs.
    *
    * Scale shape: per iteration, one corpus scan — tokenize, fold,
    * sigmoid, and the per-token gradient entries all map-side — into a
    * `groupBy(bucket)` with dim+1 groups: partial aggregation collapses
    * every partition to ≤ dim+1 rows before the only exchange, so what
    * crosses the wire is model-sized, not corpus-sized. The model rides
    * the plan as literals (same regime as [[Vocab]]'s driver-delta BPE
    * trainer). Docs with no tokens carry no features and are excluded.
    */
  def trainLogReg(df: DataFrame, id: Column, text: Column, label: Column,
      dim: Int, lr: Double, iters: Int): DataFrame = {
    require(dim >= 1 && dim <= (1 << 20), s"dim out of range: $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = df.sparkSession
    val (w, b) = trainLogRegModel(df, id, text, label, dim, lr, iters)
    import spark.implicits._
    (Seq((-1, b)) ++ w.indices.map(j => (j, w(j))))
      .toDF("idx", "weight")
      .select(col("idx"), round(col("weight"), 9).as("weight"))
  }

  /** [[trainLogReg]]'s driver loop, returning the raw (weights, bias)
    * doubles for composition and specs.
    *
    * Per-iteration plan (all map-side until the final tiny aggregate):
    * tokenize → per-doc logit via ONE O(len) left fold over the token
    * array (`aggregate` HOF, weight literals indexed by the codegen'd
    * portable hash) → per-doc `(p−y)` → one exploded entry per token
    * (bucket, snap8((p−y)/n)) plus a bucket −1 sentinel per doc
    * carrying snap8(p−y) → `groupBy(bucket)` — dim+1 groups, partial
    * aggregation reduces each partition to ≤ dim+1 rows before the only
    * exchange. The corpus is never shuffled; the gradient that crosses
    * the wire is metadata-sized. The logit fold is in token-array order
    * (a property of the DATA, not of partitioning), so z is
    * deterministic; gradient addends are 1e-8 fixed-point longs, so the
    * cross-doc sums are exact. At dim beyond ~10⁵ the literal weight
    * array should become a broadcast lookup table — literals keep the
    * model inside whole-stage codegen, which is the right trade at
    * filter-sized dims. */
  def trainLogRegModel(df: DataFrame, id: Column, text: Column,
      label: Column, dim: Int, lr: Double, iters: Int)
      : (IndexedSeq[Double], Double) = {
    // hash each token ONCE per pass: the bucket array feeds both the
    // logit fold and the gradient entries (the per-token char fold is
    // the dominant map-side cost at 100M tokens — measured 2× win)
    // r18 tried persisting this iteration-invariant table (MEMORY_AND_DISK)
    // so iterations 2..k skip the re-tokenize; r19 steal-clean per-query reps
    // REVERTED it: at q125's 3 iterations the cache write+read costs more
    // than the recompute it saves (persisted 4.56 s clean vs the 4.27 s
    // unpersisted floor; both r18 driver runs agreed). Negative result
    // recorded in OPTIMIZATION_r19.md — at much deeper GD runs a persist
    // (or a spilled hashed-feature table) re-enters the trade, but that
    // is a different operator regime than the filter-sized trainer here.
    val base = df.select(TextExprs.tokens(text).as("ts"),
        label.cast("int").as("y"))
      .filter(size(col("ts")) > 0)
      .select(
        transform(col("ts"), t =>
          pmod(HashKernels.polyHash(t, 31L, P), lit(dim.toLong)).cast("int"))
          .as("bs"),
        col("y"), size(col("ts")).cast("long").as("n"))
    var w = IndexedSeq.fill(dim)(0.0)
    var b = 0.0
    (0 until iters).foreach { _ =>
      val wArr = array(w.map(lit): _*)
      val zsum = aggregate(col("bs"), lit(0.0),
        (acc, bk) => acc + element_at(wArr, bk + 1))
      val p = lit(1.0) / (lit(1.0) +
        exp(-(lit(b) + (zsum / col("n").cast("double")))))
      val diff = p - col("y").cast("double")
      def snap(x: Column): Column = round(x * lit(1.0e8)).cast("long")
      val entries = concat(
        array(struct(lit(-1).as("bucket"), snap(diff).as("g"))),
        transform(col("bs"), bk => struct(bk.as("bucket"),
          snap(diff / col("n").cast("double")).as("g"))))
      val grads = base
        .select(col("y"), col("n"), explode(entries).as("e"))
        .groupBy(col("e.bucket").as("bucket"))
        .agg(sum(col("e.g")).as("g"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val nDocs = grads.get(-1).map(_._2).getOrElse(0L)
      require(nDocs > 0, "trainLogReg: no docs with tokens")
      val n = nDocs.toDouble
      b = b - lr * ((grads(-1)._1 / 1.0e8) / n)
      w = (0 until dim).map(j =>
        w(j) - lr * ((grads.get(j).map(_._1).getOrElse(0L) / 1.0e8) / n))
    }
    (w, b)
  }

  /** Prediction churn between two FILTER VERSIONS on the same corpus —
    * the deployment question a kappa can't answer: not "do they agree"
    * but "what exactly does v2 change, and where". Per group (source):
    * directional flip counts — `n_enter` rows v2 keeps that v1 dropped
    * (new data entering the mixture), `n_exit` rows v2 drops that v1
    * kept (data leaving it) — plus both keep counts and the churn rate
    * (n_enter + n_exit) / n. A version bump with near-zero global churn
    * can still swing one source hard; the per-group table is the review
    * artifact before a filter rollout.
    *
    * `joined` carries one row per doc with both decisions; exact long
    * counts, one snap-6 division per group. Scale: one map-side scan,
    * groups-bounded aggregate. */
  def predictionChurn(joined: DataFrame, keepA: Column, keepB: Column,
      group: Column): DataFrame =
    joined.select(group.as("grp"), keepA.cast("boolean").as("a"),
        keepB.cast("boolean").as("b"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("a").cast("long")).as("n_keep_a"),
        sum(col("b").cast("long")).as("n_keep_b"),
        sum((!col("a") && col("b")).cast("long")).as("n_enter"),
        sum((col("a") && !col("b")).cast("long")).as("n_exit"))
      .select(col("grp"), col("n"), col("n_keep_a"), col("n_keep_b"),
        col("n_enter"), col("n_exit"),
        round((col("n_enter") + col("n_exit")).cast("double") /
          col("n").cast("double"), 6).as("churn_rate"))

  /** Score-DISTRIBUTION drift between two scored snapshots — the standard
    * production monitor for a deployed quality/language filter (PSI's
    * job, computed as per-bin Jensen–Shannon contributions like
    * `Datasheet.mixDrift`: JS needs no epsilon hack when a bin empties,
    * which real score histograms do). The classifier is FROZEN between
    * snapshots, so a moved histogram means the DATA changed — upstream
    * crawl shift, encoding rot, a new spam wave — and every mixture cut
    * tuned on the old distribution is silently re-based; this panel is
    * the alarm. Bins are [[calibrationBins]]' equal-width grid, so the
    * drift view and the calibration view share a grain.
    *
    * Output per bin: counts, exact int-ratio shares (snap-6), share
    * delta, and the JS contribution as 1e-9 fixed-point (`js_e9`,
    * q152's discipline — order-free, cross-engine exact; Σ js_e9 / 1e9
    * is the scalar drift). Scale: one scan per snapshot collapsing
    * map-side to ≤ bins rows; the join and totals are bins-sized
    * metadata. */
  def scoreDrift(refScored: DataFrame, curScored: DataFrame, score: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    scoreDriftFromCounts(binCounts(refScored, score, bins),
      binCounts(curScored, score, bins))
  }

  /** The `(bin, n)` histogram [[scoreDrift]] works over — exposed so a
    * STREAM can maintain it incrementally (counts are additive, the
    * `MixDriftStream` argument: per-batch histograms merge exactly). */
  def binCounts(scored: DataFrame, score: Column, bins: Int = 10)
      : DataFrame =
    scored.select(least(floor(score * lit(bins.toDouble)).cast("int"),
        lit(bins - 1)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  /** [[scoreDrift]] over pre-aggregated `(bin, n)` histograms (the
    * streaming state's grain). */
  def scoreDriftFromCounts(refCounts: DataFrame, curCounts: DataFrame)
      : DataFrame = {
    val joined = refCounts.select(col("bin"), col("n").as("ref_n"))
      .join(curCounts.select(col("bin"), col("n").as("cur_n")),
        Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = joined.agg(sum(col("ref_n")).as("rt"),
      sum(col("cur_n")).as("ct"))
    val p = col("ref_n").cast("double") /
      greatest(col("rt"), lit(1L)).cast("double")
    val q = col("cur_n").cast("double") /
      greatest(col("ct"), lit(1L)).cast("double")
    val m = (p + q) / 2.0
    val jsTerm =
      when(col("ref_n") === 0 && col("cur_n") === 0, lit(0.0))
        .otherwise(
          when(col("ref_n") > 0, lit(0.5) * p * log(p / m))
            .otherwise(lit(0.0)) +
          when(col("cur_n") > 0, lit(0.5) * q * log(q / m))
            .otherwise(lit(0.0)))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round(p, 6).as("ref_share"), round(q, 6).as("cur_share"),
        round(q - p, 6).as("delta_share"),
        round(jsTerm * 1e9).cast("long").as("js_e9"))
  }

  /** Per-group rank (quantile) normalization of a score column — the
    * cross-domain calibration step a per-source threshold needs: raw
    * quality scores are not comparable across sources (each classifier
    * sees different base rates), but the WITHIN-source percentile is,
    * so `pr ≥ 0.8` keeps each source's top 20% regardless of score
    * scale (the quantile-normalization standard). Emits
    * `(id, grp, score, pr)` with `pr` = SQL `percent_rank()` —
    * `(#strictly-smaller) / (n − 1)`, ties share a rank, single-row
    * groups read 0.
    *
    * Scale shape — NOT the textbook window: `percent_rank()` over a
    * source-partitioned window sorts each source's entire corpus slice
    * in one task (the classic low-cardinality-partition skew). Instead
    * the CDF lives on the (grp, score) COUNT TABLE — distinct-value-
    * bounded, the q137 grain, since scores arrive snapped — where one
    * bounded cumulative window mints `#strictly-smaller`, and the
    * corpus gets its `pr` by a (grp, score)-keyed join: rows never
    * sort, never one-task. The oracle runs the textbook window — the
    * hash match is the proof the decomposition equals it. */
  def rankNormalize(df: DataFrame, id: Column, score: Column,
                    group: Column): DataFrame = {
    val rows = df.filter(group.isNotNull && score.isNotNull)
      .select(id.as("id"), group.as("grp"), score.as("score"))
    val cnt = rows.groupBy(col("grp"), col("score"))
      .agg(count(lit(1)).as("c"))
    val wBelow = Window.partitionBy(col("grp")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("grp"))
    val tab = cnt
      .withColumn("below", coalesce(sum(col("c")).over(wBelow), lit(0L)))
      .withColumn("n_grp", sum(col("c")).over(wAll))
      .select(col("grp"), col("score"),
        when(col("n_grp") > 1, round(col("below").cast("double") /
            (col("n_grp") - 1).cast("double"), 6))
          .otherwise(lit(0.0)).as("pr"))
    rows.join(tab, Seq("grp", "score"))
      .select(col("id"), col("grp"), col("score"), col("pr"))
  }
}
