package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Per-source dataset-card generation (the "datasheets for datasets"
  * panel a corpus release ships): one row per source with document and
  * token volume, exact-duplicate load, mean quality, and the HLL
  * distinct-token estimate — the five numbers that decide whether a
  * source enters a training mixture and at what weight.
  *
  * Composition discipline: each panel column is the EXISTING operator's
  * shape — exact-dup via the 128-bit content-hash groupBy ([[Dedup]]'s
  * trade: the oracle groups by the text itself, a collision would
  * surface as a mismatch), distinct tokens via [[Sketch
  * .hllRegistersByGroup]]'s relational register aggregate, mean quality
  * as a decimal-exact sum of snap-6 scores over one double division.
  * Everything aggregates to sources × O(1) rows before the final joins;
  * the corpus is scanned, never shuffled at row grain. */
object Datasheet {

  def perSourceCard(docs: DataFrame, id: Column, text: Column,
      source: Column, hllP: Int = 8): DataFrame = {
    val base = docs.select(id.as("id"), source.as("src"), text.as("text"),
      TextExprs.tokens(text).as("ts"))
    val vol = base.groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ts")).cast("long")).as("n_tokens"))
    // quality reuses base's token array (lowered per token — identical
    // to re-splitting lower(text), see qualityScoreFromLowerTokens)
    // instead of paying two more regex splits per row
    val qual = base.filter(size(col("ts")) > 0)
      .select(col("src"),
        round(TextExprs.qualityScoreFromLowerTokens(col("text"),
          transform(col("ts"), t => lower(t))), 6).as("q"))
      .groupBy(col("src"))
      .agg((sum(col("q").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("mq"))
      .select(col("src"), round(col("mq"), 6).as("mean_quality"))
    val dup = base
      .groupBy(col("src"), struct(xxhash64(col("text")),
        xxhash64(col("text"), lit(1))).as("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy(col("src")).agg(sum(col("c")).as("n_dup_docs"))
    val dist = Sketch.hllDistinctByGroup(
      base.select(col("src"), explode(col("ts")).as("tok")),
      col("src"), col("tok"), hllP)
      .select(col("grp").as("src"),
        col("est_distinct").as("est_distinct_tokens"))
    vol.join(qual, Seq("src"), "left")
      .join(dup, Seq("src"), "left")
      .join(dist, Seq("src"), "left")
      .select(col("src"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        col("mean_quality"), col("est_distinct_tokens"))
  }

  /** Mix drift between two corpus snapshots — the monitoring panel a
    * recurring ingest needs: when a crawler config change or an
    * upstream source outage shifts the SOURCE MIX, every downstream
    * mixture weight (temperature sampling, per-source caps, DSIR) is
    * silently re-based. Per source: document/token volumes of both
    * snapshots, token-share of each (the quantity mixing actually
    * consumes), the share delta, and the source's Jensen–Shannon
    * divergence contribution `0.5·p·ln(p/m) + 0.5·q·ln(q/m)` with
    * `m = (p+q)/2` — summing `js_e9` over sources gives total JS
    * (nats, ≤ ln 2); a one-sided source contributes its finite
    * `0.5·share·ln 2` term (JS needs no smoothing, the reason it
    * beats KL for this job).
    *
    * Determinism: shares are exact int ratios (identical doubles on
    * both engines); the JS term is transcendental (ln) so it snaps to
    * 1e-9 fixed-point BIGINT PER SOURCE — sums downstream are exact
    * integer aggregates (the q72 discipline).
    *
    * Scale shape: one tokenize scan per snapshot collapsing map-side
    * to sources-bounded volume tables, a full-outer join of those, and
    * one broadcast of the two 1-row totals. The corpora never shuffle. */
  def mixDrift(oldDocs: DataFrame, newDocs: DataFrame, text: Column,
               source: Column): DataFrame =
    mixDriftFromVolumes(
      sourceVolumes(oldDocs, text, source),
      sourceVolumes(newDocs, text, source))

  /** Per-source `(src, n_docs, n_tokens)` volume table — [[mixDrift]]'s
    * input grain, exposed so a STREAM can maintain it incrementally
    * (counts are additive, so per-batch volume tables merge exactly:
    * `streaming/MixDriftStream`). One tokenize scan collapsing
    * map-side; sources-bounded output. */
  def sourceVolumes(docs: DataFrame, text: Column, source: Column)
      : DataFrame =
    docs.select(source.as("src"), TextExprs.tokenCount(text).as("nt"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt").cast("long"))
        .as("n_tokens"))

  /** [[mixDrift]] over pre-aggregated volume tables (the streaming
    * state's grain). Inputs carry `(src, n_docs, n_tokens)`. */
  def mixDriftFromVolumes(oldVol: DataFrame, newVol: DataFrame)
      : DataFrame = {
    val o = oldVol.select(col("src"), col("n_docs").as("old_docs"),
      col("n_tokens").as("old_tokens"))
    val n = newVol.select(col("src"), col("n_docs").as("new_docs"),
      col("n_tokens").as("new_tokens"))
    val joined = o.join(n, Seq("src"), "full_outer")
      .select(col("src"),
        coalesce(col("old_docs"), lit(0L)).as("old_docs"),
        coalesce(col("new_docs"), lit(0L)).as("new_docs"),
        coalesce(col("old_tokens"), lit(0L)).as("old_tokens"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
    val totals = joined.agg(sum(col("old_tokens")).as("ot"),
      sum(col("new_tokens")).as("nt2"))
    val p = col("old_tokens").cast("double") /
      greatest(col("ot"), lit(1L)).cast("double")
    val q = col("new_tokens").cast("double") /
      greatest(col("nt2"), lit(1L)).cast("double")
    val m = (p + q) / 2.0
    val jsTerm =
      when(col("old_tokens") === 0 && col("new_tokens") === 0, lit(0.0))
        .otherwise(
          when(col("old_tokens") > 0, lit(0.5) * p * log(p / m))
            .otherwise(lit(0.0)) +
          when(col("new_tokens") > 0, lit(0.5) * q * log(q / m))
            .otherwise(lit(0.0)))
    joined.crossJoin(broadcast(totals))
      .select(col("src"), col("old_docs"), col("new_docs"),
        col("old_tokens"), col("new_tokens"),
        round(p, 6).as("old_share"), round(q, 6).as("new_share"),
        round(q - p, 6).as("delta_share"),
        round(jsTerm * 1e9).cast("long").as("js_e9"))
  }

  /** Cross-source NEAR-DUP pair matrix — [[Contamination
    * .sourceOverlapMatrix]]'s question asked at the document level: for
    * every source pair, how many verified near-duplicate PAIRS straddle
    * it. Gram overlap says two feeds share phrasing; this says they
    * share whole documents — the direct double-counted-mixture-weight /
    * split-leakage signal, and the diagonal is each source's internal
    * dup load. `pairs` is any verified pair table (id_a, id_b) — e.g.
    * the registered MinHash-LSH output; `sources` maps id → source; the
    * pair's source key is order-normalized so the matrix is
    * upper-triangular. Scale: pairs are id-only metadata, two id-keyed
    * joins, groups²-bounded output. */
  def nearDupSourceMatrix(pairs: DataFrame, sources: DataFrame)
      : DataFrame = {
    val sa = sources.select(col("id").as("id_a"), col("source").as("sa"))
    val sb = sources.select(col("id").as("id_b"), col("source").as("sb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov drift between two snapshots of
    * an integer-valued per-document statistic (token count, length,
    * segment count): the max CDF gap, plus WHERE it occurs. The
    * histogram monitors ([[mixDrift]]-style) see only their bin grid; KS
    * is bin-free and catches a shift the grid straddles. Exactness
    * discipline: both CDFs live on the value-keyed COUNT TABLE (bounded
    * by distinct values, the q137 score-grain argument), the gap
    * numerator is the integer cross-product |cumR·nC − cumC·nR| in
    * DECIMAL(38,0) (overflow-safe at any corpus size), max is
    * order-free, ties on the argmax resolve to the smallest value, and
    * the single division snaps to 6. Output one row: (n_ref, n_cur, ks,
    * ks_at); ks is null when either side is empty. Scale: one map-side
    * count collapse per snapshot, a values-bounded join, ONE
    * values-bounded cumulative window with the sanctioned non-foldable
    * zero partition key. */
  def ksDrift(refVals: DataFrame, curVals: DataFrame, value: Column)
      : DataFrame = {
    val r = refVals.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("rn"))
    val c = curVals.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cn"))
    val j = r.join(c, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("rn") + col("cn"), lit(1L)))
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = j.select(col("v"), sum(col("rn")).over(w).as("cr"),
      sum(col("cn")).over(w).as("cc"))
    val tot = j.agg(sum(col("rn")).as("nr"), sum(col("cn")).as("nc"))
    val gaps = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("nr"), col("nc"),
        abs(col("cr").cast("decimal(38,0)") * col("nc").cast("decimal(38,0)")
          - col("cc").cast("decimal(38,0)") * col("nr").cast("decimal(38,0)"))
          .as("gap"))
    val mx = gaps.agg(max(col("gap")).as("g"))
    gaps.crossJoin(broadcast(mx)).filter(col("gap") === col("g"))
      .groupBy(col("nr"), col("nc"), col("g"))
      .agg(min(col("v")).as("ks_at"))
      .select(col("nr").as("n_ref"), col("nc").as("n_cur"),
        when(col("nr") > 0 && col("nc") > 0,
          round(col("g").cast("double") /
            (col("nr").cast("double") * col("nc").cast("double")), 6))
          .as("ks"),
        col("ks_at"))
  }

  /** [[ksDrift]] group-keyed — the slice view: a length/token-count
    * distribution can hold globally while one source's collapses (a feed
    * that started truncating documents moves only its own CDF). Same
    * exactness discipline per group; the cumulative window is PROPERLY
    * partitioned by group, totals/max/argmax are per-group aggregates;
    * groups with an empty side yield null ks (e.g. a source absent from
    * the current snapshot). */
  def ksDriftByGroup(refVals: DataFrame, curVals: DataFrame, value: Column,
      group: Column): DataFrame = {
    val r = refVals.select(group.as("grp"), value.cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("rn"))
    val c = curVals.select(group.as("grp"), value.cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cn"))
    val j = r.join(c, Seq("grp", "v"), "full_outer")
      .select(col("grp"), col("v"), coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = j.select(col("grp"), col("v"), sum(col("rn")).over(w).as("cr"),
      sum(col("cn")).over(w).as("cc"))
    val tot = j.groupBy(col("grp"))
      .agg(sum(col("rn")).as("nr"), sum(col("cn")).as("nc"))
    val gaps = cum.join(tot, Seq("grp"))
      .select(col("grp"), col("v"), col("nr"), col("nc"),
        abs(col("cr").cast("decimal(38,0)") * col("nc").cast("decimal(38,0)")
          - col("cc").cast("decimal(38,0)") * col("nr").cast("decimal(38,0)"))
          .as("gap"))
    val mx = gaps.groupBy(col("grp")).agg(max(col("gap")).as("g"))
    gaps.join(mx, Seq("grp")).filter(col("gap") === col("g"))
      .groupBy(col("grp"), col("nr"), col("nc"), col("g"))
      .agg(min(col("v")).as("ks_at"))
      .select(col("grp"), col("nr").as("n_ref"), col("nc").as("n_cur"),
        when(col("nr") > 0 && col("nc") > 0,
          round(col("g").cast("double") /
            (col("nr").cast("double") * col("nc").cast("double")), 6))
          .as("ks"),
        col("ks_at"))
  }

  /** Per-source NOVEL-GRAM rate of a new snapshot against a reference
    * snapshot — which feed is bringing new content vs re-crawling what
    * the corpus already has. A gram counts as novel for source s when s
    * contains it and the reference snapshot does not (grams shared by
    * several new sources count for each — the question is per-feed).
    * Scale shape: ONE shuffle of distinct (src, gram-hash128) pairs and
    * one distinct reference gram-hash set (gram TEXT never shuffles, the
    * q9/q109 128-bit trade), one hash-keyed join, sources-bounded
    * output. */
  def novelGramsBySource(refDocs: DataFrame, newDocs: DataFrame,
      text: Column, source: Column, n: Int = 3): DataFrame = {
    def h(g: Column): Seq[Column] =
      Seq(xxhash64(g).as("h1"), xxhash64(g, lit(1)).as("h2"))
    val old = refDocs
      .select(explode(TextExprs.wordShingles(text, n)).as("g"))
      .select(h(col("g")): _*).distinct()
      .withColumn("seen", lit(1))
    val nw = newDocs
      .select(source.as("src"),
        explode(TextExprs.wordShingles(text, n)).as("g"))
      .select(col("src") +: h(col("g")): _*).distinct()
    nw.join(old, Seq("h1", "h2"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("src"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty_rate"))
  }

  /** Dedup-EFFECTIVE dataset size — the scalar a dedup run is for: how
    * many documents and tokens remain when each near-dup cluster keeps
    * its representative. `clusters` is a (doc_id, cluster_rep) table
    * (singletons map to themselves — connected components' contract);
    * `tokens` maps doc_id → token count. One corpus-bounded aggregate
    * over two id-keyed metadata tables; the rep-token sum counts a
    * cluster's tokens at its representative only, so `token_keep_rate`
    * is what a downstream token budget actually sees. */
  def dedupEffectiveSize(clusters: DataFrame, tokens: DataFrame)
      : DataFrame =
    clusters.join(tokens, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"),
        sum(col("nt")).as("n_tokens"),
        sum(when(col("doc_id") === col("cluster_rep"), col("nt"))
          .otherwise(0L)).as("rep_tokens"))
      .select(col("n_docs"), col("n_clusters"),
        round(col("n_clusters").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_keep_rate"),
        col("n_tokens"), col("rep_tokens"),
        round(col("rep_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("token_keep_rate"))

  /** [[dedupEffectiveSize]] sliced by source — WHICH feed is dup-heavy:
    * the per-source doc/token keep rates that justify (or kill) a
    * feed's raw mixture share, and the direct motivation for the
    * dedup-aware temperature mix (a source with token_keep_rate 0.4
    * gets 2.5× its fair share from raw totals). `sources` maps
    * `doc_id → src`; a cluster straddling sources counts its rep among
    * each source's distinct reps (the straddle is exactly the q164
    * cross-source signal, reported there). Scale: id-only metadata
    * joins, sources-bounded output. */
  def dedupEffectiveSizeBySource(clusters: DataFrame, tokens: DataFrame,
                                 sources: DataFrame): DataFrame =
    clusters.join(tokens, Seq("doc_id")).join(sources, Seq("doc_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"),
        sum(col("nt")).as("n_tokens"),
        sum(when(col("doc_id") === col("cluster_rep"), col("nt"))
          .otherwise(0L)).as("rep_tokens"))
      .select(col("src"), col("n_docs"), col("n_clusters"),
        round(col("n_clusters").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_keep_rate"),
        col("n_tokens"), col("rep_tokens"),
        round(col("rep_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("token_keep_rate"))

  /** Embedding-table health panel per group — the datasheet entry that
    * catches a broken embedder BEFORE the ANN/dedup family consumes its
    * output: ragged dimensions (dim_min ≠ dim_max means a schema bug
    * downstream operators would hit as silent wrong dots), zero-norm
    * rows (cosine-undefined; every similarity operator here documents
    * them as a caller hazard), and a collapsed or exploded norm
    * distribution (mean/min/max of ‖v‖² — an encoder emitting constant
    * vectors shows up as min ≈ max).
    *
    * Numeric discipline: per-row ‖v‖² is the sequential IEEE dot product
    * (the q21 contract both engines share); the MEAN snaps each row to
    * 1e-9 fixed point and sums in DECIMAL(38,0) — order-free and
    * overflow-safe at any corpus size — with one snap-6 division at the
    * end; min/max are order-free by nature. Scale: one map-side scan,
    * groups-bounded aggregate, no shuffle of vectors. */
  def embeddingHealth(embs: DataFrame, vec: Column, group: Column)
      : DataFrame =
    embeddingHealthFinish(embeddingHealthRaw(embs, vec, group))

  /** The MERGEABLE aggregate state behind [[embeddingHealth]] — every
    * column is associative (sums, min/max, the decimal fixed-point norm
    * sum), so per-batch raw tables merge exactly for any arrival split:
    * the grain a STREAM maintains (`streaming/EmbedHealthStream`). */
  def embeddingHealthRaw(embs: DataFrame, vec: Column, group: Column)
      : DataFrame = {
    val n2 = graft.functions.VectorExprs.norm2(vec)
    embs.select(group.as("grp"), size(vec).as("dims"), n2.as("n2"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dims")).as("dim_min"), max(col("dims")).as("dim_max"),
        sum((col("n2") === 0.0).cast("long")).as("n_zero"),
        sum(round(col("n2") * 1e9).cast("decimal(38,0)")).as("s9"),
        min(col("n2")).as("mn"), max(col("n2")).as("mx"))
  }

  /** Collapse unioned raw health rows to one per group (the stream's
    * per-batch fold over state ∪ batch). */
  def embeddingHealthMerge(raw: DataFrame): DataFrame =
    raw.groupBy(col("grp"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
        min(col("dim_min")).as("dim_min"), max(col("dim_max")).as("dim_max"),
        sum(col("n_zero")).as("n_zero"), sum(col("s9")).as("s9"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Finish a raw health table into the reported panel. */
  def embeddingHealthFinish(raw: DataFrame): DataFrame =
    raw.select(col("grp"), col("n_vecs"), col("dim_min"), col("dim_max"),
      col("n_zero"),
      round(col("s9").cast("double") / 1e9 /
        col("n_vecs").cast("double"), 6).as("mean_norm2"),
      round(col("mn"), 6).as("min_norm2"),
      round(col("mx"), 6).as("max_norm2"))

  /** Robust per-source outlier panel — median/MAD instead of mean/σ, so
    * the detector itself isn't dragged by the outliers it hunts (one
    * 10 MB document moves a mean wildly; it moves a median by half a
    * rank). A row is an outlier when `|v − median| > z · MAD` (the
    * Hampel filter, Iglewicz & Hoaglin's modified-z family with the
    * 1.4826 consistency constant folded into the caller's `z`);
    * `MAD = 0` degrades to an epsilon band so constant-valued sources
    * flag genuine deviants instead of everything-or-nothing. The
    * standard length/score sanity screen before a source enters a
    * training mixture.
    *
    * Determinism: medians are EXACT rank-interpolated percentiles; for
    * integer-valued inputs every interpolation, deviation, and
    * threshold product below ~2^52 is exact IEEE in any engine, so the
    * flag decisions are replayable bit-for-bit (non-integer inputs
    * would be snap-rounded first — same discipline as every score
    * column in this file).
    *
    * Scale: two grouped exact percentiles (state is a value→count map,
    * bounded by the DISTINCT-value count of `value` per group — fine
    * for lengths/counts/snapped scores; unbounded-cardinality values
    * belong on [[Sketch.quantilesByGroup]]'s mergeable-sketch path),
    * two broadcasts of the groups×1 tables, one final aggregate. The
    * corpus is scanned twice (value pass + deviation pass), shuffled
    * never. Output: `(src, n_docs, median_v, mad_v, n_outliers,
    * outlier_share)`. */
  def robustOutliers(docs: DataFrame, value: Column, group: Column,
                     z: Double): DataFrame =
    robustOutliersFromCounts(valueCounts(docs, value, group), z)

  /** The sufficient statistic of [[robustOutliers]]: the per-(group,
    * value) count table `(src, v, c)`. COUNTS, hence additive — the
    * streaming arm's state grain ([[graft.streaming.OutlierStream]]),
    * and the distinct-value-bounded table every percentile below reads
    * instead of corpus rows. */
  def valueCounts(docs: DataFrame, value: Column, group: Column)
      : DataFrame =
    docs.filter(group.isNotNull && value.isNotNull)
      .select(group.as("src"), value.cast("double").as("v"))
      .groupBy(col("src"), col("v")).agg(count(lit(1)).as("c"))

  /** [[robustOutliers]] over the pre-aggregated count table: medians
    * are frequency-weighted exact percentiles (`percentile(v, 0.5, c)`
    * — identical interpolation to the row form, so the two entry
    * points and the streaming read produce the same panel bit for
    * bit), the deviation pass re-keys the COUNT TABLE (not rows) by
    * `|v − median|`, and outlier counts are conditional sums of `c`.
    * Nothing in the chain touches corpus rows after the first
    * aggregate. */
  def robustOutliersFromCounts(cnts: DataFrame, z: Double): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val meds = cnts.groupBy(col("src"))
      .agg(percentile(col("v"), lit(0.5), col("c")).as("med"))
    val devs = cnts.join(broadcast(meds), Seq("src"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mads = devs.groupBy(col("src"))
      .agg(percentile(col("dev"), lit(0.5), col("c")).as("mad"))
    val flagged = devs.join(broadcast(mads), Seq("src"))
      .withColumn("out_c",
        when(col("dev") > lit(z) * greatest(col("mad"), lit(1e-9)),
          col("c")).otherwise(lit(0L)))
    flagged.groupBy(col("src"), col("med"), col("mad"))
      .agg(sum(col("c")).as("n_docs"), sum(col("out_c")).as("n_outliers"))
      .select(col("src"), col("n_docs"),
        round(col("med"), 6).as("median_v"),
        round(col("mad"), 6).as("mad_v"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") /
          col("n_docs").cast("double"), 6).as("outlier_share"))
  }

  /** Column-profile panel — the schema-health datasheet every ingest
    * runs before anything downstream trusts a column (the Deequ-style
    * profiler): one row per profiled column with `(column, n_rows,
    * n_null, null_rate, n_distinct, min_value, max_value)`. A null
    * rate that jumped, a distinct count that collapsed, or a max that
    * exploded each catch a different upstream break (dropped join,
    * constant-fill bug, unit change) before it poisons a mixture.
    *
    * Exactness: `n_distinct` is EXACT (count distinct, not a sketch) —
    * this panel is the reference the sketch family (KMV q56, HLL q76)
    * is judged against; min/max are computed on the NATIVE type and
    * cast to string only for the heterogeneous report row.
    *
    * Scale shape: ONE scan — all columns profile in a single aggregate
    * (Catalyst plans the multi-distinct via Expand: the scan fans out
    * (#cols + 1)× into one shuffled aggregate, the standard exact
    * multi-distinct cost; swap in approx_count_distinct upstream if a
    * petabyte profile can tolerate a sketch), then one metadata explode
    * into the per-column rows. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs >= 1 column")
    require(cols.distinct.size == cols.size,
      s"columnProfile columns must be distinct, got ${cols.mkString(",")}")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"np_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), col(s"np_$c").as("n_present"),
          col(s"nd_$c").as("n_distinct"), col(s"mn_$c").as("min_value"),
          col(s"mx_$c").as("max_value"))
      }: _*)).as("r"))
      .select(col("r.column"), col("n_rows"),
        (col("n_rows") - col("r.n_present")).as("n_null"),
        round((col("n_rows") - col("r.n_present")).cast("double") /
          col("n_rows").cast("double"), 6).as("null_rate"),
        col("r.n_distinct"), col("r.min_value"), col("r.max_value"))
  }

  /** Categorical-balance panel — per source, Pearson's χ² of the
    * source's category composition (language, label, format …) against
    * the corpus-wide composition: the stratification QA run before a
    * per-source mixture weight is trusted (a "web" source that is 80%
    * one language inherits that skew into every epoch it dominates).
    * Row per source: `(src, n_docs, n_cats, chi2)` — `n_cats` is the
    * GLOBAL category count (dof = n_cats − 1); a source missing a
    * global category still pays that cell's full expected mass (o = 0
    * ⇒ term = e), which is what makes χ² catch absence, not just
    * excess. Null categories are excluded (an unknown label is not a
    * category).
    *
    * Scale shape: one (src, cat) count shuffle; category totals and
    * source totals re-aggregate the count table; the srcs × cats
    * expectation grid is metadata (both factors are aggregates) built
    * with broadcast joins. Exactness: all counts are exact longs;
    * each cell's `(o−e)²/e` is a fixed IEEE sequence snapped to 1e-6
    * fixed point before the per-source DECIMAL sum — order-free — with
    * one snap-6 finish. */
  def categoricalBalance(df: DataFrame, grp: Column, cat: Column)
      : DataFrame =
    categoricalBalanceFromCounts(categoricalCounts(df, grp, cat))

  /** [[categoricalBalance]]'s sufficient statistic: the `(src, cat, o)`
    * count table — ADDITIVE, so per-batch tables fold exactly under any
    * arrival split (the streaming arm's grain,
    * `streaming/BalanceStream`). */
  def categoricalCounts(df: DataFrame, grp: Column, cat: Column)
      : DataFrame =
    df.select(grp.as("src"), cat.as("cat"))
      .filter(col("cat").isNotNull)
      .groupBy(col("src"), col("cat"))
      .agg(count(lit(1)).as("o"))

  /** [[categoricalBalance]] over a pre-aggregated `(src, cat, o)`
    * count table. */
  def categoricalBalanceFromCounts(cnt: DataFrame): DataFrame = {
    val catTot = cnt.groupBy(col("cat")).agg(sum(col("o")).as("ct"))
    val srcTot = cnt.groupBy(col("src")).agg(sum(col("o")).as("st"))
    val tot = cnt.agg(sum(col("o")).as("n"))
    val grid = srcTot.crossJoin(broadcast(catTot))
      .join(cnt, Seq("src", "cat"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
    val e = col("st").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val term = (col("o").cast("double") - e) *
      (col("o").cast("double") - e) / e
    grid
      .select(col("src"), col("st"),
        round(term * 1e6).cast("decimal(38,0)").as("t6"))
      .groupBy(col("src"))
      .agg(max(col("st")).as("n_docs"),
        count(lit(1)).as("n_cats"),
        sum(col("t6")).as("s6"))
      .select(col("src"), col("n_docs"), col("n_cats"),
        round(col("s6").cast("double") / 1e6, 6).as("chi2"))
  }

  /** Source-affinity map — pairwise cosine between per-source embedding
    * CENTROIDS: the datasheet entry that shows which feeds are
    * near-duplicates of each other in embedding space BEFORE mixture
    * weights are assigned (two sources at cosine 0.98 are one source
    * with two names; upweighting both double-counts a domain). One row
    * per unordered source pair `(src_a, src_b, cos)`, `src_a < src_b`;
    * a zero-norm centroid yields null cosine.
    *
    * Determinism, the part a naive mean-then-dot gets wrong twice:
    * components snap to 1e-9 fixed point and sum in DECIMAL(38,0)
    * (order-free under any partitioning — the [[embeddingHealthRaw]]
    * discipline), the per-dim mean then snaps to 1e-6 fixed-point longs,
    * and the pair dot/norms are DECIMAL sums of long products — integer
    * arithmetic end to end, one snap-6 double division per pair.
    *
    * Scale shape: the corpus pass is ONE wide hash aggregate — `dims`
    * explicit LONG sum buffers per source (single-field buffers keep
    * the aggregate inside whole-stage codegen's field limit; decimal
    * sums carry a two-field (sum, isEmpty) buffer each, push the
    * buffer past `spark.sql.codegen.maxFields`, and drop the whole
    * stage to interpreted Decimal boxing — measured 40 s vs 3.4 s at
    * 500k×64, SCALE.md § "Round-13 probes (… `ops20` …)"), so the
    * reduction happens in the aggregation buffer with NO row fan-out
    * and the exchange carries sources-cardinality wide rows. Everything
    * downstream (centroid table, dim-keyed pair join, sources²-sized
    * output) is metadata; no vector ever crosses an exchange.
    *
    * Long-sum safety is GUARDED, not assumed: the same pass tracks
    * per-source `n` and `max|v9|`, and the finish projection
    * raise_errors when `n · max|v9|` (the worst-case |sum|, checked in
    * decimal) could exceed Long — both guard inputs are correct even
    * when a sum has wrapped, so a wrapped sum can never escape. For
    * unit-normalized embeddings (|v| ≤ 1 → |v9| ≤ 1e9) the ceiling is
    * ~9.2e9 rows per source; past it, pre-shard the source and merge
    * the (finished) centroid sums outside. Rows whose length ≠ `dims`
    * are EXCLUDED (fixed-dims contract; [[embeddingHealth]] is the
    * ragged-dims alarm). */
  def sourceAffinity(embs: DataFrame, vec: Column, grp: Column,
                     dims: Int): DataFrame =
    sourceAffinityFinish(sourceAffinityRaw(embs, vec, grp, dims), dims)

  /** The MERGEABLE wide state behind [[sourceAffinity]] — one row per
    * source: `(src, n, smax, s0..s{dims−1})`, every column associative
    * (count sum, max, long component sums), so per-batch raw tables
    * fold exactly under any arrival split: the grain
    * `streaming/AffinityStream` maintains. The overflow guard lives in
    * the FINISH (its inputs n and smax merge correctly even when a
    * component sum has already wrapped, so a wrapped sum still cannot
    * escape a later read). */
  def sourceAffinityRaw(embs: DataFrame, vec: Column, grp: Column,
                        dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val v = vec.cast("array<double>")
    // snap the whole row ONCE (one O(dims) pass), then pick columns off
    // the materialized long array — per-column element_at over the raw
    // vector would re-run the float→double cast dims× per row
    val snapped = embs.select(grp.as("src"),
      transform(v, x => round(x * 1e9).cast("long")).as("v9"))
      .filter(size(col("v9")) === dims)
    val base = snapped.select(col("src") +:
      array_max(transform(col("v9"), x => abs(x))).as("vmax") +:
      (0 until dims).map(i =>
        element_at(col("v9"), i + 1).as(s"v$i")): _*)
    val aggs = Seq(count(lit(1)).as("n"), max(col("vmax")).as("smax")) ++
      (0 until dims).map(i => sum(col(s"v$i")).as(s"s$i"))
    base.groupBy(col("src")).agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse unioned raw affinity rows to one per source (the stream's
    * per-batch fold over state ∪ batch). */
  def sourceAffinityMerge(raw: DataFrame, dims: Int): DataFrame = {
    val aggs = Seq(sum(col("n")).as("n"), max(col("smax")).as("smax")) ++
      (0 until dims).map(i => sum(col(s"s$i")).as(s"s$i"))
    raw.groupBy(col("src")).agg(aggs.head, aggs.tail: _*)
  }

  /** Finish a raw affinity state into the reported pair panel. */
  def sourceAffinityFinish(wide: DataFrame, dims: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val guarded = wide.withColumn("s0",
      when(col("n").cast(dec) * col("smax").cast(dec) >=
        lit(Long.MaxValue).cast(dec),
        raise_error(concat(lit("sourceAffinity: source "),
          col("src").cast("string"),
          lit(" could overflow the Long component sums (n*max|v9| = "),
          (col("n").cast(dec) * col("smax").cast(dec)).cast("string"),
          lit("); pre-shard the source and merge centroids outside"))))
        .otherwise(col("s0")))
    val byDim = guarded.select(col("src"), col("n"),
      posexplode(array((0 until dims).map(i => col(s"s$i")): _*))
        .as(Seq("dim", "s9")))
      .filter(col("n") > 0)
    val cent = byDim.select(col("src"), col("dim"),
      round(col("s9").cast("double") / 1e9 /
        col("n").cast("double") * 1e6).cast("long").as("m6"))
    val norms = cent.groupBy(col("src"))
      .agg(sum((col("m6") * col("m6")).cast("decimal(38,0)"))
        .as("nn"))
    val a = cent.select(col("src").as("src_a"), col("dim"),
      col("m6").as("ma"))
    val b = cent.select(col("src").as("src_b"), col("dim"),
      col("m6").as("mb"))
    val dots = a.join(b, Seq("dim"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum((col("ma") * col("mb")).cast("decimal(38,0)"))
        .as("dot"))
    dots
      .join(broadcast(norms.select(col("src").as("src_a"),
        col("nn").as("nn_a"))), Seq("src_a"))
      .join(broadcast(norms.select(col("src").as("src_b"),
        col("nn").as("nn_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        when(col("nn_a") === 0 || col("nn_b") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("dot").cast("double") /
            (sqrt(col("nn_a").cast("double")) *
              sqrt(col("nn_b").cast("double"))), 6)).as("cos"))
  }
}
