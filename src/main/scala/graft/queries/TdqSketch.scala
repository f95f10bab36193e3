package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TimeExprs, VectorExprs}
import graft.operators.{CacheHygiene, Dedup, NearDup, Similarity}
import graft.sources.Tables

/** Bounded-state sketches: KMV, quantile, count-min, HyperLogLog, heavy hitters, column profile.
  *
  * One domain slice of the query registry (split from the single-file
  * registry in round 15 — same members, same semantics). Members are
  * `private[queries]` so cross-domain references keep working; `val`s
  * became `lazy val`s so initialization is order-independent across the
  * trait mix-in. Mixed into [[TestdataQueries]], which owns the maps.
  */
private[queries] trait TdqSketch { this: TestdataQueries.type =>

  // --------------------------------------- KMV distinct sketch (§2.10 ext)
  // Mergeable bounded-memory cardinality estimate over l_partkey. The
  // portable polynomial hash makes the k-set — and so the ESTIMATE itself —
  // a deterministic function of the data: the oracle rebuilds the same
  // k smallest distinct hashes and the same arithmetic, bit for bit
  // (something `approx_count_distinct`'s HLL can never offer an oracle).
  private[queries] lazy val q56K = 512

  private[queries] def q56KmvDistinct(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketch.kmvDistinct(
      Tables.lineitem(s, d), col("l_partkey"), q56K)

  private[queries] lazy val q56Sql = {
    val raw = "list_reduce(list_transform(string_split(CAST(l_partkey AS VARCHAR), ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    // the two bijective mix rounds of Sketch.kmvDistinct, verbatim
    val h = s"((($raw * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    s"""WITH hs AS (SELECT DISTINCT $h AS h FROM lineitem),
       |sk AS (SELECT h FROM hs ORDER BY h LIMIT $q56K)
       |SELECT $q56K AS k, count(*) AS n_in_sketch, max(h) AS kth_min,
       |  round(CASE WHEN count(*) < $q56K THEN CAST(count(*) AS DOUBLE)
       |        ELSE ${(q56K - 1).toDouble} * 1000000007.0 / CAST(max(h) AS DOUBLE)
       |        END, 4) AS est_distinct
       |FROM sk""".stripMargin
  }

  // ------------------------------- exact heavy hitters (§2.10 ext)
  // Hot-token mining over the corpus: per-partition Misra-Gries candidates
  // (bounded memory, candidates-only shuffle) + exact recount. The sketch
  // in the middle is invisible to the oracle: with minShare above the MG
  // guarantee the output is EXACTLY the GROUP BY / HAVING set.
  private[queries] lazy val q58MinShare = 0.02

  private[queries] def q58HeavyHitters(s: SparkSession, d: String): DataFrame =
    graft.operators.Frequent.heavyHitters(
      Tables.documents(s, d)
        .select(explode(TextExprs.tokens(col("text"))).as("item")),
      col("item"), minShare = q58MinShare, counters = 256)

  private[queries] lazy val q58Sql =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS item
       |  FROM documents WHERE length(trim(text)) > 0),
       |tot AS (SELECT count(*) AS n_total FROM toks)
       |SELECT item, count(*) AS cnt, (SELECT n_total FROM tot) AS n_total
       |FROM toks GROUP BY item
       |HAVING count(*) >=
       |  CAST(ceil($q58MinShare * (SELECT n_total FROM tot)) AS BIGINT)""".stripMargin

  // ------------------------- per-group KMV sketch (§2.10 ext)
  // Distinct users per event type as a mergeable sketch aggregation: one
  // k-bounded set per (partition, group) — the full distinct (group, key)
  // set never shuffles, which is the entire point at 100 TB. Same
  // portable hash as q56, so the per-group k-sets — and the estimates —
  // are bit-for-bit oracle-checkable.
  private[queries] lazy val q64K = 64

  private[queries] def q64KmvByGroup(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketch.kmvDistinctByGroup(
      Tables.events(s, d), col("event_type"), col("user_id"), q64K)

  private[queries] lazy val q64Sql = {
    val raw = "list_reduce(list_transform(string_split(CAST(user_id AS VARCHAR), ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val h = s"((($raw * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type AS grp, $h AS h FROM events
       |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
       |sk AS (SELECT grp, h,
       |       row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM hs)
       |SELECT grp, $q64K AS k, count(*) AS n_in_sketch, max(h) AS kth_min,
       |  round(CASE WHEN count(*) < $q64K THEN CAST(count(*) AS DOUBLE)
       |        ELSE ${(q64K - 1).toDouble} * 1000000007.0 / CAST(max(h) AS DOUBLE)
       |        END, 4) AS est_distinct
       |FROM sk WHERE r <= $q64K GROUP BY grp""".stripMargin
  }

  // ------------------- incremental KMV over micro-batches (§2.10 ext)
  // The sketch counterpart of q57: lineitem arrives as 3 batches, each
  // merged into a k-long parquet state. KMV merge is associative
  // union-truncate, so the final state — and the estimate — is
  // BIT-IDENTICAL to the batch sketch for any arrival split: q65 shares
  // q56's oracle verbatim.
  private[queries] def q65StreamingKmv(s: SparkSession, d: String): DataFrame = {
    val state = CacheHygiene.tempDir("kmv_stream") + "/state"
    StreamSim.modSplits(Tables.lineitem(s, d), col("l_orderkey")).foreach { b =>
      graft.operators.Sketch.kmvIngestBatch(b, col("l_partkey"), q56K, state)
    }
    graft.operators.Sketch.kmvFromState(s, state, q56K)
  }

  // ------------------- deterministic quantile sketch (§2.10 ext)
  // Bottom-k-by-portable-hash row sample → exact rank pick: a mergeable
  // quantile estimator (O(1/√k) rank error) whose sample — and therefore
  // every estimate — is a deterministic function of the data, so the
  // oracle rebuilds it exactly. Complements q56/q64 (distinct count) and
  // q58 (heavy hitters) in the sketch family.
  private[queries] lazy val q67K = 256
  private[queries] lazy val q67Probs = Seq(0.5, 0.9, 0.99)

  private[queries] def q67QuantileSketch(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketch.quantileSketch(
      Tables.lineitem(s, d), col("l_extendedprice"),
      col("l_orderkey") * 10 + col("l_linenumber"), q67K, q67Probs)

  private[queries] lazy val q67Sql = {
    val raw = "list_reduce(list_transform(string_split(" +
      "CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val h = s"((($raw * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    val vals = q67Probs.map(p => s"(CAST($p AS DOUBLE))").mkString(", ")
    s"""WITH hv AS (
       |  SELECT DISTINCT $h AS h, CAST(l_extendedprice AS DOUBLE) AS v
       |  FROM lineitem),
       |sel AS (SELECT h, v, row_number() OVER (ORDER BY h, v) AS rn FROM hv
       |        QUALIFY rn <= $q67K),
       |s AS (SELECT v, row_number() OVER (ORDER BY v, h) AS qrn FROM sel),
       |n AS (SELECT max(qrn) AS n_sample FROM s)
       |SELECT p.prob, s.v AS est_value,
       |  CAST(n.n_sample AS BIGINT) AS n_sample, $q67K AS k
       |FROM (VALUES $vals) p(prob) CROSS JOIN n
       |JOIN s ON s.qrn = CAST(ceil(p.prob * n.n_sample) AS INTEGER)""".stripMargin
  }

  // ----------------------------- count-min sketch (§2.10 ext)
  // Point-frequency estimation over the token stream: depth×width bounded
  // counters (the shuffle is O(depth×width), never O(tokens)), probes
  // replayed through the same affine hash rows, est >= exact by
  // construction. The oracle rebuilds every counter from the portable
  // fingerprint — a frequency sketch you can hash-check.
  private[queries] lazy val q70Depth = 3
  private[queries] lazy val q70Width = 16 // narrow on purpose: collisions make est > exact visible
  private[queries] lazy val q70Probes =
    Seq("table", "spark", "the", "vector", "unseen_token_xyz")

  private[queries] def q70CountMin(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextExprs.tokens(col("text"))).as("tok"))
    graft.operators.Sketch.countMinEstimates(
      toks, col("tok"), q70Depth, q70Width, q70Probes)
  }

  private[queries] lazy val q70Sql = {
    def poly(c: String) =
      s"list_reduce(list_transform(string_split($c, ''), " +
        "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val hp = graft.operators.Sketch.countMinHashParams.take(q70Depth)
      .zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val pr = q70Probes.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
       |  FROM documents),
       |hp(i, a, b) AS (VALUES $hp),
       |fp AS (SELECT tok, ${poly("tok")} AS f FROM toks),
       |cnt AS (SELECT i, ((f * a + b) % 1000000007) % $q70Width AS bucket,
       |      count(*) AS c
       |    FROM fp CROSS JOIN hp GROUP BY 1, 2),
       |pr(token) AS (VALUES $pr),
       |pb AS (SELECT token, i,
       |      ((${poly("token")} * a + b) % 1000000007) % $q70Width AS bucket
       |    FROM pr CROSS JOIN hp),
       |est AS (SELECT token, min(coalesce(c, 0)) AS est
       |    FROM pb LEFT JOIN cnt USING (i, bucket) GROUP BY token),
       |ex AS (SELECT tok AS token, count(*) AS exact FROM toks GROUP BY 1)
       |SELECT token, est, coalesce(exact, 0) AS exact
       |FROM est LEFT JOIN ex USING (token)""".stripMargin
  }

  // ----------------- per-window heavy hitters / trending (§2.10 ext)
  // Hot users per day-window of the event stream: Misra-Gries per
  // (partition, window) with a fully relational candidate/threshold
  // path — no driver summary — and an exact recount, so the output IS
  // the per-window GROUP BY/HAVING the oracle runs.
  private[queries] lazy val q80WindowSec = 86400L
  private[queries] lazy val q80MinShare = 0.02

  private[queries] def q80TrendingUsers(s: SparkSession, d: String): DataFrame =
    graft.operators.Frequent.heavyHittersByWindow(
      Tables.events(s, d), col("ts"), col("user_id"),
      q80WindowSec, q80MinShare, counters = 128)

  private[queries] lazy val q80Sql =
    s"""WITH w AS (SELECT CAST(floor(epoch(ts)/$q80WindowSec) AS BIGINT)*$q80WindowSec AS w_start,
       |    CAST(user_id AS VARCHAR) AS item FROM events),
       |t AS (SELECT w_start, count(*) AS n_total FROM w GROUP BY 1),
       |c AS (SELECT w_start, item, count(*) AS cnt FROM w GROUP BY 1, 2)
       |SELECT c.w_start, item, cnt, n_total FROM c JOIN t USING (w_start)
       |WHERE cnt >= CAST(ceil($q80MinShare * n_total) AS BIGINT)""".stripMargin

  // -------------------- per-group quantile sketch (§2.10 ext)
  // Price quantiles per return flag at sketch cost: one k-bounded
  // (hash, value) set per (partition, group) — the same sketch-by-key
  // contract as q64 — with every window PARTITIONED BY group. The
  // oracle replays the identical per-group sample.
  private[queries] lazy val q81K = 128

  private[queries] def q81QuantilesByGroup(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketch.quantileSketchByGroup(
      Tables.lineitem(s, d), col("l_returnflag"), col("l_extendedprice"),
      col("l_orderkey") * 10 + col("l_linenumber"), q81K, q67Probs)

  private[queries] lazy val q81Sql = {
    val raw = "list_reduce(list_transform(string_split(" +
      "CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val h = s"((($raw * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    val pv = q67Probs.map(p => s"($p)").mkString(", ")
    s"""WITH hv AS (SELECT l_returnflag AS grp, $h AS h,
       |      CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
       |d AS (SELECT DISTINCT grp, h, v FROM hv),
       |r AS (SELECT grp, h, v, row_number() OVER (
       |        PARTITION BY grp ORDER BY h, v) AS rn FROM d),
       |s AS (SELECT grp, h, v, row_number() OVER (
       |        PARTITION BY grp ORDER BY v, h) AS qrn
       |      FROM r WHERE rn <= $q81K),
       |n AS (SELECT grp, max(qrn) AS n_sample FROM s GROUP BY grp),
       |p(prob) AS (VALUES $pv)
       |SELECT s.grp, prob, v AS est_value,
       |  CAST(n.n_sample AS BIGINT) AS n_sample, $q81K AS k
       |FROM p CROSS JOIN n JOIN s ON s.grp = n.grp
       |  AND s.qrn = CAST(ceil(prob * n.n_sample) AS INTEGER)""".stripMargin
  }

  // ----------------------------- HyperLogLog distinct (§2.10 ext)
  // Register-based distinct sibling of the KMV family (q56/q64): fixed
  // 2^p registers, max-mergeable, fully relational. The oracle replays
  // the ESTIMATE — register index/rank are integer+bin() ops on the
  // portable hash, and the harmonic denominator is an exact dyadic sum.
  private[queries] lazy val q127P = 8

  private[queries] def q127HllDistinct(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketch.hllDistinctByGroup(
      Tables.documents(s, d).select(col("source"),
        explode(TextExprs.tokens(col("text"))).as("tok")),
      col("source"), col("tok"), q127P)
      .select(col("grp").as("source"), col("regs_hit"), col("est_distinct"))

  private[queries] lazy val q127Sql = {
    val m = 1 << q127P
    val wBits = 64 - java.lang.Long.numberOfLeadingZeros(
      (1000000007L - 1L) / m)
    val w1 = wBits + 1
    val alpha = s"CAST(${0.7213 / (1.0 + 1.079 / m)} AS DOUBLE)"
    val mD = s"CAST($m.0 AS DOUBLE)"
    val thr = s"CAST(${2.5 * m} AS DOUBLE)"
    val poly = "list_reduce(list_transform(string_split(tok, ''), " +
      "c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 1000000007)"
    val mh = s"((($poly * 1103515245 + 12345) % 1000000007) * 2654435761) % 1000000007"
    s"""WITH tk AS (
       |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |h AS (SELECT source, $mh AS mh FROM tk),
       |r AS (SELECT source, mh % $m AS reg, mh // $m AS q FROM h),
       |rg AS (SELECT source, reg,
       |      max(CASE WHEN q = 0 THEN $w1 ELSE $w1 - len(bin(q)) END) AS mrho
       |    FROM r GROUP BY source, reg),
       |e AS (SELECT source, count(*) AS regs_hit,
       |      (($mD - CAST(count(*) AS DOUBLE)) +
       |        sum(pow(2.0, -CAST(mrho AS DOUBLE)))) AS den,
       |      $m - count(*) AS v
       |    FROM rg GROUP BY source)
       |SELECT source, regs_hit,
       |  round(CASE WHEN (($alpha * $mD) * $mD) / den <= $thr AND v > 0
       |        THEN $mD * ln($mD / CAST(v AS DOUBLE))
       |        ELSE (($alpha * $mD) * $mD) / den END, 4) AS est_distinct
       |FROM e""".stripMargin
  }

  // ------------------- column profile (§2.10 ext)
  // The Deequ-style schema-health panel: per column, exact null rate,
  // exact distinct count, min/max — one scan (Expand-planned
  // multi-distinct), one metadata explode.
  private[queries] lazy val q223Cols = Seq("doc_id", "lang", "source", "n_chars")

  private[queries] def q223ColumnProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.Datasheet.columnProfile(Tables.documents(s, d),
      q223Cols)

  private[queries] lazy val q223Sql = {
    val aggs = q223Cols.zipWithIndex.map { case (c, i) =>
      s"CAST(count($c) AS BIGINT) AS np$i, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS nd$i,\n" +
        s"    CAST(min($c) AS VARCHAR) AS mn$i, " +
        s"CAST(max($c) AS VARCHAR) AS mx$i"
    }.mkString(",\n    ")
    val rows = q223Cols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS "column", n_rows, n_rows - np$i AS n_null,
         |  round(CAST(n_rows - np$i AS DOUBLE) /
         |    CAST(n_rows AS DOUBLE), 6) AS null_rate,
         |  nd$i AS n_distinct, mn$i AS min_value, mx$i AS max_value
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    $aggs
       |  FROM documents)
       |$rows""".stripMargin
  }
}
