package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TimeExprs, VectorExprs}
import graft.operators.{CacheHygiene, Dedup, NearDup, Similarity}
import graft.sources.Tables

/** Relational/reference surface: aggregation, the deep join tree, filters, scalar projections, dedup/diff analogs, windows, pivot, formats.
  *
  * One domain slice of the query registry (split from the single-file
  * registry in round 15 — same members, same semantics). Members are
  * `private[queries]` so cross-domain references keep working; `val`s
  * became `lazy val`s so initialization is order-independent across the
  * trait mix-in. Mixed into [[TestdataQueries]], which owns the maps.
  */
private[queries] trait TdqCore { this: TestdataQueries.type =>

  // ---------------------------------------------------------------- A3 / P1
  // Grouped aggregation over the fact table (per-poll count metrics analog).
  private[queries] def q1Agg(s: SparkSession, d: String): DataFrame =
    q1Body(Tables.lineitem(s, d))

  private def q1Body(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_rows"))

  private[queries] lazy val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------- J1–J10 / F1
  // Deep join tree: inner facts + left-joined dims, with a WHERE predicate on
  // a left-joined column (replicates the reference's F1-converts-J2-to-inner
  // interplay, cancellations_current_future.sql:32). Dims are broadcast.
  private[queries] def q2JoinTree(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(col("p_size") > 10 && col("s_acctbal") > 0 &&
        col("r_name").isNotNull)
      .groupBy("r_name", "o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))

  private[queries] lazy val q2Sql =
    """SELECT r_name, o_orderpriority, count(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN part     ON l_partkey = p_partkey
      |WHERE p_size > 10 AND s_acctbal > 0 AND r_name IS NOT NULL
      |GROUP BY r_name, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- F2–F6
  // Temporal-validity OR-branch + IN-list + null checks (snapshot predicate
  // analog of cancellations_current_future.sql:33–38).
  private[queries] def q3Filters(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(
        (col("o_orderdate") > lit("1996-01-01").cast("timestamp")
          || (col("o_orderstatus") === "F"
            && col("o_orderdate") >= lit("1994-06-01").cast("timestamp")))
          && col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          && col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))

  private[queries] lazy val q3Sql =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM orders
      |WHERE (o_orderdate > TIMESTAMP '1996-01-01'
      |       OR (o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '1994-06-01'))
      |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_custkey IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------- P2–P8
  // Scalar projection pack: fixed-char cast, substring digit extract,
  // string→int cast, style-112 date, zero-pad, service-day time (>24h safe).
  private[queries] def q4Scalars(s: SparkSession, d: String): DataFrame = {
    val ts = col("ts").cast("timestamp")
    // base = midnight of the previous day → hours in 24..47, exercising the
    // no-mod-24 semantics (cancellations_current_future.sql:17–19).
    val base = date_trunc("day", ts) - expr("INTERVAL 1 DAY")
    Tables.events(s, d).select(
      col("event_id"),
      col("event_id").cast("string").as("id_str"),
      substring(col("event_id").cast("string"), 1, 1).cast("int").as("first_digit"),
      TimeExprs.style112(ts).as("day112"),
      TimeExprs.zeroPad2(dayofmonth(ts)).as("dom_padded"),
      TimeExprs.serviceDayTime(base, ts).as("service_time"))
  }

  private[queries] lazy val q4Sql =
    """SELECT event_id,
      |  CAST(event_id AS VARCHAR) AS id_str,
      |  CAST(substring(CAST(event_id AS VARCHAR), 1, 1) AS INTEGER) AS first_digit,
      |  strftime(ts, '%Y%m%d') AS day112,
      |  lpad(CAST(day(ts) AS VARCHAR), 2, '0') AS dom_padded,
      |  lpad(CAST(((epoch_ms(ts::TIMESTAMP) - epoch_ms(date_trunc('day', ts::TIMESTAMP) - INTERVAL 1 DAY)) // 60000) // 60 AS VARCHAR), 2, '0')
      |    || ':' || lpad(CAST(((epoch_ms(ts::TIMESTAMP) - epoch_ms(date_trunc('day', ts::TIMESTAMP) - INTERVAL 1 DAY)) // 60000) % 60 AS VARCHAR), 2, '0')
      |    || ':00' AS service_time
      |FROM events""".stripMargin

  // ------------------------------------------------------------------- A1
  // Grouped priority dedup ≙ filterDuplicates (OmmCancellationHandler.java:
  // 168–204): per user, 'error' events (≙ CANCELED) beat others (≙ RUNNING),
  // then latest ts, then smallest event_id (deterministic total order).
  private[queries] def q5PriorityDedup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val priority = when(col("event_type") === "error", 0).otherwise(1)
    Dedup.priorityDedup(ev, Seq("user_id"), priority,
        col("ts"), col("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
  }

  private[queries] lazy val q5Sql =
    """SELECT user_id, event_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id
      |    ORDER BY (CASE WHEN event_type = 'error' THEN 0 ELSE 1 END),
      |             ts DESC, event_id) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------------- A2
  // Batch-over-batch diff ≙ logChangesInCancellations: split events at a ts
  // midpoint, count users new-vs-repeated in the second half.
  // events span 2024-01-01 .. 2024-01-30; split after week 1 so the "current
  // batch" genuinely contains both repeated and (at key granularity
  // user×type) new keys.
  private[queries] lazy val splitTs = "2024-01-08"

  private[queries] def q6BatchDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val prev = ev.filter(col("ts") < lit(splitTs).cast("timestamp"))
    val curr = ev.filter(col("ts") >= lit(splitTs).cast("timestamp"))
    Dedup.batchDiffCounts(curr, prev, "user_id")
  }

  private[queries] lazy val q6Sql =
    s"""SELECT
       |  count(CASE WHEN p.user_id IS NULL THEN 1 END) AS new_keys,
       |  count(CASE WHEN p.user_id IS NOT NULL THEN 1 END) AS repeated_keys
       |FROM (SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '$splitTs') c
       |LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '$splitTs') p
       |  USING (user_id)""".stripMargin

  // Change capture rows: current-batch rows whose key is absent from prev.
  private[queries] def q7NewRows(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val prev = ev.filter(col("ts") < lit(splitTs).cast("timestamp"))
    val curr = ev.filter(col("ts") >= lit(splitTs).cast("timestamp"))
    Dedup.newRows(curr, prev, Seq("user_id", "event_type"))
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n_events"))
  }

  private[queries] lazy val q7Sql =
    s"""SELECT user_id, event_type, count(*) AS n_events
       |FROM events c WHERE ts >= TIMESTAMP '$splitTs'
       |  AND NOT EXISTS (SELECT 1 FROM events p
       |                  WHERE p.ts < TIMESTAMP '$splitTs'
       |                    AND p.user_id = c.user_id
       |                    AND p.event_type = c.event_type)
       |GROUP BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- U1–U3
  // Timezone conversions. q10 treats events.ts as Helsinki wall-clock → UTC
  // epoch-ms (≙ toUtcEpochMs); hours 2–4 filtered out on both sides to dodge
  // engine-specific DST-ambiguity resolution (the unit tests cover DST).
  private[queries] def q10TzEpoch(s: SparkSession, d: String): DataFrame = {
    val ts = col("ts").cast("timestamp")
    Tables.events(s, d)
      .filter(!hour(ts).isin(2, 3, 4))
      .select(col("event_id"),
        TimeExprs.toUtcEpochMs(ts, "Europe/Helsinki").as("epoch_ms"),
        TimeExprs.localDatetimeAsString(ts, "Europe/Helsinki").as("local_dt"),
        TimeExprs.localDateAsString(ts, "Europe/Helsinki").as("local_d"))
  }

  private[queries] lazy val q10Sql =
    """SELECT event_id,
      |  epoch_ms(timezone('Europe/Helsinki', ts::TIMESTAMP)) AS epoch_ms,
      |  strftime(timezone('Europe/Helsinki', timezone('UTC', ts::TIMESTAMP)),
      |           '%Y-%m-%d %H:%M:%S') AS local_dt,
      |  strftime(timezone('Europe/Helsinki', timezone('UTC', ts::TIMESTAMP)),
      |           '%Y-%m-%d') AS local_d
      |FROM events WHERE hour(ts) NOT IN (2, 3, 4)""".stripMargin

  // ------------------------------------------------------------------- U5
  // Status derivation (deleted→RUNNING else CANCELED analog), aggregated.
  private[queries] def q11Status(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        when(lower(col("event_type")) === "error", "RUNNING")
          .otherwise("CANCELED").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))

  private[queries] lazy val q11Sql =
    """SELECT CASE WHEN lower(event_type) = 'error' THEN 'RUNNING'
      |            ELSE 'CANCELED' END AS status, count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- U4/F8
  // Enum allow-list row-drop with side-output counts (≙ Hand:161–163).
  private[queries] lazy val eventAllowList = Seq("click", "view", "purchase", "signup")

  private[queries] def q12EnumReject(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(when(col("event_type").isin(eventAllowList.map(lit): _*),
        "kept").otherwise("rejected").as("disposition"))
      .groupBy("disposition").agg(count(lit(1)).as("n"))

  private[queries] lazy val q12Sql =
    """SELECT CASE WHEN event_type IN ('click','view','purchase','signup')
      |            THEN 'kept' ELSE 'rejected' END AS disposition, count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------- O1
  // Sink-boundary sort (ORDER BY last_modified analog). The driver hashes
  // sorted rows, so the *global sort* is exercised in bench; correctness
  // checks content equality.
  private[queries] def q13Sort(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od"))

  private[queries] lazy val q13Sql =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od
      |FROM orders ORDER BY o_orderdate, o_orderkey""".stripMargin

  // ------------------------------------------------------- window extension
  // Top-3 orders per customer (window top-k, §2.7 extension surface).
  private[queries] def q14TopN(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
  }

  private[queries] lazy val q14Sql =
    """SELECT o_custkey, rank, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY o_custkey
      |        ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |      FROM orders) WHERE rank <= 3""".stripMargin

  // ------------------------------------------------------------- JSON props
  // Regex field extraction from the events.props JSON blob (kept regex-based
  // so the oracle needs no DuckDB JSON extension).
  private[queries] def q24PropsExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))

  private[queries] lazy val q24Sql =
    """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // ------------------------------------------------------- running window
  private[queries] def q25RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("running_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("running_n"))
  }

  private[queries] lazy val q25Sql =
    """SELECT event_id, user_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS running_n
      |FROM events""".stripMargin

  // ---------------------------------------------- skew salting + windows
  // Salted two-phase count: identical result to a plain GROUP BY — the
  // oracle IS the plain GROUP BY.
  private[queries] def q33SaltedCount(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.saltedCount(
      Tables.events(s, d).select("user_id", "event_type"),
      Seq("user_id", "event_type"), saltFactor = 8)

  private[queries] lazy val q33Sql =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY user_id, event_type""".stripMargin

  private[queries] def q34SaltedJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.saltedJoin(
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_quantity"),
      Tables.supplier(s, d).select("s_suppkey", "s_name"),
      "l_suppkey", "s_suppkey", saltFactor = 8)
      .groupBy("s_name")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))

  private[queries] lazy val q34Sql =
    """SELECT s_name, count(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name""".stripMargin

  // Event-time tumbling window aggregation (batch mode of the streaming
  // operator; Spark windows and DuckDB time_bucket are both epoch-aligned).
  private[queries] def q35WindowedCounts(s: SparkSession, d: String): DataFrame =
    graft.streaming.WindowedStats.tumblingCounts(
      Tables.events(s, d), "ts", "event_type", "6 hours", "1 hour")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n"))

  private[queries] lazy val q35Sql =
    """SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS ws,
      |  event_type, count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  // ----------------------------------------- §2.7 surface (free from Spark)
  // Rollup (grouping-set aggregation): subtotals + grand total.
  private[queries] def q37Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  private[queries] lazy val q37Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  // Set operators: EXCEPT / INTERSECT / UNION over customer key sets.
  private[queries] def q38SetOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
    val failed = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
    open.except(failed).withColumn("tag", lit("open_only"))
      .union(open.intersect(failed).withColumn("tag", lit("both")))
  }

  private[queries] lazy val q38Sql =
    """SELECT o_custkey, 'open_only' AS tag FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |UNION ALL
      |SELECT o_custkey, 'both' AS tag FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin

  // Structured JSON parsing (from_json → typed struct, vs q24's regex path).
  private[queries] def q39FromJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k").cast("long")).as("sum_k"), count(lit(1)).as("n"))

  private[queries] lazy val q39Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // Exact percentiles (deterministic, unlike approx sketches — oracle-able).
  private[queries] def q40Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_extendedprice, array(0.25, 0.75))").as("p_price"))
      .select(col("l_returnflag"), round(col("p50_qty"), 4).as("p50_qty"),
        round(col("p_price")(0), 4).as("p25_price"),
        round(col("p_price")(1), 4).as("p75_price"))

  private[queries] lazy val q40Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // Edit-distance near-dup pairs (the 5th dedup family) at FULL documents
  // cardinality: char-8-gram blocker → exact levenshtein verify over
  // 40-char prefixes (NearDup.editDistancePairs — no cross join, no row
  // cap; the old registration silently capped at doc_id < 500 with an
  // all-pairs join). The oracle encodes the identical blocker semantics.
  private[queries] def q41EditDistance(s: SparkSession, d: String): DataFrame =
    NearDup.editDistancePairs(Tables.documents(s, d), col("doc_id"),
      col("text"), prefixLen = 40, q = 8, maxDist = 12, maxPostings = 200)

  private[queries] lazy val q41Sql =
    """WITH p AS (
      |  SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents
      |  WHERE length(trim(substring(text, 1, 40))) > 0),
      |g0 AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substring(np, i, 8) for i in range(1, greatest(len(np) - 7, 1) + 1)]
      |  )) AS gram
      |  FROM (SELECT doc_id,
      |          regexp_replace(trim(prefix), '\s+', ' ', 'g') AS np FROM p)),
      |g AS (
      |  SELECT doc_id, gram FROM (
      |    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |    FROM g0) WHERE df <= 200),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  CAST(levenshtein(pa.prefix, pb.prefix) AS INTEGER) AS dist
      |FROM cand
      |JOIN p pa ON pa.doc_id = id_a
      |JOIN p pb ON pb.doc_id = id_b
      |WHERE levenshtein(pa.prefix, pb.prefix) <= 12""".stripMargin

  // ----------------------------------------------------- pivot (§2.7 ext)
  // Wide per-user event-type counts: Spark relational pivot with an
  // explicit value list (deterministic schema); absent combinations are
  // NULL, mirrored with sum-CASE in the oracle.
  private[queries] lazy val pivotTypes = Seq("click", "view", "purchase", "signup", "error")

  private[queries] def q46Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))

  private[queries] lazy val q46Sql = {
    val cols = pivotTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id""".stripMargin
  }

  // ----------------------------------------- full outer join (§2.7 surface)
  // Per-customer order counts vs lineitem supplier counts, full-outer on
  // the key so rows exclusive to either side survive with nulls.
  private[queries] def q53FullOuter(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_orders"))
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("custkey"), col("c_name"))
    o.join(c, Seq("custkey"), "full_outer")
      .select(col("custkey"), col("n_orders"), col("c_name"))
  }

  private[queries] lazy val q53Sql =
    """SELECT COALESCE(o.custkey, c.c_custkey) AS custkey, o.n_orders, c.c_name
      |FROM (SELECT o_custkey AS custkey, count(*) AS n_orders
      |      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) o
      |FULL OUTER JOIN (SELECT c_custkey, c_name FROM customer
      |                 WHERE c_acctbal > 9000) c
      |  ON o.custkey = c.c_custkey""".stripMargin

  // ------------------------------- Z-order layout key (§2.10 ext)
  // Morton interleave of (l_partkey, l_suppkey) — the file-skipping
  // layout key (Layout.writeZOrdered gives every output file a narrow
  // min/max range in BOTH columns). Registered as the key computation
  // itself: pure integer bit arithmetic, identical on any engine. The
  // quantization ranges are data min/max — a 1-row metadata agg on the
  // Spark side, scalar subqueries in the oracle.
  private[queries] lazy val q61Bits = 8

  private[queries] def q61Zorder(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // 1-row bounds collect: metadata, same class as the seed codebook
    val b = li.agg(
      min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
      min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long"))
      .collect()(0)
    li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"),
      graft.operators.Layout.zValue(col("l_partkey"), col("l_suppkey"),
        b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3),
        bits = q61Bits).as("z"))
  }

  private[queries] lazy val q61Sql = {
    val qMax = (1 << q61Bits) - 1
    val inter = (0 until q61Bits).map(i =>
      s"(((qx >> $i) & 1) << ${2 * i}) + (((qy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH r AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT) AS xlo,
       |         CAST(max(l_partkey) AS BIGINT) AS xhi,
       |         CAST(min(l_suppkey) AS BIGINT) AS ylo,
       |         CAST(max(l_suppkey) AS BIGINT) AS yhi
       |  FROM lineitem),
       |q AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    ((CAST(l_partkey AS BIGINT) - xlo) * $qMax) // (xhi - xlo) AS qx,
       |    ((CAST(l_suppkey AS BIGINT) - ylo) * $qMax) // (yhi - ylo) AS qy
       |  FROM lineitem, r)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  CAST($inter AS BIGINT) AS z
       |FROM q""".stripMargin
  }

  // ------------------------ interchange formats (§2.10 edges)
  // ORC round-trip under the q1 aggregation: lineitem is exported to ORC
  // (hive-partitioned) and read back with an EXPLICIT schema — no
  // inference job — then aggregated. Sharing q1's oracle pins that the
  // format edge is content-transparent.
  private[queries] def q79FormatRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
    val dir = CacheHygiene.tempDir("orc_rt") + "/lineitem"
    graft.sources.Formats.write(base, dir, "orc",
      partitionBy = Seq("l_returnflag"))
    q1Body(graft.sources.Formats.read(s, dir, "orc", base.schema))
  }
}
