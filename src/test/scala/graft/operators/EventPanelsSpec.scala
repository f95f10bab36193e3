package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Session association rules, the inter-arrival cadence panel, and the
  * ActiveStream event-dashboard state: hand fixtures + batch
  * equivalence. */
class EventPanelsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, String, String)*) =
    rows.toSeq.toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))

  test("associationRules: support/confidence/lift on hand sessions") {
    // u1 session1 {view, click}; u1 session2 {view} (gap > 1h);
    // u2 session1 {view, click}; u2 session2 {click} -> S = 4,
    // n(view)=3, n(click)=3, n(view,click)=2
    val df = ev(
      (1L, "u1", "view", "2024-01-01 10:00:00"),
      (2L, "u1", "click", "2024-01-01 10:10:00"),
      (3L, "u1", "view", "2024-01-01 13:00:00"),
      (4L, "u2", "view", "2024-01-01 09:00:00"),
      (5L, "u2", "click", "2024-01-01 09:30:00"),
      (6L, "u2", "click", "2024-01-01 12:00:00"))
    val got = Sessionize.associationRules(df, Seq("user_id"), col("ts"),
      col("event_id"), col("event_type"), 3600L)
      .collect().map(_.toSeq).toSet
    // support 2/4 = 0.5; confidence 2/3 = 0.666667;
    // lift (2·4)/(3·3) = 0.888889 — both directions symmetric here
    assert(got === Set(
      Seq("view", "click", 2L, 0.5, 0.666667, 0.888889),
      Seq("click", "view", 2L, 0.5, 0.666667, 0.888889)))
  }

  test("interArrival: exact median/p90 of same-user gaps, attributed " +
    "to the later event's type") {
    // u1 gaps: 600 s (to click), 10200 s (to view);
    // u2 gap: 1800 s (to click) -> click gaps {600, 1800}, view {10200}
    val df = ev(
      (1L, "u1", "view", "2024-01-01 10:00:00"),
      (2L, "u1", "click", "2024-01-01 10:10:00"),
      (3L, "u1", "view", "2024-01-01 13:00:00"),
      (4L, "u2", "view", "2024-01-01 09:00:00"),
      (5L, "u2", "click", "2024-01-01 09:30:00"))
    val got = Sessionize.interArrival(df, Seq("user_id"), col("ts"),
      col("event_id"), col("event_type"))
      .collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq("click", 2L, 1200.0, 1680.0),
      Seq("view", 1L, 10200.0, 10200.0)))
  }

  test("interArrival: null keys are dropped, not lumped into one " +
    "pseudo-user window") {
    val df = ev(
      (1L, "u1", "view", "2024-01-01 10:00:00"),
      (2L, "u1", "click", "2024-01-01 10:10:00"),
      // two unrelated key-less events 1 s apart: the old behavior
      // manufactured a 1 s "click" gap between them
      (3L, null, "view", "2024-01-01 11:00:00"),
      (4L, null, "click", "2024-01-01 11:00:01"))
    val got = Sessionize.interArrival(df, Seq("user_id"), col("ts"),
      col("event_id"), col("event_type"))
      .collect().map(_.toSeq).toSet
    assert(got === Set(Seq("click", 1L, 600.0, 600.0)))
  }

  test("abTest: EMPTY corpus yields the documented degenerate row " +
    "(zero counts, null z, significant=false), not nulls") {
    val df = ev((1L, "u1", "view", "2024-01-01 10:00:00"))
      .filter(col("event_id") < 0L)
    val r = Funnel.abTest(df, col("user_id"), col("event_type"),
      "purchase").collect()
    assert(r.length === 1)
    assert(r.head.toSeq === Seq(0L, 0L, 0L, 0L, null, null, null, false))
  }

  test("abTest: buckets partition the keys, the z finish replays from " +
    "the emitted counts, no-conversion corpus yields null z") {
    val rows = (1 to 10).flatMap { u =>
      val base = Seq((u * 10L, s"u$u", "view", "2024-01-01 10:00:00"))
      if (u % 3 == 0)
        base :+ ((u * 10L + 1L, s"u$u", "purchase", "2024-01-01 11:00:00"))
      else base
    }
    val df = ev(rows: _*)
    val r = Funnel.abTest(df, col("user_id"), col("event_type"),
      "purchase").collect().head
    val (na, nb, ca, cb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(na + nb === 10L && ca + cb === 3L && na > 0 && nb > 0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    assert(r.getDouble(4) === r6(pa) && r.getDouble(5) === r6(pb))
    val pool = (ca + cb).toDouble / (na + nb)
    val se = math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    val z = (pa - pb) / se
    assert(r.getDouble(6) ===
      BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getBoolean(7) === (math.abs(z) > 1.96))
    // no conversions anywhere: pooled rate 0 -> no variance, null z
    val none = Funnel.abTest(df.filter(col("event_type") =!= "purchase"),
      col("user_id"), col("event_type"), "purchase").collect().head
    assert(none.get(6) == null && none.getBoolean(7) === false)
  }

  test("AbTestStream: accumulated verdict equals one-shot under any " +
    "split, redeliveries fold away") {
    val rows = (1 to 10).flatMap { u =>
      val base = Seq((u * 10L, s"u$u", "view", "2024-01-01 10:00:00"))
      if (u % 3 == 0)
        base :+ ((u * 10L + 1L, s"u$u", "purchase", "2024-01-01 11:00:00"))
      else base
    }
    val df = ev(rows: _*)
    val oneShot = Funnel.abTest(df, col("user_id"), col("event_type"),
      "purchase").collect().map(_.toSeq).toSet
    val state = CacheHygiene.tempDir("ab_spec")
    // batch 2 redelivers batch 1's events entirely — max-merge folds it
    Seq(df.filter(col("event_id") % 2 === 0),
        df.filter(col("event_id") % 2 === 0),
        df.filter(col("event_id") % 2 === 1)).foreach { b =>
      graft.streaming.AbTestStream.ingestBatch(spark, b,
        col("user_id"), col("event_type"), "purchase", state)
    }
    val streamed = graft.streaming.AbTestStream.readVerdict(spark, state)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot && oneShot.nonEmpty)
  }

  test("funnelBySplit: bucket funnels partition the unsplit funnel's " +
    "stage counts") {
    val df = ev(
      (1L, "u1", "view", "2024-01-01 10:00:00"),
      (2L, "u1", "click", "2024-01-01 10:05:00"),
      (3L, "u1", "purchase", "2024-01-01 10:10:00"),
      (4L, "u2", "view", "2024-01-01 09:00:00"),
      (5L, "u2", "click", "2024-01-01 09:30:00"),
      (6L, "u3", "view", "2024-01-01 08:00:00"),
      (7L, "u4", "click", "2024-01-01 08:00:00"))
    val stages = Seq("view", "click", "purchase")
    val whole = Funnel.funnel(df, col("user_id"), col("ts"),
      col("event_type"), stages)
      .select(col("stage_idx"), col("n_keys"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val split = Funnel.funnelBySplit(df, col("user_id"), col("ts"),
      col("event_type"), stages)
    val summed = split.groupBy(col("stage_idx"))
      .agg(sum(col("n_keys")).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(summed === whole)
    assert(split.select(col("bucket")).distinct().count() <= 2L)
  }

  test("ActiveStream: both accumulated states equal one-shot under any " +
    "split, including duplicate deliveries") {
    val df = ev(
      (1L, "u1", "view", "2024-01-01 10:00:00"),
      (2L, "u1", "click", "2024-01-02 10:00:00"),
      (3L, "u2", "view", "2024-01-01 11:00:00"),
      (4L, "u2", "view", "2024-01-09 11:00:00"),
      (5L, "u3", "click", "2024-01-09 12:00:00"))
    val oneShotA = Funnel.activeUsers(df, col("user_id"), col("ts"), 7)
      .collect().map(_.toSeq).toSet
    val oneShotV = Funnel.volumeAnomaly(df, col("event_type"),
      col("ts"), 2.0).collect().map(_.toSeq).toSet
    val state = CacheHygiene.tempDir("act_spec")
    Seq(Seq(1L, 3L), Seq(2L, 4L), Seq(5L)).foreach { ids =>
      graft.streaming.ActiveStream.ingestBatch(spark,
        df.filter(col("event_id").isin(ids.map(lit): _*)),
        col("user_id"), col("event_type"), col("ts"), state)
    }
    val gotA = graft.streaming.ActiveStream.readActive(spark, 7, state)
      .collect().map(_.toSeq).toSet
    val gotV = graft.streaming.ActiveStream.readVolume(spark, 2.0, state)
      .collect().map(_.toSeq).toSet
    assert(gotA === oneShotA && gotA.nonEmpty)
    assert(gotV === oneShotV && gotV.nonEmpty)
    // redeliver event 1: the DISTINCT grain folds it away (DAU/WAU
    // unchanged) — the additive volume counts, by contract, would not
    graft.streaming.ActiveStream.ingestBatch(spark,
      df.filter(col("event_id") === 1L),
      col("user_id"), col("event_type"), col("ts"), state)
    val redelivered = graft.streaming.ActiveStream
      .readActive(spark, 7, state).collect().map(_.toSeq).toSet
    assert(redelivered === oneShotA)
  }
}
