package graft.omm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.omm.{CancellationPipeline => P, OmmFixtures => F}

/** Golden end-to-end assertions for the flagship over the deterministic
  * fixtures (FIXTURES.md scenario rows): stage-by-stage populations and the
  * specific semantics each scenario pins down.
  */
class PipelineGoldenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables = { F.ensure(spark); P.loadTables(spark, F.dir) }
  private lazy val snapNow = P.snapshot(tables, P.FromNow, F.now, F.today, F.lookback)
  private lazy val snapPast = P.snapshot(tables, P.FromPast, F.now, F.today, F.lookback)
  private lazy val parsed = P.parse(snapNow, F.zone)
  private lazy val deduped = P.dedup(parsed)

  test("NOW snapshot: 16 rows; PAST adds F2c + F2b-past cases (18)") {
    assert(snapNow.count() === 16)
    assert(snapPast.count() === 18)
    val pastOnly = snapPast.select("deviation_case_id").except(
      snapNow.select("deviation_case_id")).as[Long].collect().sorted
    assert(pastOnly === Array(3L, 16L))
  }

  test("snapshot drops F1 (sv-only), F5 (null GID), F6 (replaced), no-AD, no-bulletin") {
    val cases = snapNow.select("deviation_case_id").distinct().as[Long].collect().toSet
    assert(!cases.contains(9L)) // F1 sv-only bulletin
    assert(!cases.contains(10L)) // F5/F6
    assert(!cases.contains(14L)) // no AD rows → J4 inner
    assert(!cases.contains(15L)) // no bulletin → BLM null → F1
    assert(!cases.contains(4L)) // F2a stale past
  }

  test("EAV fan-out: dvj 601 produces 3 rows per case pre-dedup") {
    assert(snapNow.filter(col("DVJ_ID") === "601" &&
      col("deviation_case_id") === 1).count() === 3)
  }

  test("parse drops the four invalid rows with reasons") {
    assert(parsed.count() === 12)
    val reasons = P.rejects(snapNow, F.zone)
      .select("deviation_case_id", "reject_reason").as[(Long, String)]
      .collect().toMap
    assert(reasons === Map(
      7L -> "unknown_deviation_cases_type",
      12L -> "unknown_affected_departures_type",
      17L -> "unknown_category",
      8L -> "null_event_timestamp"))
  }

  test("dedup: 6 final cancellations with reference semantics") {
    val rows = deduped
      .select("trip_id", "deviation_case_id", "status", "START_TIME")
      .as[(String, Long, String, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(rows.size === 6)
    assert(rows(("603", 5L))._1 === "CANCELED") // D3: CANCELED beats newer RUNNING
    assert(rows(("604", 6L))._1 === "RUNNING") // D4: latest RUNNING survives
    assert(rows(("613", 13L))._2 === "28:15:00") // T1: >24h service time
    assert(rows.contains(("601", 1L)) && rows.contains(("601", 11L))) // D6
  }

  test("SparkEntry.entry is the flagship run over the fixtures: the same 6 cancellations") {
    def cases(df: org.apache.spark.sql.DataFrame) =
      df.select("trip_id", "deviation_case_id").as[(String, Long)].collect().sorted
    assert(cases(graft.SparkEntry.entry(spark)) === cases(deduped))
    assert(cases(deduped).length === 6)
  }

  test("D4 tiebreak: the later of the two RUNNING rows wins") {
    val ts = deduped.filter(col("trip_id") === "604")
      .select("event_ts_ms").as[Long].head()
    // 2024-05-15 10:35 Helsinki (UTC+3) = 07:35Z
    assert(ts === 1715758500000L)
  }

  test("envelope carries key, event time, and properties") {
    val env = P.envelope(deduped)
    assert(env.count() === 6)
    val row = env.filter(col("key") === "613").head()
    assert(row.getAs[Long]("event_time_ms") === 1715759820000L)
    val props = row.getAs[Map[String, String]]("properties")
    assert(props("dvj-id") === "613")
    assert(props("protobuf-schema") === "TripCancellation")
    assert(new String(row.getAs[Array[Byte]]("value")).contains("28:15:00"))
  }

  test("typed Dataset tail carries the full payload surface") {
    val ds = P.typed(deduped)
    val rec = ds.collect().find(_.dvjId == "613").get
    assert(rec.payload.start_time === "28:15:00")
    assert(rec.payload.status === "CANCELED")
    assert(rec.payload.route_id === "Route 113")
    assert(rec.deviationCaseId === 13L)
    assert(rec.timestampEpochMs === 1715759820000L)
  }

  test("A2 diff vs a later poll finds new + repeated trips") {
    val prev = P.dedup(P.parse(P.snapshot(tables, P.FromNow,
      "2024-05-17 12:00:00", "2024-05-17",
      P.lookbackBound("2024-05-17 12:00:00", F.zone, F.lookbackSeconds)), F.zone))
    val diff = graft.operators.Dedup.batchDiffCounts(deduped, prev, "trip_id")
      .as[(Long, Long)].head()
    assert(diff === ((2L, 3L))) // 602, 604 new; 601, 603, 613 repeated
  }
}
