package graft.omm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeExprs
import graft.operators.Dedup
import graft.sources.ParquetContract
import graft.streaming.PollOps

/** The flagship OMM trip-cancellation pipeline, re-expressed Spark-first.
  *
  * Stages (≙ the reference's poll cycle, OmmConnector.java:61–95 +
  * OmmCancellationHandler.java:99–104):
  *  1. `snapshot`  — the pushed-down 11-table SQL (J1–J10, F1–F6/F2b,
  *                   P1–P8 17-column projection; cancellations_current_
  *                   future.sql / cancellations_past_current_future.sql)
  *  2. `parse`     — row validation + derivation (U1 tz-convert, U4 enum
  *                   allow-lists, U5 status, F8/F9 row drops;
  *                   OmmCancellationHandler.java:106–166)
  *  3. `dedup`     — A1 grouped priority dedup (filterDuplicates,
  *                   OmmCancellationHandler.java:168–204)
  *  4. `envelope`  — U6/S4 keyed sink columns (sendPulsarMessage,
  *                   OmmCancellationHandler.java:234–254)
  *
  * Scale notes: deviation_cases/affected_departures are the only relations
  * that grow with incident volume; the Jore EAV chain (KVT/KT/OT) is static
  * dimension data and is broadcast. DVJ/VJ/VJT/KVV grow with the timetable —
  * they shuffle-join on their keys, and every filter is a plain pushdown-able
  * predicate, so the plan survives a 100× scale-up without changes.
  *
  * The seven timetable relations join into `departures`, which the poll
  * (`CancellationStream.pollOnce`) holds persisted per file version, so a
  * warm poll joins only the incident tables to it. The version covers each
  * relation's schema and, per file, its file key (the inode, so a hard
  * link is the same file) or path, length and modification time
  * (`ParquetContract.version`). A JDBC relation lists no files and has no
  * version, so the service's JDBC path builds the dimension per poll, as
  * before. The held copy is bounded by the timetable after F3–F6 (a row
  * per journey and accepted key type, six columns) and is stored
  * MEMORY_AND_DISK.
  */
object CancellationPipeline {

  sealed trait Mode
  case object FromNow extends Mode  // cancellations_current_future.sql
  case object FromPast extends Mode // cancellations_past_current_future.sql

  case class OmmTables(dc: DataFrame, ad: DataFrame, blm: DataFrame,
                       b: DataFrame, dvj: DataFrame, vj: DataFrame,
                       vjt: DataFrame, kvv: DataFrame, kvt: DataFrame,
                       kt: DataFrame, ot: DataFrame)

  object OmmTables {
    /** The 11 relations, each looked up by its source table name. */
    def byName(t: String => DataFrame): OmmTables = OmmTables(
      dc = t("deviation_cases"), ad = t("affected_departures"),
      blm = t("bulletin_localized_messages"), b = t("bulletins"),
      dvj = t("DatedVehicleJourney"), vj = t("VehicleJourney"),
      vjt = t("VehicleJourneyTemplate"), kvv = t("KeyVariantValue"),
      kvt = t("KeyVariantType"), kt = t("KeyType"), ot = t("ObjectType"))
  }

  /** The 11 tables as `<dir>/<table>.parquet`, each opened with its
    * `OmmSchemas` contract: no schema-inference job, and a footer check
    * that fails loudly on a missing or retyped contract column. The opens
    * are driver-side listings and footer reads, so they run concurrently. */
  def loadTables(spark: SparkSession, dir: String): OmmTables = {
    val opened = PollOps.inParallel(OmmSchemas.contracts.map {
      case (name, schema) =>
        () => ParquetContract.read(spark, name, s"$dir/$name.parquet", schema)
    })
    OmmTables.byName(OmmSchemas.contracts.map(_._1).zip(opened).toMap)
  }

  private val wallClockFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** PAST-mode lookback bound, computed the way the reference does
    * (OmmConnector.java:76): subtract on the *Instant*, then render the
    * result as wall-clock in the zone. Subtracting on the wall-clock string
    * instead would narrow/widen the re-emission window across the two DST
    * transitions each year. */
  def lookbackBound(now: String, zone: String, lookbackSeconds: Long): String =
    java.time.LocalDateTime.parse(now, wallClockFmt)
      .atZone(java.time.ZoneId.of(zone))
      .toInstant.minusSeconds(lookbackSeconds)
      .atZone(java.time.ZoneId.of(zone)).format(wallClockFmt)

  /** The snapshot query: J1–J10 + F1–F6 (+F2b in PAST mode) + the 17-column
    * projection, ordered by DC.last_modified (O1). `now`/`today` are the
    * per-poll wall-clock parameter bindings (S2, OmmConnector.java:61–81);
    * `lookback` is the PAST-mode re-emission bound, pre-rendered driver-side
    * (see `lookbackBound`) so the instant-space subtraction semantics are
    * preserved across DST transitions. `held` is a copy of `departures(t)`
    * the caller keeps across polls (see `snapshotBase`). */
  def snapshot(t: OmmTables, mode: Mode, now: String, today: String,
               lookback: String,
               cancellationTypesOnly: Boolean = false,
               held: Option[DataFrame] = None): DataFrame =
    applyValidity(snapshotBase(t, cancellationTypesOnly, held),
      mode, now, today, lookback)

  /** The departure dimension: the seven Jore timetable relations joined
    * (J5–J10) and filtered (F3–F6), with the projections that read only
    * the timetable, keyed by the DVJ id J4 joins on. Nothing in it depends
    * on the incident tables or on the poll's `now`, so it is the same
    * relation on every poll while the timetable files are unchanged. */
  def departures(t: OmmTables): DataFrame = {
    val dvj = t.dvj.select(
      col("Id").as("dvj_raw_id"), col("OperatingDayDate"),
      col("IsBasedOnVehicleJourneyId"), col("IsBasedOnVehicleJourneyTemplateId"),
      col("IsReplacedById"), col("PlannedStartOffsetDateTime"))
    val vj = t.vj.select(col("Id").as("vj_id"))
    val vjt = t.vjt.select(col("Id").as("vjt_id"),
      col("IsWorkedOnDirectionOfLineGid").as("gid"))
    val kvv = t.kvv.select(col("IsForObjectId"), col("IsOfKeyVariantTypeId"),
      col("StringValue").as("ROUTE_NAME"))
    val kvt = t.kvt.select(col("Id").as("kvt_id"), col("IsForKeyTypeId"))
    val kt = t.kt.select(col("Id").as("kt_id"),
      col("ExtendsObjectTypeNumber"), col("Name").as("kt_name"))
    val ot = t.ot.select(col("Number").as("ot_number"), col("Name").as("ot_name"))

    dvj
      .join(vj, col("vj_id") === col("IsBasedOnVehicleJourneyId")) // J5
      .join(vjt, col("vjt_id") === col("IsBasedOnVehicleJourneyTemplateId")) // J6
      .join(kvv, col("IsForObjectId") === col("vj_id")) // J7
      .join(broadcast(kvt), col("kvt_id") === col("IsOfKeyVariantTypeId")) // J8
      .join(broadcast(kt), col("kt_id") === col("IsForKeyTypeId")) // J9
      .join(broadcast(ot), col("ot_number") === col("ExtendsObjectTypeNumber")) // J10
      .filter(col("kt_name").isin("JoreIdentity", "JoreRouteIdentity", "RouteName")) // F3
      .filter(col("ot_name") === "VehicleJourney") // F4
      .filter(col("gid").isNotNull) // F5
      .filter(col("IsReplacedById").isNull) // F6
      .select(
        col("dvj_raw_id"), col("ROUTE_NAME"),
        substring(col("gid"), 12, 1).cast("int").as("DIRECTION"), // P3+P4
        TimeExprs.style112(col("OperatingDayDate")).as("OPERATING_DAY"), // P5
        TimeExprs.serviceDayTime( // P6+P7+P8: >24h-safe service-day time
          lit("1900-01-01 00:00:00").cast("timestamp"),
          col("PlannedStartOffsetDateTime")).as("START_TIME"),
        col("OperatingDayDate")) // raw date for applyValidity
  }

  /** The poll-INVARIANT part of the snapshot: the incident side
    * (DC ⟕ AD ⟕ BLM ⟕ B, J1–J3) inner-joined to `departures(t)` (J4),
    * static filters F1/F7, and the 17-column projection (plus the raw
    * `OperatingDayDate` the validity predicate needs). Every timetable join
    * is inner, so joining the filtered dimension is the reference's join
    * tree re-associated: same rows. `held`, when given, stands for
    * `departures(t)` (a copy persisted across polls). Split out so a caller
    * evaluating the SAME data under several `(now, today)` bindings
    * (batch-over-batch diff, backfills) can persist this subtree once and
    * apply each per-poll validity filter to the cached relation instead of
    * re-running the whole join tree per binding. */
  def snapshotBase(t: OmmTables,
                   cancellationTypesOnly: Boolean = false,
                   held: Option[DataFrame] = None): DataFrame = {
    val dc = t.dc.select(
      col("deviation_case_id"), col("bulletin_id").as("dc_bulletin_id"),
      col("valid_from").as("VALID_FROM"), col("valid_to").as("VALID_TO"),
      col("type").as("DEVIATION_CASES_TYPE"),
      col("last_modified").as("DEVIATION_CASES_LAST_MODIFIED"))
    val ad = t.ad.select(
      col("deviation_case_id").as("ad_case_id"),
      col("departure_id").as("ad_departure_id"),
      col("status").as("AFFECTED_DEPARTURES_STATUS"),
      col("type").as("AFFECTED_DEPARTURES_TYPE"),
      col("last_modified").as("AFFECTED_DEPARTURES_LAST_MODIFIED"))
    val blm = t.blm.select(
      col("bulletins_id").as("blm_bulletins_id"), col("language_code"),
      col("title").as("TITLE"), col("description").as("DESCRIPTION"))
    val b = t.b.select(
      col("bulletins_id").as("b_bulletins_id"),
      col("category").as("CATEGORY"), col("sub_category").as("SUB_CATEGORY"))

    // F7: the reference ships this predicate commented out (CC:31) — all
    // deviation types flow through by default; kept available behind a flag.
    val typeFilter =
      if (cancellationTypesOnly)
        col("DEVIATION_CASES_TYPE") === "CANCEL_DEPARTURE" &&
          col("AFFECTED_DEPARTURES_TYPE") === "CANCEL_ENTIRE_DEPARTURE"
      else lit(true)

    dc
      .join(ad, col("deviation_case_id") === col("ad_case_id"), "left") // J1
      .join(blm, col("dc_bulletin_id") === col("blm_bulletins_id"), "left") // J2
      .join(b, col("dc_bulletin_id") === col("b_bulletins_id"), "left") // J3
      .join(held.getOrElse(departures(t)),
        col("dvj_raw_id") === col("ad_departure_id")) // J4
      .filter(col("language_code") === "fi") // F1 (turns J2 inner for null BLM)
      .filter(typeFilter) // F7 (disabled by default, as in the reference)
      .select( // P1: the 17-column result relation (CC:1–19)
        col("deviation_case_id"),
        col("VALID_FROM"), col("VALID_TO"),
        col("DEVIATION_CASES_TYPE"), col("DEVIATION_CASES_LAST_MODIFIED"),
        col("AFFECTED_DEPARTURES_LAST_MODIFIED"),
        col("AFFECTED_DEPARTURES_STATUS"), col("AFFECTED_DEPARTURES_TYPE"),
        col("TITLE"), col("DESCRIPTION"), col("CATEGORY"), col("SUB_CATEGORY"),
        col("dvj_raw_id").cast("string").as("DVJ_ID"), // P2 (Java reads back as long)
        col("ROUTE_NAME"), col("DIRECTION"), col("OPERATING_DAY"),
        col("START_TIME"),
        col("OperatingDayDate")) // raw date for applyValidity; dropped there
  }

  /** The per-poll part of the snapshot: F2 (/F2b) temporal validity under
    * a concrete `(now, today, lookback)` binding, over `snapshotBase`
    * output. In the plain `snapshot` path Catalyst pushes this filter down
    * through the projection to the scans exactly as before; over a
    * persisted base it filters the cached relation. */
  def applyValidity(base: DataFrame, mode: Mode, now: String, today: String,
                    lookback: String): DataFrame = {
    val nowTs = lit(now).cast("timestamp")
    val todayD = lit(today).cast("date")
    val lookbackTs = lit(lookback).cast("timestamp")
    // F2: "valid in the future, or a cancellation-of-cancellation still
    // relevant today" (CC:33–35); PAST mode adds re-emission of past rows
    // modified within the lookback window (PCF:34–37).
    val currentOrFuture =
      col("VALID_TO") > nowTs ||
        (col("VALID_TO").isNull &&
          col("AFFECTED_DEPARTURES_STATUS") === "deleted" &&
          col("OperatingDayDate") >= todayD)
    val validity = mode match {
      case FromNow => currentOrFuture
      case FromPast =>
        currentOrFuture ||
          ((col("VALID_TO") <= nowTs ||
            (col("VALID_TO").isNull &&
              col("AFFECTED_DEPARTURES_STATUS") === "deleted" &&
              col("OperatingDayDate") < todayD)) &&
            col("DEVIATION_CASES_LAST_MODIFIED") >= lookbackTs)
    }
    base.filter(validity).drop("OperatingDayDate") // F2 / F2b
  }

  /** O1: the reference's `ORDER BY DC.last_modified` (CC:39). Applied at
    * the SINK boundary (sendOrdered), not inside `snapshot` — a global
    * range-sort mid-pipeline is pure waste: the dedup window re-shuffles
    * by key right after and destroys the order (measured: the mid-pipeline
    * sort added a full extra exchange+sort of the 17-column snapshot at
    * 1M cases). */
  def sendOrdered(df: DataFrame): DataFrame =
    df.orderBy(col("DEVIATION_CASES_LAST_MODIFIED"))

  /** Row-validity predicate of the parse stage (F8 enum allow-lists, F9
    * timestamp null-drop, AD-status parse). Factored out so `parse` and
    * `rejects` are exact complements. */
  private def parseChecks(zone: String): Seq[(String, Column)] = Seq(
    "unknown_deviation_cases_type" ->
      col("DEVIATION_CASES_TYPE").isin(OmmSchemas.deviationCasesTypes.map(lit): _*),
    "unknown_affected_departures_type" ->
      col("AFFECTED_DEPARTURES_TYPE").isin(OmmSchemas.affectedDeparturesTypes.map(lit): _*),
    "unknown_category" -> col("CATEGORY").isin(OmmSchemas.categories.map(lit): _*),
    "unknown_sub_category" -> col("SUB_CATEGORY").isin(OmmSchemas.subCategories.map(lit): _*),
    // valueOf(status.toLowerCase) throws on unknown; a NULL status skips the
    // check entirely (Hand:127 null-guard) → CANCELED
    "unknown_ad_status" ->
      (col("AFFECTED_DEPARTURES_STATUS").isNull ||
        lower(col("AFFECTED_DEPARTURES_STATUS")).isin(OmmSchemas.adStatuses.map(lit): _*)),
    // F9: unparseable/NULL event timestamp → row dropped (Hand:154–160)
    "null_event_timestamp" ->
      TimeExprs.toUtcEpochMs(col("AFFECTED_DEPARTURES_LAST_MODIFIED"), zone).isNotNull)

  /** Columns added by parsing: derived status (U5), UTC event time (U1),
    * trip id (the Pulsar partition key). */
  private def derived(zone: String): Seq[(String, Column)] = Seq(
    "status" -> when(lower(col("AFFECTED_DEPARTURES_STATUS")) === "deleted",
      "RUNNING").otherwise("CANCELED"),
    "trip_id" -> col("DVJ_ID"),
    "event_ts_ms" -> TimeExprs.toUtcEpochMs(
      col("AFFECTED_DEPARTURES_LAST_MODIFIED"), zone),
    "schema_version" -> lit(1))

  /** Parse stage: keep valid rows, add derived columns (≙ parseData,
    * OmmCancellationHandler.java:106–166). */
  def parse(snapshot: DataFrame, zone: String): DataFrame =
    derived(zone).foldLeft(
      snapshot.filter(parseChecks(zone).map(_._2).reduce(_ && _))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }

  /** Side-output of rows the parse stage dropped, with the first failing
    * check as the reason (≙ the reference's error logs, Hand:161–163). */
  def rejects(snapshot: DataFrame, zone: String): DataFrame = {
    val reason = parseChecks(zone).reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, check)) => when(!check, name).otherwise(acc)
    }
    snapshot.withColumn("reject_reason", reason)
      .filter(col("reject_reason").isNotNull)
      .select(col("deviation_case_id"), col("DVJ_ID"), col("reject_reason"))
  }

  /** A1: one row per (trip, deviation case): CANCELED beats RUNNING, then
    * latest event time, then a stable content tiebreak (ROUTE_NAME, TITLE) —
    * the explicit total order SURVEY.md §7-1 requires where the reference
    * relied on incidental result-set order. */
  def dedup(parsed: DataFrame): DataFrame =
    Dedup.priorityDedup(parsed,
      keys = Seq("trip_id", "deviation_case_id"),
      priority = when(col("status") === "CANCELED", 0).otherwise(1),
      ts = col("event_ts_ms"),
      tieBreak = struct(col("ROUTE_NAME"), col("TITLE")))

  /** The TripCancellation payload of a deduped row: the protobuf message's
    * 14 fields under their proto names, in field order. */
  private def payload: Column = struct(
    col("deviation_case_id"), col("ROUTE_NAME").as("route_id"),
    col("DIRECTION").as("direction_id"),
    col("OPERATING_DAY").as("start_date"), col("START_TIME").as("start_time"),
    col("status"), col("schema_version"), col("trip_id"),
    col("DEVIATION_CASES_TYPE").as("deviation_cases_type"),
    col("AFFECTED_DEPARTURES_TYPE").as("affected_departures_type"),
    col("TITLE").as("title"), col("DESCRIPTION").as("description"),
    col("CATEGORY").as("category"), col("SUB_CATEGORY").as("sub_category"))

  /** U6/S4: the keyed sink envelope — partition key, event time, properties,
    * the payload as a typed struct, protobuf wire bytes as the message
    * `value` (≙ `tripCancellation.toByteArray()`, OmmCancellationHandler
    * .java:236; descriptor at src/main/protobuf/trip_cancellation.proto),
    * and canonical JSON alongside for debuggability. */
  def envelope(deduped: DataFrame): DataFrame =
    deduped.select(
      col("trip_id").as("key"),
      col("event_ts_ms").as("event_time_ms"),
      map(lit("dvj-id"), col("trip_id"),
        lit("protobuf-schema"), lit("TripCancellation")).as("properties"),
      payload.as("payload"),
      graft.functions.ProtoWire.toProto(payload).as("value"),
      to_json(payload).cast("binary").as("value_json"))

  /** Typed tail of the pipeline (SURVEY.md §1.3–1.4): the protobuf
    * builder's field surface as a case class, with the envelope metadata
    * the reference carries alongside (`CancellationData`, Hand:31–55). */
  case class TripCancellation(
      deviation_case_id: Long, route_id: String, direction_id: Int,
      start_date: String, start_time: String, status: String,
      schema_version: Int, trip_id: String, deviation_cases_type: String,
      affected_departures_type: String, title: String, description: String,
      category: String, sub_category: String)
  case class CancellationData(payload: TripCancellation,
                              timestampEpochMs: Long, dvjId: String,
                              deviationCaseId: Long)

  /** Deduped rows as a typed `Dataset[CancellationData]` — compile-checked
    * field access for library users who prefer the Dataset API. */
  def typed(deduped: DataFrame): org.apache.spark.sql.Dataset[CancellationData] = {
    val spark = deduped.sparkSession
    import spark.implicits._
    deduped.select(
      payload.as("payload"),
      col("event_ts_ms").as("timestampEpochMs"),
      col("trip_id").as("dvjId"),
      col("deviation_case_id").as("deviationCaseId")
    ).as[CancellationData]
  }

  /** The full batch pipeline for one poll. */
  def run(spark: SparkSession, dir: String, mode: Mode, now: String,
          today: String, lookbackSeconds: Long, zone: String): DataFrame =
    dedup(parse(snapshot(loadTables(spark, dir), mode, now, today,
      lookbackBound(now, zone, lookbackSeconds)), zone))
}
