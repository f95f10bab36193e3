package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.omm.{CancellationPipeline => P, OmmFixtures => F, OmmSchemas}

/** The OMM flagship pipeline registered as named queries over the
  * deterministic fixture tables (fixtures/omm/), each stage with a DuckDB
  * oracle translated from the reference T-SQL
  * (cancellations_current_future.sql / cancellations_past_current_future.sql)
  * + handler semantics (OmmCancellationHandler.java).
  *
  * The oracle SQL reads the fixture parquet via absolute read_parquet paths,
  * so it is runnable by any DuckDB regardless of which views the harness
  * registers. Fixture generation is idempotent (`OmmFixtures.ensure`).
  */
object OmmQueries {

  private def t(name: String): String =
    s"read_parquet('${F.dir}/$name.parquet/*.parquet')"

  private val now2 = "2024-05-17 12:00:00"
  private val today2 = "2024-05-17"

  // ---------------------------------------------------------------- oracle
  /** DuckDB translation of the snapshot query for a given mode/params.
    * `lookbackStr` is the pre-rendered instant-space bound (same value the
    * Spark side binds — P.lookbackBound), so both engines compare against
    * the identical wall-clock literal. */
  private def snapshotSql(mode: P.Mode, now: String, today: String,
                          lookbackStr: String): String = {
    val lookback = s"TIMESTAMP '$lookbackStr'"
    val currentOrFuture =
      s"""(DC.valid_to::TIMESTAMP > TIMESTAMP '$now'
         |   OR (DC.valid_to IS NULL AND AD.status = 'deleted'
         |       AND DVJ.OperatingDayDate >= DATE '$today'))""".stripMargin
    val validity = mode match {
      case P.FromNow => currentOrFuture
      case P.FromPast =>
        s"""($currentOrFuture
           | OR ((DC.valid_to::TIMESTAMP <= TIMESTAMP '$now'
           |      OR (DC.valid_to IS NULL AND AD.status = 'deleted'
           |          AND DVJ.OperatingDayDate < DATE '$today'))
           |     AND DC.last_modified::TIMESTAMP >= $lookback))""".stripMargin
    }
    val mins = "((epoch_ms(DVJ.PlannedStartOffsetDateTime::TIMESTAMP) - " +
      "epoch_ms(TIMESTAMP '1900-01-01')) // 60000)"
    s"""SELECT
       |  DC.deviation_case_id,
       |  strftime(DC.valid_from::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS valid_from,
       |  strftime(DC.valid_to::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS valid_to,
       |  DC.type AS dc_type,
       |  strftime(DC.last_modified::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS dc_last_modified,
       |  strftime(AD.last_modified::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS ad_last_modified,
       |  AD.status AS ad_status, AD.type AS ad_type,
       |  BLM.title AS title, BLM.description AS description,
       |  B.category AS category, B.sub_category AS sub_category,
       |  CAST(DVJ.Id AS VARCHAR) AS dvj_id,
       |  KVV.StringValue AS route_name,
       |  CAST(substring(VJT.IsWorkedOnDirectionOfLineGid, 12, 1) AS INTEGER) AS direction,
       |  strftime(DVJ.OperatingDayDate, '%Y%m%d') AS operating_day,
       |  lpad(CAST($mins // 60 AS VARCHAR), 2, '0') || ':' ||
       |    lpad(CAST($mins % 60 AS VARCHAR), 2, '0') || ':00' AS start_time
       |FROM ${t("deviation_cases")} AS DC
       |LEFT JOIN ${t("affected_departures")} AS AD
       |  ON DC.deviation_case_id = AD.deviation_case_id
       |LEFT JOIN ${t("bulletin_localized_messages")} AS BLM
       |  ON DC.bulletin_id = BLM.bulletins_id
       |LEFT JOIN ${t("bulletins")} AS B ON DC.bulletin_id = B.bulletins_id
       |JOIN ${t("DatedVehicleJourney")} AS DVJ ON DVJ.Id = AD.departure_id
       |JOIN ${t("VehicleJourney")} AS VJ ON VJ.Id = DVJ.IsBasedOnVehicleJourneyId
       |JOIN ${t("VehicleJourneyTemplate")} AS VJT
       |  ON VJT.Id = DVJ.IsBasedOnVehicleJourneyTemplateId
       |JOIN ${t("KeyVariantValue")} AS KVV ON KVV.IsForObjectId = VJ.Id
       |JOIN ${t("KeyVariantType")} AS KVT ON KVT.Id = KVV.IsOfKeyVariantTypeId
       |JOIN ${t("KeyType")} AS KT ON KT.Id = KVT.IsForKeyTypeId
       |JOIN ${t("ObjectType")} AS OT ON OT.Number = KT.ExtendsObjectTypeNumber
       |WHERE BLM.language_code = 'fi'
       |  AND $validity
       |  AND KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')
       |  AND OT.Name = 'VehicleJourney'
       |  AND VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL
       |  AND DVJ.IsReplacedById IS NULL""".stripMargin
  }

  private def inList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Parse-stage validity predicate in DuckDB, over snapshot column names. */
  private val parseChecksSql: Seq[(String, String)] = Seq(
    "unknown_deviation_cases_type" ->
      s"dc_type IN ${inList(OmmSchemas.deviationCasesTypes)}",
    "unknown_affected_departures_type" ->
      s"ad_type IN ${inList(OmmSchemas.affectedDeparturesTypes)}",
    "unknown_category" -> s"category IN ${inList(OmmSchemas.categories)}",
    "unknown_sub_category" ->
      s"sub_category IN ${inList(OmmSchemas.subCategories)}",
    "unknown_ad_status" ->
      s"(ad_status IS NULL OR lower(ad_status) IN ${inList(OmmSchemas.adStatuses)})",
    "null_event_timestamp" ->
      s"epoch_ms(timezone('${F.zone}', ad_last_modified::TIMESTAMP)) IS NOT NULL")

  /** The payload columns that only the full-width parse+dedup carries
    * (the protobuf round-trip check needs every payload field). */
  private def fullCols(full: Boolean): String =
    if (full) ",\n  description, category, sub_category, dc_type, ad_type"
    else ""

  private def parsedSql(mode: P.Mode, now: String, today: String,
                        full: Boolean = false): String =
    s"""WITH snap AS (${snapshotSql(mode, now, today, F.lookback)})
       |SELECT dvj_id AS trip_id, deviation_case_id,
       |  CASE WHEN lower(ad_status) = 'deleted' THEN 'RUNNING'
       |       ELSE 'CANCELED' END AS status,
       |  epoch_ms(timezone('${F.zone}', ad_last_modified::TIMESTAMP)) AS event_ts_ms,
       |  route_name, direction, operating_day, start_time, title${fullCols(full)}
       |FROM snap
       |WHERE ${parseChecksSql.map(_._2).mkString("\n  AND ")}""".stripMargin

  private def dedupSql(mode: P.Mode, now: String, today: String,
                       full: Boolean = false): String =
    s"""WITH parsed AS (${parsedSql(mode, now, today, full)})
       |SELECT trip_id, deviation_case_id, status, event_ts_ms,
       |  route_name, direction, operating_day, start_time, title${fullCols(full)}
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY trip_id, deviation_case_id
       |        ORDER BY (CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END),
       |                 event_ts_ms DESC, route_name, title) AS rn
       |      FROM parsed) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------- spark side
  private def sel17(df: DataFrame): DataFrame =
    df.select(
      col("deviation_case_id"),
      date_format(col("VALID_FROM"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
      date_format(col("VALID_TO"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
      col("DEVIATION_CASES_TYPE").as("dc_type"),
      date_format(col("DEVIATION_CASES_LAST_MODIFIED"), "yyyy-MM-dd HH:mm:ss")
        .as("dc_last_modified"),
      date_format(col("AFFECTED_DEPARTURES_LAST_MODIFIED"), "yyyy-MM-dd HH:mm:ss")
        .as("ad_last_modified"),
      col("AFFECTED_DEPARTURES_STATUS").as("ad_status"),
      col("AFFECTED_DEPARTURES_TYPE").as("ad_type"),
      col("TITLE").as("title"), col("DESCRIPTION").as("description"),
      col("CATEGORY").as("category"), col("SUB_CATEGORY").as("sub_category"),
      col("DVJ_ID").as("dvj_id"), col("ROUTE_NAME").as("route_name"),
      col("DIRECTION").as("direction"), col("OPERATING_DAY").as("operating_day"),
      col("START_TIME").as("start_time"))

  private def selParsed(df: DataFrame): DataFrame =
    df.select(col("trip_id"), col("deviation_case_id"), col("status"),
      col("event_ts_ms"), col("ROUTE_NAME").as("route_name"),
      col("DIRECTION").as("direction"), col("OPERATING_DAY").as("operating_day"),
      col("START_TIME").as("start_time"), col("TITLE").as("title"))

  private def withFixtures[A](s: SparkSession)(f: => A): A = {
    F.ensure(s); f
  }

  private def snap(s: SparkSession, mode: P.Mode,
                   now: String = F.now, today: String = F.today): DataFrame =
    P.snapshot(P.loadTables(s, F.dir), mode, now, today, F.lookback)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "omm_snapshot_now" -> ((s, _) => withFixtures(s) {
      sel17(snap(s, P.FromNow))
    }),
    "omm_snapshot_past" -> ((s, _) => withFixtures(s) {
      sel17(snap(s, P.FromPast))
    }),
    // F7 with the flag ON: the reference ships this predicate commented out
    // (cancellations_current_future.sql:31); this registration proves the
    // behind-the-flag semantics (drops every non-CANCEL_DEPARTURE /
    // non-CANCEL_ENTIRE_DEPARTURE row) against the translated predicate.
    "omm_snapshot_types_only" -> ((s, _) => withFixtures(s) {
      sel17(P.snapshot(P.loadTables(s, F.dir), P.FromNow, F.now, F.today,
        F.lookback, cancellationTypesOnly = true))
    }),
    "omm_parsed" -> ((s, _) => withFixtures(s) {
      selParsed(P.parse(snap(s, P.FromNow), F.zone))
    }),
    "omm_rejects" -> ((s, _) => withFixtures(s) {
      P.rejects(snap(s, P.FromNow), F.zone)
        .withColumnRenamed("DVJ_ID", "dvj_id")
    }),
    "omm_dedup" -> ((s, _) => withFixtures(s) {
      selParsed(P.dedup(P.parse(snap(s, P.FromNow), F.zone)))
    }),
    "omm_dedup_past" -> ((s, _) => withFixtures(s) {
      selParsed(P.dedup(P.parse(snap(s, P.FromPast), F.zone)))
    }),
    "omm_envelope" -> ((s, _) => withFixtures(s) {
      P.envelope(P.dedup(P.parse(snap(s, P.FromNow), F.zone)))
        .select(col("key"), col("event_time_ms"),
          col("properties")("dvj-id").as("prop_dvj_id"),
          col("properties")("protobuf-schema").as("prop_schema"),
          col("payload.route_id").as("route_id"),
          col("payload.status").as("status"))
    }),
    "omm_envelope_proto" -> ((s, _) => withFixtures(s) {
      // U6 round trip: envelope value (protobuf wire bytes) decoded back
      // to the full payload field surface; the oracle recomputes the same
      // fields relationally — a red row means the wire codec lost or
      // mangled a field.
      P.envelope(P.dedup(P.parse(snap(s, P.FromNow), F.zone)))
        .select(col("key"), col("event_time_ms"),
          graft.functions.ProtoWire.fromProto(col("value")).as("p"))
        .select(Seq(col("key"), col("event_time_ms")) ++
          graft.functions.ProtoWire.payloadSchema.fieldNames.toSeq
            .map(f => col(s"p.$f").as(f)): _*)
    }),
    "omm_batch_diff" -> ((s, _) => withFixtures(s) {
      // A2 ≙ logChangesInCancellations: previous poll evaluated two days
      // later (fewer rows), current poll at the canonical now. Both polls
      // see the SAME data under different (now, today) bindings, so the
      // poll-invariant join tree is persisted once and each poll applies
      // only its validity filter to the cached relation — the bench line
      // measures diff cost, not two full 10-join evaluations. The diff is
      // ONE row of counts, so it decouples as a local relation and the
      // scoped guard releases the join-tree cache before returning
      // (registry hygiene sweep: no query leaves persistent RDDs behind).
      graft.operators.CacheHygiene.withRddCleanup(s) {
        val base = P.snapshotBase(P.loadTables(s, F.dir)).persist()
        def poll(now: String, today: String): DataFrame =
          P.dedup(P.parse(
            P.applyValidity(base, P.FromNow, now, today, F.lookback), F.zone))
        graft.operators.CacheHygiene.materializeLocal(
          graft.operators.Dedup.batchDiffCounts(
            poll(F.now, F.today), poll(now2, today2), "trip_id"))
      }
    }))

  val oracleSql: Map[String, String] = Map(
    "omm_snapshot_now" -> snapshotSql(P.FromNow, F.now, F.today, F.lookback),
    "omm_snapshot_past" -> snapshotSql(P.FromPast, F.now, F.today, F.lookback),
    "omm_snapshot_types_only" ->
      (snapshotSql(P.FromNow, F.now, F.today, F.lookback) +
        "\n  AND DC.type = 'CANCEL_DEPARTURE'" +
        "\n  AND AD.type = 'CANCEL_ENTIRE_DEPARTURE'"),
    "omm_parsed" -> parsedSql(P.FromNow, F.now, F.today),
    "omm_rejects" ->
      s"""WITH snap AS (${snapshotSql(P.FromNow, F.now, F.today, F.lookback)})
         |SELECT deviation_case_id, dvj_id,
         |  CASE ${parseChecksSql.map { case (n, c) => s"WHEN NOT ($c) THEN '$n'" }.mkString("\n       ")}
         |  END AS reject_reason
         |FROM snap
         |WHERE NOT (${parseChecksSql.map(_._2).mkString("\n  AND ")})""".stripMargin,
    "omm_dedup" -> dedupSql(P.FromNow, F.now, F.today),
    "omm_dedup_past" -> dedupSql(P.FromPast, F.now, F.today),
    "omm_envelope" ->
      s"""WITH deduped AS (${dedupSql(P.FromNow, F.now, F.today)})
         |SELECT trip_id AS key, event_ts_ms AS event_time_ms,
         |  trip_id AS prop_dvj_id, 'TripCancellation' AS prop_schema,
         |  route_name AS route_id, status
         |FROM deduped""".stripMargin,
    "omm_envelope_proto" ->
      s"""WITH deduped AS (${dedupSql(P.FromNow, F.now, F.today, full = true)})
         |SELECT trip_id AS key, event_ts_ms AS event_time_ms,
         |  deviation_case_id, route_name AS route_id,
         |  direction AS direction_id, operating_day AS start_date,
         |  start_time, status, CAST(1 AS INTEGER) AS schema_version,
         |  trip_id, dc_type AS deviation_cases_type,
         |  ad_type AS affected_departures_type,
         |  title, description, category, sub_category
         |FROM deduped""".stripMargin,
    "omm_batch_diff" ->
      s"""WITH curr AS (${dedupSql(P.FromNow, F.now, F.today)}),
         |prev AS (${dedupSql(P.FromNow, now2, today2)})
         |SELECT
         |  count(CASE WHEN p.trip_id IS NULL THEN 1 END) AS new_keys,
         |  count(CASE WHEN p.trip_id IS NOT NULL THEN 1 END) AS repeated_keys
         |FROM (SELECT DISTINCT trip_id FROM curr) c
         |LEFT JOIN (SELECT DISTINCT trip_id FROM prev) p USING (trip_id)""".stripMargin)
}
