package graft.omm

import org.apache.spark.sql.types._

/** Schemas + enum allow-lists for the OMM cancellation domain.
  *
  * Tables: the 11 SQL Server relations the reference joins
  * (cancellations_current_future.sql:20–30), minimal-column per FIXTURES.md §1.
  * Enums: the reference validates four string columns with
  * `Enum.valueOf` against protobuf enums from its transitdata-common
  * dependency (OmmCancellationHandler.java:57–71); Catalyst has no enum type,
  * so they become configurable allow-lists — unknown values drop the row
  * (≙ IllegalArgumentException → skip, OmmCancellationHandler.java:161–163).
  */
object OmmSchemas {

  val deviationCases: StructType = StructType(Seq(
    StructField("deviation_case_id", LongType, nullable = false),
    StructField("bulletin_id", LongType),
    StructField("valid_from", TimestampType),
    StructField("valid_to", TimestampType),
    StructField("type", StringType),
    StructField("last_modified", TimestampType)))

  val affectedDepartures: StructType = StructType(Seq(
    StructField("deviation_case_id", LongType, nullable = false),
    StructField("departure_id", LongType),
    StructField("status", StringType),
    StructField("type", StringType),
    StructField("last_modified", TimestampType)))

  val bulletinLocalizedMessages: StructType = StructType(Seq(
    StructField("bulletins_id", LongType, nullable = false),
    StructField("language_code", StringType),
    StructField("title", StringType),
    StructField("description", StringType)))

  val bulletins: StructType = StructType(Seq(
    StructField("bulletins_id", LongType, nullable = false),
    StructField("category", StringType),
    StructField("sub_category", StringType)))

  val datedVehicleJourney: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("OperatingDayDate", DateType),
    StructField("IsBasedOnVehicleJourneyId", LongType),
    StructField("IsBasedOnVehicleJourneyTemplateId", LongType),
    StructField("IsReplacedById", LongType),
    StructField("PlannedStartOffsetDateTime", TimestampType)))

  val vehicleJourney: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false)))

  val vehicleJourneyTemplate: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("IsWorkedOnDirectionOfLineGid", StringType)))

  val keyVariantValue: StructType = StructType(Seq(
    StructField("IsForObjectId", LongType),
    StructField("IsOfKeyVariantTypeId", LongType),
    StructField("StringValue", StringType)))

  val keyVariantType: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("IsForKeyTypeId", LongType)))

  val keyType: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("ExtendsObjectTypeNumber", IntegerType),
    StructField("Name", StringType)))

  val objectType: StructType = StructType(Seq(
    StructField("Number", IntegerType, nullable = false),
    StructField("Name", StringType)))

  /** Source table name → its schema contract: the one list the parquet
    * loader opens (`CancellationPipeline.loadTables`). */
  val contracts: Seq[(String, StructType)] = Seq(
    "deviation_cases" -> deviationCases,
    "affected_departures" -> affectedDepartures,
    "bulletin_localized_messages" -> bulletinLocalizedMessages,
    "bulletins" -> bulletins,
    "DatedVehicleJourney" -> datedVehicleJourney,
    "VehicleJourney" -> vehicleJourney,
    "VehicleJourneyTemplate" -> vehicleJourneyTemplate,
    "KeyVariantValue" -> keyVariantValue,
    "KeyVariantType" -> keyVariantType,
    "KeyType" -> keyType,
    "ObjectType" -> objectType)

  // --- Enum allow-lists (U4). Values are engine configuration; the fixture
  // data exercises both in-list and out-of-list values.
  val deviationCasesTypes: Seq[String] =
    Seq("CANCEL_DEPARTURE", "DEVIATION_CASES_TYPE_CANCEL_DEPARTURE")
  val affectedDeparturesTypes: Seq[String] =
    Seq("CANCEL_ENTIRE_DEPARTURE", "CANCEL_STOPS_FROM_START",
      "CANCEL_STOPS_FROM_MIDDLE", "CANCEL_STOPS_FROM_END")
  val categories: Seq[String] =
    Seq("VEHICLE_BREAKDOWN", "TRAFFIC_ACCIDENT", "ROAD_MAINTENANCE",
      "WEATHER", "STRIKE", "STAFF_DEFICIT", "OTHER_OPERATOR_REASON",
      "NO_TRAFFIC_DISRUPTION")
  val subCategories: Seq[String] =
    Seq("BREAK_MALFUNCTION", "OUT_OF_FUEL", "ASSAULT", "ROAD_CLOSED",
      "ROAD_TRENCH", "SLIPPERINESS", "STAFF_SHORTAGE", "OTHER")
  // AD status values the reference's OMMAffectedDeparturesStatus accepts
  // (OmmCancellationHandler.java:27–29); parse is case-insensitive (:127).
  val adStatuses: Seq[String] = Seq("active", "deleted")
}
