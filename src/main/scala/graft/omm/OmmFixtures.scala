package graft.omm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic OMM-shaped fixture data (FIXTURES.md §1 scenarios).
  *
  * One parquet directory per source table under `fixtures/omm/`. The rows
  * replay every scenario from the reference's unit tests and SQL edge cases
  * (D1–D6, F1, F2a/b/c, F5/F6, E1 ×3, F9, T1) against a fixed evaluation
  * point: now = 2024-05-15 12:00:00 (Europe/Helsinki wall-clock),
  * today = 2024-05-15, PAST-mode lookback 1800 s (→ 11:30:00).
  *
  * Expected populations (hand-derived, asserted by tests + DuckDB oracle):
  *  - NOW snapshot: 16 rows (incl. KVV 3-way fan-out for dvj 601 ×2 cases)
  *  - PAST snapshot: 18 rows (case 3 via F2c, case 16 via F2b-past)
  *  - parse keeps 12 (drops case 7 DC-type, 12 AD-type, 17 category, 8 null-ts)
  *  - dedup → 6 final cancellations
  */
object OmmFixtures {

  /** `fixtures/omm` under the JVM's working directory — the checkout
    * root for sbt's forked runs and tests — so every clone reads and
    * (re)generates its own fixtures. */
  val dir: String = Paths.get("fixtures", "omm").toAbsolutePath.toString

  val now = "2024-05-15 12:00:00"
  val today = "2024-05-15"
  val lookbackSeconds = 1800L
  val zone = "Europe/Helsinki"
  /** Pre-rendered PAST-mode lookback bound (instant-space subtraction,
    * = "2024-05-15 11:30:00" — no DST transition at the fixture instant). */
  val lookback: String =
    CancellationPipeline.lookbackBound(now, zone, lookbackSeconds)

  def path(table: String): String = s"$dir/$table.parquet"

  /** Generate-if-absent; call from any OMM query. Cheap marker check:
    * deleting `fixtures/omm/_GENERATED` makes the next call regenerate
    * (deterministic), e.g. after editing this object. */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!Files.exists(Paths.get(s"$dir/_GENERATED"))) generate(spark)
  }

  private def generate(spark: SparkSession): Unit = {
    import spark.implicits._

    def write(df: DataFrame, table: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(path(table))

    val T = "timestamp"

    // --- deviation_cases: (id, bulletin, valid_from, valid_to, type, lm)
    val dc = Seq(
      // D1/D6a: valid in future
      (1L, 21L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:00:00"),
      // D6b: second case on the same trip (dvj 601)
      (11L, 31L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:05:00"),
      // D2: cancellation-of-cancellation (valid_to NULL + deleted AD)
      (2L, 22L, "2024-05-10 00:00:00", None, "CANCEL_DEPARTURE", "2024-05-15 11:10:00"),
      // F2c: past validity but modified within the PAST-mode lookback
      (3L, 23L, "2024-04-01 00:00:00", Some("2024-05-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:50:00"),
      // F2a: past validity, stale — dropped in both modes
      (4L, 24L, "2024-04-01 00:00:00", Some("2024-05-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-10 09:00:00"),
      // D3: CANCELED + RUNNING rows on one (dvj, case)
      (5L, 25L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:15:00"),
      // D4: two RUNNING rows, latest wins
      (6L, 26L, "2024-05-10 00:00:00", None, "CANCEL_DEPARTURE", "2024-05-15 11:20:00"),
      // E1: unknown deviation-cases type → parse drop
      (7L, 27L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "UNKNOWN_TYPE", "2024-05-15 11:25:00"),
      // E1b: unknown affected-departures type (on the AD row) → parse drop
      (12L, 32L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:27:00"),
      // E1c: unknown category (bulletin 34) → parse drop
      (17L, 34L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:28:00"),
      // F9: AD.last_modified NULL → parse drop
      (8L, 28L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:30:00"),
      // F1: bulletin localized only in 'sv' → snapshot drop
      (9L, 29L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:35:00"),
      // F5/F6: replaced DVJ + NULL-GID template → snapshot drop
      (10L, 30L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:40:00"),
      // T1: >24h service-day start time (28:15:00)
      (13L, 33L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:45:00"),
      // F2b-past: valid_to NULL + deleted + OperatingDay < today, fresh lm
      (16L, 36L, "2024-05-10 00:00:00", None, "CANCEL_DEPARTURE", "2024-05-15 11:55:00"),
      // J1/J4 interplay: case with no affected_departures rows → eliminated
      (14L, 21L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:58:00"),
      // J2/J3 left-join nullability: bulletin_id with no bulletin/BLM rows
      (15L, 999L, "2024-05-10 00:00:00", Some("2024-06-01 00:00:00"), "CANCEL_DEPARTURE", "2024-05-15 11:59:00"))
      .toDF("deviation_case_id", "bulletin_id", "valid_from", "valid_to", "type", "last_modified")
      .select(col("deviation_case_id"), col("bulletin_id"),
        col("valid_from").cast(T), col("valid_to").cast(T),
        col("type"), col("last_modified").cast(T))
    write(dc, "deviation_cases")

    // --- affected_departures: (case, departure, status, type, lm)
    val ad = Seq(
      (1L, 601L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:00:00")),
      (11L, 601L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:05:00")),
      (2L, 602L, "deleted", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:10:00")),
      (5L, 603L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:20:00")),
      (5L, 603L, "deleted", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:25:00")),
      (6L, 604L, "deleted", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:30:00")),
      (6L, 604L, "deleted", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:35:00")),
      (3L, 605L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 11:50:00")),
      (4L, 606L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-10 09:00:00")),
      (7L, 607L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:40:00")),
      (12L, 608L, "active", "WEIRD_AD_TYPE", Some("2024-05-15 10:45:00")),
      (17L, 615L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:47:00")),
      (8L, 609L, "active", "CANCEL_ENTIRE_DEPARTURE", None),
      (9L, 610L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:50:00")),
      (10L, 611L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:55:00")),
      (10L, 612L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:56:00")),
      (13L, 613L, "active", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 10:57:00")),
      (16L, 614L, "deleted", "CANCEL_ENTIRE_DEPARTURE", Some("2024-05-15 11:55:00")))
      .toDF("deviation_case_id", "departure_id", "status", "type", "last_modified")
      .select(col("deviation_case_id"), col("departure_id"), col("status"),
        col("type"), col("last_modified").cast(T))
    write(ad, "affected_departures")

    // --- bulletins + localized messages
    val bulletins = Seq(
      (21L, "VEHICLE_BREAKDOWN", "BREAK_MALFUNCTION"),
      (22L, "TRAFFIC_ACCIDENT", "ROAD_CLOSED"),
      (23L, "ROAD_MAINTENANCE", "ROAD_TRENCH"),
      (24L, "WEATHER", "SLIPPERINESS"),
      (25L, "STRIKE", "STAFF_SHORTAGE"),
      (26L, "STAFF_DEFICIT", "STAFF_SHORTAGE"),
      (27L, "VEHICLE_BREAKDOWN", "OUT_OF_FUEL"),
      (28L, "TRAFFIC_ACCIDENT", "OTHER"),
      (29L, "VEHICLE_BREAKDOWN", "OTHER"),
      (30L, "WEATHER", "SLIPPERINESS"),
      (31L, "VEHICLE_BREAKDOWN", "BREAK_MALFUNCTION"),
      (32L, "TRAFFIC_ACCIDENT", "OTHER"),
      (33L, "ROAD_MAINTENANCE", "ROAD_CLOSED"),
      (34L, "NOT_A_CATEGORY", "OTHER"), // E1c
      (36L, "STRIKE", "OTHER"))
      .toDF("bulletins_id", "category", "sub_category")
    write(bulletins, "bulletins")

    val fiIds = Seq(21L, 22L, 23L, 24L, 25L, 26L, 27L, 28L, 30L, 31L, 32L, 33L, 34L, 36L)
    val blm =
      (fiIds.map(i => (i, "fi", s"Peruttu $i", s"Lähtö peruttu, tapaus $i"))
        :+ ((29L, "sv", "Inställd 29", "Avgång inställd, fall 29")) // F1: sv-only
        :+ ((21L, "sv", "Inställd 21", "Avgång inställd, fall 21"))) // extra sv row
        .toDF("bulletins_id", "language_code", "title", "description")
    write(blm, "bulletin_localized_messages")

    // --- DatedVehicleJourney / VehicleJourney / templates
    val dvj = Seq(
      (601L, "2024-05-16", 501L, 701L, None, "1900-01-01 08:30:00"),
      (602L, "2024-05-16", 502L, 702L, None, "1900-01-01 08:35:00"),
      (603L, "2024-05-16", 503L, 703L, None, "1900-01-01 08:40:00"),
      (604L, "2024-05-16", 504L, 704L, None, "1900-01-01 08:45:00"),
      (605L, "2024-05-16", 505L, 705L, None, "1900-01-01 08:50:00"),
      (606L, "2024-05-16", 506L, 706L, None, "1900-01-01 08:55:00"),
      (607L, "2024-05-16", 507L, 707L, None, "1900-01-01 09:00:00"),
      (608L, "2024-05-16", 508L, 708L, None, "1900-01-01 09:05:00"),
      (609L, "2024-05-16", 509L, 709L, None, "1900-01-01 09:10:00"),
      (610L, "2024-05-16", 510L, 710L, None, "1900-01-01 09:15:00"),
      (611L, "2024-05-16", 511L, 711L, Some(999L), "1900-01-01 09:20:00"), // F6
      (612L, "2024-05-16", 512L, 712L, None, "1900-01-01 09:25:00"), // F5 via VJT 712
      (613L, "2024-05-16", 513L, 713L, None, "1900-01-02 04:15:00"), // T1 → 28:15:00
      (614L, "2024-05-14", 514L, 714L, None, "1900-01-01 09:35:00"), // opday < today
      (615L, "2024-05-16", 515L, 715L, None, "1900-01-01 09:40:00"))
      .toDF("Id", "OperatingDayDate", "IsBasedOnVehicleJourneyId",
        "IsBasedOnVehicleJourneyTemplateId", "IsReplacedById",
        "PlannedStartOffsetDateTime")
      .select(col("Id"), col("OperatingDayDate").cast("date"),
        col("IsBasedOnVehicleJourneyId"),
        col("IsBasedOnVehicleJourneyTemplateId"), col("IsReplacedById"),
        col("PlannedStartOffsetDateTime").cast(T))
    write(dvj, "DatedVehicleJourney")

    write((501L to 515L).toDF("Id"), "VehicleJourney")

    // GID: 16 digits, digit 12 (1-based) = Jore direction 1|2.
    val vjt = (701L to 715L).map { id =>
      val direction = if (id % 2 == 1) "1" else "2"
      val gid = "12345678901" + direction + f"0$id"
      (id, if (id == 712L) None else Some(gid)) // F5: NULL GID
    }.toDF("Id", "IsWorkedOnDirectionOfLineGid")
    write(vjt, "VehicleJourneyTemplate")

    // --- EAV: KeyVariantValue / KeyVariantType / KeyType / ObjectType
    // VJ 501 carries all three accepted key types (J7 fan-out ×3, collapsed
    // by A1 dedup); every other VJ exactly one RouteName row. VJ 503 also
    // carries an off-list key (F3 drop) and a RouteName extending the wrong
    // object type (F4 drop via J10).
    val kvv =
      (Seq(
        (501L, 11L, "1001"), (501L, 12L, "1001 2"), (501L, 13L, "Route 55"))
        ++ (502L to 515L).map(v => (v, 13L, s"Route ${v - 400}"))
        ++ Seq((503L, 14L, "off-list key"), (503L, 15L, "wrong object type")))
        .toDF("IsForObjectId", "IsOfKeyVariantTypeId", "StringValue")
    write(kvv, "KeyVariantValue")

    write(Seq((11L, 1L), (12L, 2L), (13L, 3L), (14L, 4L), (15L, 5L))
      .toDF("Id", "IsForKeyTypeId"), "KeyVariantType")

    write(Seq(
      (1L, 100, "JoreIdentity"), (2L, 100, "JoreRouteIdentity"),
      (3L, 100, "RouteName"), (4L, 100, "SomeOtherKey"),
      (5L, 200, "RouteName"))
      .toDF("Id", "ExtendsObjectTypeNumber", "Name"), "KeyType")

    write(Seq((100, "VehicleJourney"), (200, "Route"))
      .toDF("Number", "Name"), "ObjectType")

    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/_GENERATED"), "ok")
  }
}
