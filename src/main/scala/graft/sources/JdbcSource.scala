package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.omm.CancellationPipeline.OmmTables

/** S1: JDBC loaders for the OMM source databases (≙ the reference's
  * DriverManager connection + PreparedStatement, OmmConnector.java:34–37,
  * 72–83).
  *
  * Spark-first stance: read each table through the JDBC source and let the
  * engine do the joins natively (broadcast for the small EAV dims), instead
  * of shipping one 11-table SQL string for the database to execute. Filters
  * on key/timestamp columns still push down to the database through the
  * JDBC source (Catalyst pushdown), so the DB only streams the relevant
  * rows. `partitionColumn` options can be layered per table for parallel
  * extraction at cluster scale.
  *
  * The fixture-backed tests use the parquet loaders (CancellationPipeline
  * .loadTables); this path carries the same schema contract.
  */
object JdbcSource {

  def table(spark: SparkSession, url: String, dbtable: String,
            options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", dbtable)
      .options(options)
      .load()

  /** Logical table name → the reference's fully-qualified SQL Server name,
    * two catalogs (cancellations_current_future.sql:20–30). */
  val referenceNames: Map[String, String] = Map(
    "deviation_cases" -> "OMM_Community.dbo.deviation_cases",
    "affected_departures" -> "OMM_Community.dbo.affected_departures",
    "bulletin_localized_messages" -> "OMM_Community.dbo.bulletin_localized_messages",
    "bulletins" -> "OMM_Community.dbo.bulletins",
    "DatedVehicleJourney" -> "ptDOI4_Community.dbo.DatedVehicleJourney",
    "VehicleJourney" -> "ptDOI4_Community.dbo.VehicleJourney",
    "VehicleJourneyTemplate" -> "ptDOI4_Community.dbo.VehicleJourneyTemplate",
    "KeyVariantValue" -> "ptDOI4_Community.T.KeyVariantValue",
    "KeyVariantType" -> "ptDOI4_Community.dbo.KeyVariantType",
    "KeyType" -> "ptDOI4_Community.dbo.KeyType",
    "ObjectType" -> "ptDOI4_Community.dbo.ObjectType")

  /** The 11 OMM relations; `nameFor` maps the logical table name to the
    * database-side identifier (defaults to the reference's SQL Server
    * names; tests map to an embedded database's identifiers). */
  def loadTables(spark: SparkSession, url: String,
                 options: Map[String, String] = Map.empty,
                 nameFor: String => String = referenceNames): OmmTables =
    OmmTables.byName(name => table(spark, url, nameFor(name), options))
}
