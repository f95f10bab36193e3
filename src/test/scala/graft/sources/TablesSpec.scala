package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.CacheHygiene

/** The driver regenerates the parquet fixtures between rounds and the `ts`
  * physical encoding has drifted across generations (nanos, micros-NTZ,
  * plain UTC micros). `Tables.events` must normalize every observed encoding
  * to one stable TimestampType with identical wall-clock values, or every
  * event-table query breaks at analysis time on the next drift. This spec
  * pins each encoding branch against the same logical instants.
  */
class TablesSpec extends SparkSpec {

  // 2024-03-10 07:30:00.123456 UTC and one second later, as epoch micros.
  private val micros = Seq(1710055800123456L, 1710055801123456L)

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = CacheHygiene.tempDir("tables_events")
    df.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def readBack(dir: String): Seq[Long] = {
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType,
      s"events.ts must normalize to TimestampType, got ${got.schema("ts").dataType}")
    got.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
  }

  test("events loader passes plain UTC timestamps through unchanged") {
    import spark.implicits._
    val dir = writeEvents(
      micros.toDF("us").select(timestamp_micros(col("us")).as("ts")))
    assert(readBack(dir) === micros)
  }

  test("events loader casts TIMESTAMP_NTZ wall-clock-preserving under UTC") {
    import spark.implicits._
    val dir = writeEvents(
      micros.toDF("us").select(
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    assert(readBack(dir) === micros)
  }

  test("events loader truncates long nanos toward zero like DuckDB") {
    import spark.implicits._
    // nanos with sub-micro residue: truncation (not rounding) must win.
    val dir = writeEvents(
      micros.toDF("us").select((col("us") * 1000L + 789L).as("ts")))
    assert(readBack(dir) === micros)
  }
}
