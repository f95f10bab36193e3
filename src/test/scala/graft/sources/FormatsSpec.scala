package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CacheHygiene

/** Interchange formats: content-identical round trips, ORC pushdown +
  * pruning, CSV flatness enforcement, no inference anywhere. */
class FormatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("lineitem round-trips content-identically through orc/json/csv") {
    val base = Tables.lineitem(spark, sf)
    val want = base.collect().map(_.toSeq).sortBy(_.toString).toSeq
    for (fmt <- Seq("orc", "json", "csv")) {
      val dir = CacheHygiene.tempDir(s"fmt_$fmt") + "/t"
      Formats.write(base, dir, fmt)
      val got = Formats.read(spark, dir, fmt, base.schema)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(got === want, s"$fmt round trip lost content")
    }
  }

  test("ORC reads push filters and prune columns like parquet") {
    val base = Tables.lineitem(spark, sf)
    val dir = CacheHygiene.tempDir("fmt_orc_p") + "/t"
    Formats.write(base, dir, "orc")
    val q = Formats.read(spark, dir, "orc", base.schema)
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      s"ORC pushdown missing:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"ORC column pruning missing:\n$p")
  }

  test("hive-partitioned layout prunes partitions on read") {
    val base = Tables.lineitem(spark, sf)
      .withColumn("rf", col("l_returnflag"))
    val dir = CacheHygiene.tempDir("fmt_orc_part") + "/t"
    Formats.write(base, dir, "orc", partitionBy = Seq("rf"))
    val q = Formats.read(spark, dir, "orc",
      org.apache.spark.sql.types.StructType(base.schema.fields))
      .filter(col("rf") === "N")
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters: [isnotnull(rf"),
      s"partition pruning missing:\n$p")
  }

  test("CSV refuses nested columns loudly") {
    val nested = spark.range(2).select(array(col("id")).as("a"))
    intercept[IllegalArgumentException] {
      Formats.write(nested, "/tmp/never", "csv")
    }
  }

  test("unknown formats are rejected") {
    intercept[IllegalArgumentException] {
      Formats.write(spark.range(1).toDF(), "/tmp/never", "avro")
    }
  }
}
