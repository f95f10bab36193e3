package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.{Exchange => PhysExchange}

import graft.SparkSpec
import graft.sources.Sinks

/** Salting correctness (identical results to unsalted plans) and sink
  * layout guarantees (partition pruning dirs; bucketed join without
  * exchanges). */
class SkewAndSinksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val skewed = (
    Seq.fill(1000)(("hot", 1)) ++ (1 to 50).map(i => (s"k$i", i))
  ).toDF("k", "v")

  test("saltedCount equals plain groupBy count") {
    val plain = skewed.groupBy("k").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    val salted = Skew.saltedCount(skewed, Seq("k"), 8)
      .as[(String, Long)].collect().toSet
    assert(salted === plain)
  }

  test("saltedJoin equals plain inner join") {
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k2col", "tag")
    val plain = skewed.join(dim, skewed("k") === dim("k2col"))
      .select("k", "v", "tag").as[(String, Int, String)].collect().sorted
    val salted = Skew.saltedJoin(skewed, dim, "k", "k2col", 8)
      .select("k", "v", "tag").as[(String, Int, String)].collect().sorted
    assert(salted === plain)
    assert(salted.length === 1002)
  }

  test("writePartitioned lays out one directory per partition value") {
    val base = CacheHygiene.tempDir("part")
    Sinks.writePartitioned(
      Seq(("20240516", 1L), ("20240517", 2L)).toDF("day", "id"),
      base, Seq("day"))
    val dirs = new java.io.File(base).listFiles().map(_.getName)
      .filter(_.startsWith("day=")).sorted
    assert(dirs === Array("day=20240516", "day=20240517"))
    // partition filter prunes to a single directory's rows
    assert(spark.read.parquet(base).filter(col("day") === "20240516")
      .count() === 1)
  }

  test("bucketed tables join without a shuffle on either side") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a dropped catalog entry can leave its managed location behind from a
    // previous JVM — Spark then refuses to recreate the table
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
    val orders = (1L to 100L).map(i => (i, s"o$i")).toDF("okey", "otag")
    val items = (1L to 300L).map(i => (i % 100 + 1, i)).toDF("okey", "item")
    Sinks.writeBucketed(orders, "b_orders", 4, Seq("okey"), Seq("okey"))
    Sinks.writeBucketed(items, "b_lineitem", 4, Seq("okey"), Seq("okey"))

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), "okey")
    assert(joined.count() === 300)
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: PhysExchange => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join should be shuffle-free, found: $exchanges")
  }
}
