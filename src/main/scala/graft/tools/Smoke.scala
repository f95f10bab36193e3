package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev smoke harness: drives the library surface on real testdata.
  * Usage: sbt "runMain graft.tools.Smoke [sfDir]"
  * Not part of the driver contract — Verify/Bench are; this is the
  * fast local loop for eyeballing operator output + plans.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    import graft.functions.TextExprs
    import graft.operators.NearDup
    import graft.sources.Tables

    val docs = Tables.documents(spark, sfDir)
    println("== documents sample ==")
    docs.show(3, 60)

    println("== wordShingles / tokens on documents (incl. empty-doc guard) ==")
    docs.select(col("doc_id"), TextExprs.tokenCount(col("text")).as("n_tok"),
        size(TextExprs.wordShingles(col("text"), 3)).as("n_shingles"))
      .orderBy("doc_id").show(5)
    spark.range(1).select(
      size(TextExprs.wordShingles(lit(""), 3)).as("empty_doc_shingles"),
      size(TextExprs.wordShingles(lit("a b"), 3)).as("short_doc_shingles")).show()

    println("== simhash on documents ==")
    docs.select(col("doc_id"), NearDup.simhash(col("text")).as("simhash"))
      .orderBy("doc_id").show(5)

    println("== minhashLshPairs (id-only band join) ==")
    val pairs = NearDup.minhashLshPairs(docs, col("doc_id"), col("text"),
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    pairs.show(10)
    println(s"pair count: ${pairs.count()}")

    println("== SparkEntry.entry (OMM flagship, driver smoke) ==")
    val entry = graft.SparkEntry.entry(spark)
    entry.show(10, 40)
    println(s"entry rows: ${entry.count()}")

    println("== heavyHitters (MG candidates + exact recount) ==")
    graft.operators.Frequent.heavyHitters(
      docs.select(explode(TextExprs.tokens(col("text"))).as("item")),
      col("item"), minShare = 0.02, counters = 256)
      .orderBy(desc("cnt")).show(10)

    println("== Shard.byBudget (distributed prefix-sum sharding) ==")
    graft.operators.Shard.byBudget(
      docs.select(col("doc_id"),
        TextExprs.tokenCount(col("text")).cast("long").as("n_tok")),
      "doc_id", "n_tok", budget = 2000L)
      .groupBy("shard").count().orderBy("shard").show(5)

    println("== Layout.zValue (Morton key sample) ==")
    Tables.lineitem(spark, sfDir).select(col("l_partkey"), col("l_suppkey"),
      graft.operators.Layout.zValue(col("l_partkey"), col("l_suppkey"),
        1L, 2000L, 1L, 100L, bits = 8).as("z"))
      .orderBy("z").show(5)

    println("== F7 flag: cancellation-types-only filter ==")
    import graft.omm.{CancellationPipeline => P, OmmFixtures => F}
    val tables = P.loadTables(spark, F.dir)
    val all = P.snapshot(tables, P.FromNow, F.now, F.today, F.lookback)
    val strict = P.snapshot(tables, P.FromNow, F.now, F.today,
      F.lookback, cancellationTypesOnly = true)
    println(s"F7 off: ${all.count()} rows; F7 on: ${strict.count()} rows " +
      "(drops the UNKNOWN_TYPE/WEIRD_AD_TYPE fixtures)")

    spark.stop()
  }
}
