package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HyperLogLog: accuracy envelope, max-merge of register tables,
  * small-range correction, determinism. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def keys(n: Long, salt: Int) = spark.range(n).select(
    lit("g").as("grp"),
    concat(lit(s"k$salt-"), col("id")).as("k"))

  test("estimate lands inside the 1.04/sqrt(m) envelope at 100k distinct") {
    val est = Sketch.hllDistinctByGroup(keys(100000L, 0), lit(0), col("k"),
        p = 8)
      .select("est_distinct").as[Double].head()
    // 3 sigma at p=8 is ~19.5%
    assert(math.abs(est - 100000.0) / 100000.0 < 0.2, s"est $est")
  }

  test("duplicates do not move the estimate (distinct semantics)") {
    val once = Sketch.hllDistinctByGroup(keys(5000L, 1), lit(0), col("k"),
        p = 8)
      .select("est_distinct").as[Double].head()
    val tripled = Sketch.hllDistinctByGroup(
      keys(5000L, 1).unionAll(keys(5000L, 1)).unionAll(keys(5000L, 1)),
      lit(0), col("k"), p = 8)
      .select("est_distinct").as[Double].head()
    assert(once === tripled)
  }

  test("register tables of shards max-merge to the whole-corpus table") {
    val a = keys(20000L, 2)
    val b = keys(15000L, 3)
    val merged = Sketch.hllRegistersByGroup(a, col("grp"), col("k"), 8)
      .unionAll(Sketch.hllRegistersByGroup(b, col("grp"), col("k"), 8))
      .groupBy("grp", "reg").agg(max("mrho").as("mrho"))
    val whole = Sketch.hllRegistersByGroup(a.unionAll(b), col("grp"),
      col("k"), 8)
    assert(merged.collect().map(_.toSeq).toSet ===
      whole.collect().map(_.toSeq).toSet)
    val eMerged = Sketch.hllEstimateFromRegisters(merged, 8)
      .select("est_distinct").as[Double].head()
    val eWhole = Sketch.hllDistinctByGroup(a.unionAll(b), lit(0),
        col("k"), 8)
      .select("est_distinct").as[Double].head()
    assert(eMerged === eWhole)
  }

  test("small cardinalities take the linear-counting branch, near-exact") {
    val est = Sketch.hllDistinctByGroup(keys(20L, 4), lit(0), col("k"),
        p = 8)
      .select("est_distinct").as[Double].head()
    assert(math.abs(est - 20.0) < 2.0, s"est $est")
  }

  test("streamed ingest equals batch for any split; re-delivery absorbed") {
    val two = spark.range(9000).select(
      when(col("id") % 2 === 0, "even").otherwise("odd").as("grp"),
      (col("id") % 4000).cast("string").as("k"))
    val state = CacheHygiene.tempDir("hllspec") + "/s"
    Seq(0, 1, 2).foreach { b =>
      Sketch.hllIngestBatch(two.filter(col("id") % 3 === b), col("grp"),
        col("k"), 8, state)
    }
    // re-deliver batch 1 wholesale: max-merge must absorb it
    Sketch.hllIngestBatch(two.filter(col("id") % 3 === 1), col("grp"),
      col("k"), 8, state)
    val streamed = Sketch.hllEstimatesFromState(spark, state, 8)
      .collect().map(_.toSeq).toSet
    val batch = Sketch.hllDistinctByGroup(two, col("grp"), col("k"), 8)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("deterministic under repartitioning, groups independent") {
    val two = spark.range(30000).select(
      when(col("id") % 2 === 0, "even").otherwise("odd").as("grp"),
      (col("id") % 10000).cast("string").as("k"))
    val x = Sketch.hllDistinctByGroup(two, col("grp"), col("k"), 8)
      .collect().map(_.toSeq).toSet
    val y = Sketch.hllDistinctByGroup(two.repartition(11), col("grp"),
      col("k"), 8).collect().map(_.toSeq).toSet
    assert(x === y)
    assert(x.size === 2)
  }
}
