package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Count-min sketch: the overestimate guarantee, exactness without
  * collisions, bounded counter state, and partitioning-independence. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  // zipf-ish key stream: key k appears ~ n/k times
  private def zipfKeys(n: Int) =
    spark.range(n).select(
      concat(lit("tok"), (col("id") % 50 * col("id") % 97 % 40)).as("key"))

  test("est >= exact for every probe (collisions only ever add)") {
    val df = zipfKeys(20000)
    val probes = (0 until 40).map(i => s"tok$i")
    val rows = Sketch.countMinEstimates(df, col("key"), depth = 3,
      width = 8, probes = probes).collect()
    assert(rows.length === probes.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CM must overestimate: $r")
    }
    // width 8 with ~40 keys: at least one probe must actually collide,
    // otherwise the test exercises nothing
    assert(rows.exists(r => r.getAs[Long]("est") > r.getAs[Long]("exact")))
  }

  test("wide sketch with few keys is exact, absent probe reads 0") {
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("key")
    val rows = Sketch.countMinEstimates(df, col("key"), depth = 3,
      width = 1024, probes = Seq("a", "b", "c", "zzz_absent"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("a") === ((3L, 3L)))
    assert(rows("b") === ((2L, 2L)))
    assert(rows("c") === ((1L, 1L)))
    assert(rows("zzz_absent") === ((0L, 0L)))
  }

  test("counter table is depth x width bounded regardless of input size") {
    val counters = Sketch.countMinCounters(zipfKeys(30000), col("key"),
      depth = 3, width = 16)
    assert(counters.count() <= 3L * 16)
    // each hash row accounts for every input row
    val perRow = counters.groupBy("row_i").agg(sum("c").as("t"))
      .collect().map(r => r.getAs[Long]("t")).toSet
    assert(perRow === Set(30000L))
  }

  test("deterministic under repartitioning") {
    val df = zipfKeys(5000)
    val probes = Seq("tok0", "tok7", "tok23")
    val a = Sketch.countMinEstimates(df, col("key"), 3, 16, probes)
      .collect().sortBy(_.getString(0)).toSeq
    val b = Sketch.countMinEstimates(df.repartition(13), col("key"), 3, 16,
      probes).collect().sortBy(_.getString(0)).toSeq
    assert(a === b)
  }

  test("incremental ingest over any arrival split equals the batch sketch") {
    val df = zipfKeys(9000)
    val probes = Seq("tok0", "tok3", "tok17", "zzz_absent")
    val batch = Sketch.countMinEstimates(df, col("key"), 3, 16, probes)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    for (nb <- Seq(2, 5)) {
      val state = CacheHygiene.tempDir("cmspec") + "/s"
      (0 until nb).foreach { b =>
        Sketch.countMinIngestBatch(
          df.filter(pmod(hash(col("key")), lit(nb)) === b),
          col("key"), 3, 16, state)
      }
      // state is the batch counter table bit for bit (counter add is exact)
      val stateRows = spark.read.parquet(state)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val batchRows = Sketch.countMinCounters(df, col("key"), 3, 16)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(stateRows === batchRows, s"$nb batches: counter tables differ")
      val inc = Sketch.countMinEstimatesFromState(state, df, col("key"),
        3, 16, probes).collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(inc === batch, s"$nb batches")
    }
  }
}
