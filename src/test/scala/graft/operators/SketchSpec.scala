package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** KMV distinct sketch: estimator accuracy, determinism, and the
  * small-cardinality exact fallback. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("estimate lands within KMV error bounds on a known cardinality") {
    // 20,000 distinct keys, each duplicated 3x — duplicates must not bias
    val n = 20000
    val df = spark.range(n * 3).select((col("id") % n).as("key"))
    val row = Sketch.kmvDistinct(df, col("key"), k = 512).collect().head
    val est = row.getAs[Double]("est_distinct")
    // standard error ~ 1/sqrt(k-2) ≈ 4.4%; assert a generous 3-sigma band
    assert(math.abs(est - n) / n < 0.15, s"estimate $est vs true $n")
    assert(row.getAs[Long]("n_in_sketch") === 512L)
  }

  test("deterministic: same data, same estimate, any partitioning") {
    val df = spark.range(5000).select((col("id") * 7 % 3000).as("key"))
    val a = Sketch.kmvDistinct(df, col("key"), 256).collect().head
    val b = Sketch.kmvDistinct(df.repartition(13), col("key"), 256)
      .collect().head
    assert(a === b, "sketch must not depend on partitioning")
  }

  test("fewer distinct keys than k: sketch is exact") {
    val df = spark.range(10000).select((col("id") % 37).as("key"))
    val row = Sketch.kmvDistinct(df, col("key"), k = 512).collect().head
    assert(row.getAs[Long]("n_in_sketch") === 37L)
    assert(row.getAs[Double]("est_distinct") === 37.0)
  }

  test("by-group: under-k groups are exact, saturated groups estimate") {
    // group "small": 10 distinct keys (< k → exact); "big": 5000 (> k)
    val small = spark.range(100).select(lit("small").as("g"), (col("id") % 10).as("key"))
    val big = spark.range(5000).select(lit("big").as("g"), (col("id") + 1000).as("key"))
    val rows = Sketch.kmvDistinctByGroup(small.union(big), col("g"),
      col("key"), k = 256).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("small").getAs[Double]("est_distinct") === 10.0)
    assert(rows("small").getAs[Long]("n_in_sketch") === 10L)
    val bigEst = rows("big").getAs[Double]("est_distinct")
    assert(math.abs(bigEst - 5000) / 5000 < 0.2, s"big est $bigEst")
  }

  test("by-group: deterministic under repartitioning") {
    val df = spark.range(3000).select(
      concat(lit("g"), col("id") % 3).as("g"), (col("id") % 700).as("key"))
    val a = Sketch.kmvDistinctByGroup(df, col("g"), col("key"), 128)
      .orderBy("grp").collect().toSeq
    val b = Sketch.kmvDistinctByGroup(df.repartition(11), col("g"),
      col("key"), 128).orderBy("grp").collect().toSeq
    assert(a === b)
  }

  test("incremental: ANY arrival split reproduces the batch sketch bit-for-bit") {
    val df = spark.range(20000).select((col("id") * 13 % 7000).as("key"))
    val batch = Sketch.kmvDistinct(df, col("key"), 256).collect().head
    for (splits <- Seq(1, 2, 5)) {
      val state = CacheHygiene.tempDir("kmvinc") + "/state"
      (0 until splits).foreach { b =>
        Sketch.kmvIngestBatch(df.filter(col("id") % splits === b),
          col("key"), 256, state)
      }
      val inc = Sketch.kmvFromState(spark, state, 256).collect().head
      assert(inc === batch, s"$splits-batch split diverged from batch sketch")
    }
  }

  test("incremental: empty batches leave the state unchanged") {
    val df = spark.range(1000).select(col("id").as("key"))
    val state = CacheHygiene.tempDir("kmvempty") + "/state"
    Sketch.kmvIngestBatch(df, col("key"), 64, state)
    val before = Sketch.kmvFromState(spark, state, 64).collect().head
    Sketch.kmvIngestBatch(df.limit(0), col("key"), 64, state)
    assert(Sketch.kmvFromState(spark, state, 64).collect().head === before)
  }

  test("per-partition state is k-bounded (only parts*k values merge)") {
    // huge skewed partition count: the merge input must stay tiny
    val df = spark.range(100000).repartition(32)
      .select(col("id").as("key"))
    val row = Sketch.kmvDistinct(df, col("key"), k = 64).collect().head
    assert(row.getAs[Long]("n_in_sketch") === 64L)
    val est = row.getAs[Double]("est_distinct")
    assert(est > 100000 * 0.5 && est < 100000 * 2.0, s"est $est")
  }

  test("quantile sketch: k >= n makes every quantile exact") {
    // 100 rows, value == id+1 (1..100): with the whole data in the sample,
    // rank ceil(p*100) of the sorted values IS the exact quantile
    val df = spark.range(100).select(col("id").as("uid"),
      (col("id") + 1).cast("double").as("v"))
    val out = Sketch.quantileSketch(df, col("v"), col("uid"), k = 512,
        probs = Seq(0.5, 0.9, 0.99))
      .select("prob", "est_value", "n_sample")
      .as[(Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0.5) === ((0.5, 50.0, 100L)))
    assert(out(0.9) === ((0.9, 90.0, 100L)))
    assert(out(0.99) === ((0.99, 99.0, 100L)))
  }

  test("quantile sketch: saturated sample lands near true quantiles") {
    // 50,000 rows with value == id: rank error is O(1/sqrt(k)); assert a
    // generous band (3 sigma ≈ 3*n/sqrt(k) ≈ 9,400 at k=256)
    val n = 50000
    val df = spark.range(n).select(col("id").as("uid"),
      col("id").cast("double").as("v"))
    val out = Sketch.quantileSketch(df, col("v"), col("uid"), k = 256,
        probs = Seq(0.5, 0.9))
      .select("prob", "est_value").as[(Double, Double)].collect().toMap
    assert(math.abs(out(0.5) - n * 0.5) < n * 0.2, s"p50 ${out(0.5)}")
    assert(math.abs(out(0.9) - n * 0.9) < n * 0.2, s"p90 ${out(0.9)}")
  }

  test("quantile sketch is deterministic under repartitioning") {
    val df = spark.range(20000).select(col("id").as("uid"),
      (col("id") % 997).cast("double").as("v"))
    val a = Sketch.quantileSketch(df, col("v"), col("uid"), 128, Seq(0.5, 0.99))
      .orderBy("prob").collect().toSeq
    val b = Sketch.quantileSketch(df.repartition(17), col("v"), col("uid"),
      128, Seq(0.5, 0.99)).orderBy("prob").collect().toSeq
    assert(a === b, "sample must not depend on partitioning")
  }

  test("by-group quantiles: small groups exact, isolation between groups") {
    // group "small": 40 values 1..40 (< k → sample IS the data, quantiles
    // exact); group "big": 5000 values shifted by 10000 — its presence
    // must not perturb "small"'s estimates
    val small = spark.range(40).select(lit("small").as("g"),
      (col("id") + 1).cast("double").as("v"), col("id").as("uid"))
    val big = spark.range(5000).select(lit("big").as("g"),
      (col("id") + 10000).cast("double").as("v"), (col("id") + 1000).as("uid"))
    val out = Sketch.quantileSketchByGroup(small.union(big), col("g"),
      col("v"), col("uid"), k = 256, probs = Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(out(("small", 0.5)) === 20.0) // rank ceil(0.5*40) = 20
    assert(out(("small", 0.9)) === 36.0)
    assert(out(("big", 0.5)) >= 10000.0, "groups must not bleed")
    // big is saturated: estimate within the sketch error band
    assert(math.abs(out(("big", 0.5)) - 12500.0) < 1500.0)
  }

  test("incremental quantile sketch: any arrival split is bit-identical") {
    val df = spark.range(20000).select(col("id").as("uid"),
      (col("id") % 997).cast("double").as("v"))
    val batchOut = Sketch.quantileSketch(df, col("v"), col("uid"), 128,
      Seq(0.5, 0.9, 0.99)).orderBy("prob").collect().toSeq
    for ((nb, label) <- Seq(2 -> "2 batches", 5 -> "5 batches")) {
      val state = CacheHygiene.tempDir("qtspec") + "/s"
      (0 until nb).foreach { b =>
        Sketch.quantileIngestBatch(df.filter(col("uid") % nb === b),
          col("v"), col("uid"), 128, state)
      }
      // state is exactly the batch sample: <= k rows, same pairs
      assert(spark.read.parquet(state).count() === 128L)
      val inc = Sketch.quantilesFromState(spark, state, 128,
        Seq(0.5, 0.9, 0.99)).orderBy("prob").collect().toSeq
      assert(inc === batchOut, label)
    }
  }

  test("by-group ops fail fast past the per-task group ceiling, not OOM") {
    val many = spark.range(64).select(
      concat(lit("g"), col("id")).as("g"), col("id").cast("string").as("k"),
      col("id").cast("double").as("v")).coalesce(1)
    val e1 = intercept[Exception] {
      Sketch.kmvDistinctByGroup(many, col("g"), col("k"), k = 8,
        maxGroupsPerTask = 16).collect()
    }
    assert(e1.toString.contains("sketch-by-key") ||
      String.valueOf(e1.getCause).contains("sketch-by-key"), s"got $e1")
    val e2 = intercept[Exception] {
      Sketch.quantileSketchByGroup(many, col("g"), col("v"), col("k"),
        k = 8, probs = Seq(0.5), maxGroupsPerTask = 16).collect()
    }
    assert(e2.toString.contains("sketch-by-key") ||
      String.valueOf(e2.getCause).contains("sketch-by-key"), s"got $e2")
    // and a ceiling that fits changes nothing
    val ok = Sketch.kmvDistinctByGroup(many, col("g"), col("k"), k = 8,
      maxGroupsPerTask = 100)
    assert(ok.count() === 64)
  }
}
