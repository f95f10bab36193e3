package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Temperature sampling: α endpoints, small-source up-weighting,
  * determinism. */
class TemperatureMixSpec extends SparkSpec {
  import spark.implicits._

  // "big": 900 rows of weight 1; "small": 100 rows of weight 1
  private def corpus = spark.range(1000).select(
    col("id"),
    when(col("id") < 900, lit("big")).otherwise(lit("small")).as("src"),
    lit(1L).as("w"))

  private def rates(alpha: Double, budget: Long): Map[String, Long] =
    Mix.temperatureSample(corpus, col("id"), col("src"), col("w"),
      alpha, budget)
      .select("grp", "rate_bp").distinct()
      .as[(String, Long)].collect().toMap

  test("alpha=1 degrades to proportional sampling: equal rates") {
    val r = rates(1.0, 500L)
    // shares T_g/ΣT → rate = budget·scale/ΣT for every group
    assert(r("big") === r("small"))
    assert(r("big") === 5000L)
  }

  test("alpha=0 targets equal shares: rates inversely proportional to T") {
    val r = rates(0.0, 200L)
    // each group gets budget/2 = 100: big keeps 100/900, small 100/100
    assert(r("small") === 10000L, "small group fully kept")
    assert(math.abs(r("big") - 1111L) <= 1, s"big rate ${r("big")}")
  }

  test("alpha=0.7 up-weights the small source") {
    val r = rates(0.7, 500L)
    assert(r("small") > r("big"),
      s"small ${r("small")} should exceed big ${r("big")}")
  }

  test("rates cap at scale and keep decision is deterministic") {
    val kept1 = Mix.temperatureSample(corpus, col("id"), col("src"),
      col("w"), 0.7, 500L).select("id").as[Long].collect().sorted.toSeq
    val kept2 = Mix.temperatureSample(corpus.repartition(13), col("id"),
      col("src"), col("w"), 0.7, 500L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept1 === kept2)
    val all = rates(0.7, 1000000L)
    assert(all.values.forall(_ === 10000L), "huge budget → keep-all cap")
  }

  test("streaming ingest anneals: early batches keep more, totals exact") {
    val state = CacheHygiene.tempDir("tmixspec") + "/s"
    val perBatch = (0 until 3).map { b =>
      Mix.temperatureSampleIngestBatch(
        corpus.filter(col("id") % 3 === b), col("id"), col("src"),
        col("w"), 0.7, 200L, 10000, state)
        .select("grp", "rate_bp").distinct()
        .as[(String, Long)].collect().toMap
    }
    // totals grow monotonically → rates never increase batch-over-batch
    Seq("big", "small").foreach { g =>
      assert(perBatch(0)(g) >= perBatch(1)(g))
      assert(perBatch(1)(g) >= perBatch(2)(g))
    }
    // the final batch's rates equal the batch operator's over the full
    // corpus (state totals are exact)
    val batchRates = Mix.temperatureSample(corpus, col("id"), col("src"),
      col("w"), 0.7, 200L).select("grp", "rate_bp").distinct()
      .as[(String, Long)].collect().toMap
    assert(perBatch(2) === batchRates)
  }

  test("zero-weight groups are excluded (zero share), negatives fail") {
    val withZero = corpus.unionAll(
      Seq((5000L, "empty", 0L)).toDF("id", "src", "w"))
    val out = Mix.temperatureSample(withZero, col("id"), col("src"),
      col("w"), 0.7, 500L)
    assert(out.filter(col("grp") === "empty").count() === 0)
    val neg = corpus.unionAll(Seq((6000L, "big", -1L)).toDF("id", "src", "w"))
    val e = intercept[Exception] {
      Mix.temperatureSample(neg, col("id"), col("src"), col("w"),
        0.7, 500L).collect()
    }
    assert(e.getMessage != null)
  }
}
