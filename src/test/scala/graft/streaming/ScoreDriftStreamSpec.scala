package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Classify}

/** Streaming score drift: additive histogram state equals the one-shot
  * binning for any arrival split, so the drift read reproduces the batch
  * operator exactly. */
class ScoreDriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ref = Seq(0.05, 0.15, 0.15, 0.55, 0.95).toDF("score")
  private lazy val cur =
    Seq(0.05, 0.25, 0.55, 0.56, 0.95, 0.97).toDF("score")

  private def oneShot = Classify.scoreDrift(ref, cur, col("score"))
    .as[(Int, Long, Long, Double, Double, Double, Long)].collect().toSet

  test("any arrival split of the current snapshot equals the batch drift") {
    for (nSplits <- Seq(1, 2, 3)) {
      val state = CacheHygiene.tempDir("sdrift")
      val rows = cur.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(lit(0L), lit(1L))).orderBy(col("score"))))
      (0 until nSplits).foreach { b =>
        ScoreDriftStream.ingestBatch(spark,
          rows.filter(col("rn") % nSplits === b), col("score"), state)
      }
      val got = ScoreDriftStream.driftVsReference(spark, state,
          Classify.binCounts(ref, col("score")))
        .as[(Int, Long, Long, Double, Double, Double, Long)]
        .collect().toSet
      assert(got === oneShot, s"$nSplits-way split diverged")
    }
  }

  test("empty batches are no-ops") {
    val state = CacheHygiene.tempDir("sdrift")
    ScoreDriftStream.ingestBatch(spark, cur, col("score"), state)
    ScoreDriftStream.ingestBatch(spark, cur.limit(0), col("score"), state)
    val got = ScoreDriftStream.driftVsReference(spark, state,
        Classify.binCounts(ref, col("score")))
      .as[(Int, Long, Long, Double, Double, Double, Long)].collect().toSet
    assert(got === oneShot)
  }
}
