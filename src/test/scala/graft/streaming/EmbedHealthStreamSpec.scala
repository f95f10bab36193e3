package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Datasheet}

/** Streaming embedding health: the raw aggregate is associative, so any
  * arrival split reproduces the one-shot panel exactly. */
class EmbedHealthStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Seq(
    ("A", 1L, Array(3.0f, 4.0f)),
    ("A", 2L, Array(0.0f, 0.0f)),
    ("A", 3L, Array(1.0f, 2.0f)),
    ("B", 4L, Array(1.0f)),
    ("B", 5L, Array(1.0f, 1.0f, 1.0f)))
    .toDF("grp", "id", "embedding")

  private def oneShot =
    Datasheet.embeddingHealth(embs, col("embedding"), col("grp"))
      .as[(String, Long, Int, Int, Long, Double, Double, Double)]
      .collect().toSet

  test("any arrival split reproduces the one-shot panel exactly") {
    for (nSplits <- Seq(1, 2, 3)) {
      val state = CacheHygiene.tempDir("embhealth")
      (0 until nSplits).foreach { b =>
        EmbedHealthStream.ingestBatch(spark,
          embs.filter(col("id") % nSplits === b),
          col("embedding"), col("grp"), state)
      }
      val got = EmbedHealthStream.health(spark, state)
        .as[(String, Long, Int, Int, Long, Double, Double, Double)]
        .collect().toSet
      assert(got === oneShot, s"$nSplits-way split diverged")
    }
  }
}
