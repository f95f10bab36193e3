package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Mix, SketchState}

/** Streaming DoReMi: exact batch equivalence (the (src, token) count
  * state is additive), arrival-split invariance, and the weight read
  * matching the one-shot operator. */
class DoremiStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "common", "a b c a b"), (2L, "common", "a b c c"),
    (3L, "weird", "xq yq zq xq"), (4L, "common", "b c a"),
    (5L, "weird", "yq zq xq yq zq")
  ).toDF("doc_id", "source", "text")

  private def tmp() =
    CacheHygiene.tempDir("doremi_spec")

  test("accumulated count state equals one-shot counts under ANY split") {
    val oneShot = Mix.doremiCounts(docs, col("text"), col("source"))
      .collect().map(_.toSeq).toSet
    Seq(Seq(Seq(1L, 2L, 3L, 4L, 5L)),
        Seq(Seq(1L), Seq(2L, 3L), Seq(4L, 5L)),
        Seq(Seq(5L, 4L), Seq(3L, 2L), Seq(1L)))
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          DoremiStream.ingestBatch(spark,
            docs.filter(col("doc_id").isin(ids.map(lit): _*)),
            col("text"), col("source"), state)
        }
        val acc = SketchState.read(spark, s"$state/src_token_counts")
          .collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("readWeights equals the one-shot doremiReweight exactly") {
    val oneShot = Mix.doremiReweight(docs, col("text"), col("source"),
      eta = 1.0, smoothing = 0.2).collect().map(_.toSeq).toSet
    val state = tmp()
    (0 until 3).foreach { b =>
      DoremiStream.ingestBatch(spark, docs.filter(col("doc_id") % 3 === b),
        col("text"), col("source"), state)
    }
    val streamed = DoremiStream.readWeights(spark, state,
      eta = 1.0, smoothing = 0.2).collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
  }
}
