package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Datasheet}

/** Streaming mix drift: exact batch equivalence (volumes are additive),
  * arrival-split invariance, and state survival through the shared
  * swap-replace protocol. */
class MixDriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a", "one two three"), (2L, "a", "four five"),
    (3L, "b", "six"), (4L, "b", "seven eight nine ten"),
    (5L, "c", "eleven twelve"), (6L, "a", "thirteen")
  ).toDF("doc_id", "src_col", "text")

  private def tmp() =
    CacheHygiene.tempDir("mixdrift_spec")

  test("accumulated state equals one-shot volumes under ANY batch split") {
    val oneShot = Datasheet.sourceVolumes(docs, col("text"), col("src_col"))
      .collect().map(_.toSeq).toSet
    Seq(Seq(Seq(1L, 2L, 3L, 4L, 5L, 6L)),               // single batch
        Seq(Seq(1L), Seq(2L, 3L), Seq(4L, 5L, 6L)),     // uneven split
        Seq(Seq(6L, 5L), Seq(4L, 3L), Seq(2L, 1L)))     // reversed order
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          MixDriftStream.ingestBatch(spark,
            docs.filter(col("doc_id").isin(ids.map(lit): _*)),
            col("text"), col("src_col"), state)
        }
        val acc = graft.operators.SketchState
          .read(spark, s"$state/volumes").collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("driftVsReference equals the batch operator's mixDrift") {
    val newer = docs.filter(col("src_col") =!= "b")
    val batchOp = Datasheet.mixDrift(docs, newer,
      col("text"), col("src_col")).collect().map(_.toSeq).toSet
    val state = tmp()
    (0 until 2).foreach { b =>
      MixDriftStream.ingestBatch(spark,
        newer.filter(col("doc_id") % 2 === b),
        col("text"), col("src_col"), state)
    }
    val streamed = MixDriftStream.driftVsReference(spark, state,
      Datasheet.sourceVolumes(docs, col("text"), col("src_col")))
      .collect().map(_.toSeq).toSet
    assert(streamed === batchOp)
  }

  test("a crash between delete and rename is recovered: the complete " +
      "swap is adopted on the next ingest") {
    val state = tmp()
    MixDriftStream.ingestBatch(spark, docs.filter(col("doc_id") <= 3),
      col("text"), col("src_col"), state)
    // simulate the crash point: live dir deleted, complete swap present
    val live = new java.io.File(s"$state/volumes")
    val swap = new java.io.File(s"$state/volumes.__swap")
    val saved = new java.io.File(s"$state/volumes.__saved")
    assert(live.renameTo(saved))
    assert(saved.renameTo(swap))
    MixDriftStream.ingestBatch(spark, docs.filter(col("doc_id") > 3),
      col("text"), col("src_col"), state)
    val acc = graft.operators.SketchState
      .read(spark, s"$state/volumes").collect().map(_.toSeq).toSet
    val oneShot = Datasheet.sourceVolumes(docs, col("text"), col("src_col"))
      .collect().map(_.toSeq).toSet
    assert(acc === oneShot, "the interrupted batch's state must survive")
  }
}
