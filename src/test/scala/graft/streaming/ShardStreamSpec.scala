package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Shard}

/** Streaming sharding: incremental assignments must be ROW-IDENTICAL
  * to the one-shot prefix-sum pass — including across a shard boundary
  * that falls mid-batch — and replayed batches must be detected. */
class ShardStreamSpec extends SparkSpec {
  import spark.implicits._

  // weights sum to 23; budget 10 → shards 0 (ids 1..4, w 9),
  // 1 (ids 5..7, w 9 … prefix 9..17), 2 (id 8+)
  private def docs = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L),
    (5L, 4L), (6L, 2L), (7L, 4L), (8L, 4L))
    .toDF("doc_id", "n_tok")

  private def tmp() =
    CacheHygiene.tempDir("shard_stream")

  private def oneShot = Shard.byBudget(docs, "doc_id", "n_tok", 10L)
    .collect().map(_.toSeq).toSet

  test("id-split arrival reproduces the one-shot assignment exactly, " +
    "shard boundaries crossing batch boundaries included") {
    Seq(Seq(8L), Seq(3L, 6L, 8L), (1L to 8L).toSeq).foreach { cuts =>
      val state = tmp()
      var prev = 0L
      cuts.foreach { hi =>
        val n = ShardStream.ingestBatch(spark,
          docs.filter(col("doc_id") > prev && col("doc_id") <= hi),
          "doc_id", "n_tok", 10L, state)
        assert(n == (hi - prev), "every batch row must be sharded")
        prev = hi
      }
      val got = ShardStream.readShards(spark, state)
        .collect().map(_.toSeq).toSet
      assert(got === oneShot, s"split $cuts diverged")
    }
  }

  test("a replayed batch is skipped; a watermark-straddling batch is " +
    "rejected; an empty batch is a no-op") {
    val state = tmp()
    val b1 = docs.filter(col("doc_id") <= 4L)
    assert(ShardStream.ingestBatch(spark, b1, "doc_id", "n_tok", 10L,
      state) == 4L)
    // crash-replay of the same batch: detected via the watermark
    assert(ShardStream.ingestBatch(spark, b1, "doc_id", "n_tok", 10L,
      state) == 0L)
    // empty batch
    assert(ShardStream.ingestBatch(spark, docs.limit(0), "doc_id",
      "n_tok", 10L, state) == 0L)
    // a batch straddling the watermark violates the arrival contract
    intercept[IllegalArgumentException] {
      ShardStream.ingestBatch(spark, docs.filter(col("doc_id") >= 3L),
        "doc_id", "n_tok", 10L, state)
    }
    // the stream still completes correctly afterwards
    assert(ShardStream.ingestBatch(spark,
      docs.filter(col("doc_id") > 4L), "doc_id", "n_tok", 10L,
      state) == 4L)
    val got = ShardStream.readShards(spark, state)
      .collect().map(_.toSeq).toSet
    assert(got === oneShot)
  }
}
