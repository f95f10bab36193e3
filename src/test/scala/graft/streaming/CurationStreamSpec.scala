package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CacheHygiene

/** Streaming curation: every stage has a designed victim across batch
  * boundaries — cross-batch dedup, repeated contamination of the same
  * text, quality drop, shard boundary mid-stream — plus replay
  * idempotency and the fixed-holdout contract. */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val benchText =
    "the quick brown fox jumps over the lazy dog while the rain falls on the quiet town and the river runs to the sea"
  private val textA =
    "a calm morning of coffee and code in the old library where students read books about distant stars and the history of ideas"          // 23 tokens
  private val textB =
    "the garden path winds through tall green trees and the small pond reflects the bright summer sky above the wooden bridge near home"   // 23 tokens
  private val textC =
    "el mar brilla and the waves touch of the sand while fishermen mend the nets and the gulls circle above the boats in the warm light of the afternoon sun" // 30 tokens

  private def bench = Seq((100L, benchText)).toDF("doc_id", "text")

  // ids are batch-ordered; the same TEXT recurs across batches
  private def batch1 = Seq(
    (1L, benchText),  // contaminated -> dropped
    (2L, textA),      // accepted
    (3L, "12345 ++")  // quality floor
  ).toDF("doc_id", "text")
  private def batch2 = Seq(
    (4L, textA),      // cross-batch duplicate of 2 -> deduped
    (5L, textB),      // accepted
    (6L, benchText)   // contaminated AGAIN (text-level drop re-applies)
  ).toDF("doc_id", "text")
  private def batch3 = Seq(
    (7L, textC),      // accepted — crosses the shard boundary
    (8L, textB)       // cross-batch duplicate of 5 -> deduped
  ).toDF("doc_id", "text")

  private def tmp() =
    CacheHygiene.tempDir("curation_stream")

  test("cross-batch dedup, repeated contamination, quality floor, " +
    "mid-stream shard boundary; replay is a no-op") {
    val state = tmp()
    CurationStream.installBenchmark(spark, bench, "text", n = 3,
      stateDir = state)
    // budget 30: A(23) opens shard 0; B starts at prefix 23 < 30 so it
    // is ALSO shard 0 (byBudget assigns by starting offset, spanning
    // past the budget); C starts at prefix 46 -> shard 1
    Seq(batch1, batch2, batch3).foreach { b =>
      CurationStream.ingestBatch(spark, b, "doc_id", "text",
        qualityFloor = 0.4, n = 3, budget = 30L, stateDir = state)
    }
    val got = CurationStream.readCurated(spark, state)
      .collect().map(_.toSeq).toSet
    val expected = Set(
      Seq(2L, 23L, 0L),  // prefix 0
      Seq(5L, 23L, 0L),  // prefix 23 < 30 — starts inside shard 0
      Seq(7L, 30L, 1L))  // prefix 46 -> shard 1
    assert(got === expected)
    // at-least-once: replaying the last batch changes nothing
    assert(CurationStream.ingestBatch(spark, batch3, "doc_id", "text",
      qualityFloor = 0.4, n = 3, budget = 30L, stateDir = state) == 0L)
    val again = CurationStream.readCurated(spark, state)
      .collect().map(_.toSeq).toSet
    assert(again === expected)
  }

  test("the holdout is fixed: re-installation is rejected, ingest " +
    "before installation is rejected") {
    val state = tmp()
    intercept[IllegalArgumentException] {
      CurationStream.ingestBatch(spark, batch1, "doc_id", "text",
        qualityFloor = 0.4, n = 3, budget = 30L, stateDir = state)
    }
    CurationStream.installBenchmark(spark, bench, "text", n = 3,
      stateDir = state)
    intercept[IllegalArgumentException] {
      CurationStream.installBenchmark(spark, bench, "text", n = 3,
        stateDir = state)
    }
  }
}
