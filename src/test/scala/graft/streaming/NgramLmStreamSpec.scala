package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Vocab}

/** Incremental LM count tables: any-split batch equivalence (counts are
  * additive — the one streaming operator with NO ordering caveat) and
  * state-schema sanity. */
class NgramLmStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c"), (2L, "a b c"), (3L, "b c d"), (4L, "c d"),
    (6L, "a b c d e"), (7L, "e f g a b"), (8L, "c c c"),
    (5L, "a b c d x"), (10L, "a c d b")).toDF("doc_id", "text")

  private def batchResult() =
    Vocab.stupidBackoffNll(docs, col("doc_id"), col("text"),
        alpha = 0.4, heldMod = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  private def streamResult(splits: Seq[Seq[Long]]) = {
    val dir = CacheHygiene.tempDir("lmspec")
    val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    splits.foreach { ids =>
      NgramLmStream.ingestBatch(spark,
        train.filter(col("doc_id").isin(ids.map(Long.box): _*)),
        col("doc_id"), col("text"), s"$dir/state")
    }
    NgramLmStream.scoreFromState(spark, s"$dir/state",
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        col("doc_id"), col("text"), alpha = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  test("one-batch ingest reproduces the batch operator exactly") {
    assert(streamResult(Seq(Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L)))
      === batchResult())
  }

  test("uneven multi-batch splits accumulate to the same tables " +
      "(counts are additive — no arrival-order caveat)") {
    val expected = batchResult()
    assert(streamResult(Seq(Seq(1L), Seq(2L, 3L, 4L), Seq(6L, 7L, 8L)))
      === expected)
    assert(streamResult(Seq(Seq(8L, 7L), Seq(6L, 4L, 3L), Seq(2L, 1L)))
      === expected)
    // a batch with nothing longer than 2 tokens still merges cleanly
    assert(streamResult(Seq(Seq(4L), Seq(1L, 2L, 3L, 6L, 7L, 8L)))
      === expected)
  }

  test("delta layout: per-batch appends + forced tiered compaction " +
      "preserve exact counts and the score (r19 LSM ingest)") {
    // one doc per batch with a compaction trigger low enough to fire
    // mid-stream: the reader's per-key sum over delta rows must be
    // invariant under any append/compact interleaving (compaction merges
    // file bands, never rows), so the score still matches the batch
    // operator bit-for-bit
    val expected = batchResult()
    val dir = CacheHygiene.tempDir("lmspec-lsm")
    val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L).foreach { id =>
      NgramLmStream.ingestBatch(spark, train.filter(col("doc_id") === id),
        col("doc_id"), col("text"), s"$dir/state", compactAfterFiles = 2)
    }
    val got = NgramLmStream.scoreFromState(spark, s"$dir/state",
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        col("doc_id"), col("text"), alpha = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === expected)
    // the accumulated count of a key is the SUM of its delta rows —
    // assert the raw-table contract directly: (a,b,c) appears in docs
    // 1, 2, 6 (three different batches here), summing to 3
    val tri = spark.read.parquet(s"$dir/state/tri")
    assert(tri.filter(col("w1") === "a" && col("w2") === "b" &&
        col("w3") === "c")
      .agg(sum(col("c3"))).collect()(0).getLong(0) === 3L)
    // compaction actually fired and bounded the file count: 7 batches ×
    // 3 tables at trigger 2 would otherwise leave ≥ 7 files per table
    val triFiles = new java.io.File(s"$dir/state/tri").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(triFiles < 7, s"compaction never fired: $triFiles part files")
  }

  test("state stores RAW counts; marginals are derived at scoring time") {
    val dir = CacheHygiene.tempDir("lmspec")
    NgramLmStream.ingestBatch(spark, docs.filter(col("doc_id") < 3),
      col("doc_id"), col("text"), s"$dir/state")
    val tri = spark.read.parquet(s"$dir/state/tri")
    assert(tri.columns.toSet === Set("w1", "w2", "w3", "c3"))
    // (a,b,c) twice across docs 1 and 2
    assert(tri.filter(col("w1") === "a").select("c3")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    val uni = spark.read.parquet(s"$dir/state/uni")
    assert(uni.columns.toSet === Set("w3", "c1"))
  }
}
