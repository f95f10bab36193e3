package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextExprs
import graft.operators.{CacheHygiene, SketchState}

/** Novelty series: first-seen attribution, the Σ n_novel conservation
  * law under any arrival order, and compaction transparency. */
class NovelGramStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    1L -> "a b c d e",        // grams: "a b c","b c d","c d e"
    2L -> "a b c d e",        // all seen if after 1
    3L -> "x y z w",          // grams: "x y z","y z w"
    4L -> "c d e f")          // "c d e" shared with 1, "d e f" new
    .toDF("id", "text")

  private def distinctGrams: Long =
    docs.select(explode(TextExprs.wordShingles(col("text"), 3)).as("g"))
      .select("g").distinct().count()

  test("first-seen attribution: exact per-batch novelty counts") {
    val state = CacheHygiene.tempDir("novel")
    // batch 0: doc 1 → 3 grams, all novel
    // batch 1: docs 2,3 → 5 grams, "x y z","y z w" novel (2)
    // batch 2: doc 4 → 2 grams, "d e f" novel (1)
    val r0 = NovelGramStream.ingestBatch(spark,
      docs.filter(col("id") === 1L), col("text"), 0L, state)
    val r1 = NovelGramStream.ingestBatch(spark,
      docs.filter(col("id").isin(2L, 3L)), col("text"), 1L, state)
    val r2 = NovelGramStream.ingestBatch(spark,
      docs.filter(col("id") === 4L), col("text"), 2L, state)
    assert(r0 === NovelGramStream.BatchResult(3, 3))
    assert(r1 === NovelGramStream.BatchResult(5, 2))
    assert(r2 === NovelGramStream.BatchResult(2, 1))
    val series = NovelGramStream.noveltySeries(spark, state)
      .orderBy("batch_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(series === Seq((0L, 3L, 3L, 1.0), (1L, 5L, 2L, 0.4),
      (2L, 2L, 1L, 0.5)))
  }

  test("conservation: total novelty equals the distinct gram count for " +
    "ANY arrival order; compaction changes nothing") {
    for (order <- Seq(Seq(1L, 2L, 3L, 4L), Seq(4L, 3L, 2L, 1L),
        Seq(3L, 1L, 4L, 2L))) {
      val state = CacheHygiene.tempDir("novel")
      val total = order.zipWithIndex.map { case (id, b) =>
        NovelGramStream.ingestBatch(spark, docs.filter(col("id") === id),
          col("text"), b.toLong, state, compactAfterFiles = 1).nNovel
      }.sum
      assert(total === distinctGrams, s"order $order broke conservation")
    }
  }

  test("the series store is compacted too, and compaction leaves the " +
    "series unchanged") {
    def run(compactAfterFiles: Int): (String, Seq[(Long, Long, Long, Double)]) = {
      val state = CacheHygiene.tempDir("novel")
      Seq(1L, 2L, 3L, 4L).zipWithIndex.foreach { case (id, b) =>
        NovelGramStream.ingestBatch(spark, docs.filter(col("id") === id),
          col("text"), b.toLong, state, compactAfterFiles = compactAfterFiles)
      }
      (state, NovelGramStream.noveltySeries(spark, state).orderBy("batch_id")
        .as[(Long, Long, Long, Double)].collect().toSeq)
    }
    val (state, compacted) = run(compactAfterFiles = 1)
    // one one-row file per batch: the excess trigger max(1, 2 × ideal)
    // bounds the metadata-sized series at 2 files
    val files = SketchState.listPartFiles(spark, s"$state/series").size
    assert(files <= 2, s"series holds $files files after 4 batches")
    assert(compacted === Seq((0L, 3L, 3L, 1.0), (1L, 3L, 0L, 0.0),
      (2L, 2L, 2L, 1.0), (3L, 2L, 1L, 0.5)))
    assert(compacted === run(compactAfterFiles = 64)._2)
  }
}
