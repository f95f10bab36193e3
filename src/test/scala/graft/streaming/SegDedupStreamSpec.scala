package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Dedup}

/** Incremental segment dedup: batch equivalence under monotone splits,
  * first-arrival semantics out of order, state growth by distinct
  * segments only, and compaction. */
class SegDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // segments (w=2): cross-doc repeats ("a b" in docs 1/3/6, "c d" in
  // docs 1/4), a within-doc repeat (doc 6), tails, and an empty doc
  private lazy val docs = Seq(
    1L -> "a b c d",
    2L -> "p q r",
    3L -> "a b x y",
    4L -> "c d",
    5L -> "",
    6L -> "m n m n a b"
  ).toDF("id", "text")

  private val w = 2

  private def batchResult =
    Dedup.dedupSegments(docs, col("id"), col("text"), w)
      .as[(Long, Long, Long, String)].collect().toSet

  private def sink(dir: String) =
    spark.read.parquet(s"$dir/sink")
      .as[(Long, Long, Long, String)].collect()

  test("monotone splits accumulate exactly the batch operator's output") {
    for (bounds <- Seq(Seq(0L, 100L), Seq(0L, 4L, 100L),
        Seq(0L, 2L, 5L, 100L))) {
      val base = CacheHygiene.tempDir("segstream")
      val results = bounds.sliding(2).toSeq.map { case Seq(lo, hi) =>
        SegDedupStream.ingestBatch(spark,
          docs.filter(col("id") >= lo && col("id") < hi),
          s"$base/state", s"$base/sink", w)
      }
      assert(results.map(_.newDocs).sum === 6)
      val out = sink(base)
      assert(out.length === 6, s"one sink row per doc for $bounds")
      assert(out.toSet === batchResult, s"batch equivalence for $bounds")
    }
  }

  test("kept-segment counts decompose across batches (no double emission)") {
    val base = CacheHygiene.tempDir("segstream")
    val r1 = SegDedupStream.ingestBatch(spark,
      docs.filter(col("id") <= 2), s"$base/state", s"$base/sink", w)
    val r2 = SegDedupStream.ingestBatch(spark,
      docs.filter(col("id") > 2), s"$base/state", s"$base/sink", w)
    // batch 1: doc1 [a b][c d] + doc2 [p q][r] -> 4 distinct new segments
    assert(r1 === SegDedupStream.BatchResult(2, 4))
    // batch 2: doc3 adds [x y]; doc4 all seen; doc5 empty; doc6 adds
    // [m n] (once — within-batch repeat collapses); "a b" seen
    assert(r2 === SegDedupStream.BatchResult(4, 2))
    // the hash index grew by distinct segments only
    assert(spark.read.parquet(s"$base/state/segs").count() === 6L)
  }

  test("out-of-order arrival degrades to first-arrival-wins, one survivor") {
    val base = CacheHygiene.tempDir("segstream")
    // doc 3 arrives BEFORE doc 1: "a b" survives in doc 3, not doc 1
    SegDedupStream.ingestBatch(spark,
      docs.filter(col("id") === 3), s"$base/state", s"$base/sink", w)
    SegDedupStream.ingestBatch(spark,
      docs.filter(col("id") =!= 3), s"$base/state", s"$base/sink", w)
    val out = sink(base).map(r => r._1 -> r._4).toMap
    assert(out(3L) === "a b x y")
    assert(out(1L) === "c d") // lost "a b" to the earlier arrival
    // still exactly one survivor per distinct segment corpus-wide
    val survivors = sink(base).map(_._3).sum
    assert(survivors === batchResult.toSeq.map(_._3).sum)
  }

  test("empty batches are no-ops; compaction keeps the file count bounded") {
    val base = CacheHygiene.tempDir("segstream")
    assert(SegDedupStream.ingestBatch(spark, docs.limit(0),
      s"$base/state", s"$base/sink", w) === SegDedupStream.BatchResult(0, 0))
    // 6 one-doc batches with a 2-file ceiling: without compaction the segs
    // dir would hold >= 6 part files (one append per batch)
    docs.as[(Long, String)].collect().sortBy(_._1).foreach { case (i, t) =>
      SegDedupStream.ingestBatch(spark, Seq(i -> t).toDF("id", "text"),
        s"$base/state", s"$base/sink", w, compactAfterFiles = 2)
    }
    val segFiles = new java.io.File(s"$base/state/segs").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(segFiles <= 3, s"compaction should bound part files, got $segFiles")
    // the SINK accumulates one file-set per batch too (6 appends here) —
    // the same excess-triggered rewrite must bound it
    val sinkFiles = new java.io.File(s"$base/sink").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(sinkFiles <= 3,
      s"sink compaction should bound part files, got $sinkFiles")
    assert(sink(base).toSet === batchResult) // output unaffected
  }
}
