package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Similarity}

/** Incremental semantic dedup: batch equivalence under monotone splits,
  * dropped-vector justification across batches, the exact-copy hash path,
  * first-arrival semantics out of order, and compaction. */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // three exact-copy families (ids {1,5}, {2,6,9}, {3}) plus a
  // near-but-not-exact neighbor (id 7 ≈ id 3) and an orthogonal
  // singleton (id 8); dim 4, bits 2 — small enough that family members
  // provably co-bucket (identical vectors always do)
  private lazy val vecs = Seq(
    1L -> Array(1f, 0f, 0f, 0f),
    2L -> Array(0f, 1f, 0f, 0f),
    3L -> Array(0f, 0f, 1f, 0f),
    5L -> Array(1f, 0f, 0f, 0f),
    6L -> Array(0f, 1f, 0f, 0f),
    7L -> Array(0f, 0.1f, 0.99f, 0f),
    8L -> Array(0f, 0f, 0f, 1f),
    9L -> Array(0f, 1f, 0f, 0f)
  ).toDF("id", "emb")

  private val (dim, bits, seed, threshold) = (4, 2, 7L, 0.9)

  private def batchDecisions =
    Similarity.semanticDedup(vecs, col("id"), col("emb"),
      dim, bits, seed, threshold)
      .as[(Long, Boolean)].collect().toSet

  private def sink(dir: String) =
    spark.read.parquet(s"$dir/sink").as[(Long, Boolean)].collect()

  test("monotone splits accumulate exactly the batch operator's decisions") {
    for (bounds <- Seq(Seq(0L, 100L), Seq(0L, 5L, 100L),
        Seq(0L, 3L, 7L, 100L))) {
      val base = CacheHygiene.tempDir("semstream")
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        SemDedupStream.ingestBatch(spark,
          vecs.filter(col("id") >= lo && col("id") < hi),
          s"$base/state", s"$base/sink", dim, bits, seed, threshold)
      }
      val out = sink(base)
      assert(out.length === 8, s"one decision per vector for $bounds")
      assert(out.toSet === batchDecisions, s"batch equivalence for $bounds")
    }
  }

  test("a vector DROPPED in an earlier batch still justifies later drops") {
    // id 2 kept (first of its family), id 6 dropped by 2; id 9 arrives in
    // a LATER batch and must be dropped even though its in-state matches
    // include the dropped id 6 — the state keeps dropped values too
    val base = CacheHygiene.tempDir("semstream")
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") <= 6),
      s"$base/state", s"$base/sink", dim, bits, seed, threshold)
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") > 6),
      s"$base/state", s"$base/sink", dim, bits, seed, threshold)
    val out = sink(base).toMap
    assert(out(2L) === true)
    assert(out(6L) === false)
    assert(out(9L) === false, "dropped state vector failed to justify")
    // state holds one row per DISTINCT vector value (5 values), not per id
    assert(spark.read.parquet(s"$base/state/vecs").count() === 5L)
  }

  test("exact copies across batches drop via the hash path even at " +
      "threshold 1.0") {
    // cos(v, v) can land just below 1.0 in float; the content-hash path
    // must drop the copy regardless
    val base = CacheHygiene.tempDir("semstream")
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") === 1),
      s"$base/state", s"$base/sink", dim, bits, seed, 1.0)
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") === 5),
      s"$base/state", s"$base/sink", dim, bits, seed, 1.0)
    val out = sink(base).toMap
    assert(out(1L) === true)
    assert(out(5L) === false, "exact copy survived the hash path")
  }

  test("out-of-order arrival degrades to first-arrival-wins") {
    // id 5 arrives before its smaller-id copy 1: the earlier ARRIVAL wins
    val base = CacheHygiene.tempDir("semstream")
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") === 5),
      s"$base/state", s"$base/sink", dim, bits, seed, threshold)
    SemDedupStream.ingestBatch(spark, vecs.filter(col("id") === 1),
      s"$base/state", s"$base/sink", dim, bits, seed, threshold)
    val out = sink(base).toMap
    assert(out(5L) === true)
    assert(out(1L) === false)
    // still exactly one survivor for the family
    assert(out.values.count(identity) === 1)
  }

  test("both state-probe regimes (broadcast batch / sort-merge) make " +
      "identical decisions") {
    // ratio 0 forces the broadcast steady-state shape on every batch;
    // MaxValue forces the sort-merge fallback — decisions must agree
    val outs = Seq(0L, Long.MaxValue).map { ratio =>
      val base = CacheHygiene.tempDir("semstream")
      Seq((0L, 5L), (5L, 100L)).foreach { case (lo, hi) =>
        SemDedupStream.ingestBatch(spark,
          vecs.filter(col("id") >= lo && col("id") < hi),
          s"$base/state", s"$base/sink", dim, bits, seed, threshold,
          broadcastStateRatio = ratio)
      }
      sink(base).toSet
    }
    assert(outs(0) === outs(1))
    assert(outs(0) === batchDecisions)
  }

  test("empty batches are no-ops; state and sink files stay bounded " +
      "under compaction") {
    val base = CacheHygiene.tempDir("semstream")
    assert(SemDedupStream.ingestBatch(spark, vecs.limit(0),
      s"$base/state", s"$base/sink", dim, bits, seed, threshold)
      === SemDedupStream.BatchResult(0, 0))
    vecs.as[(Long, Array[Float])].collect().sortBy(_._1).foreach {
      case (i, v) =>
        SemDedupStream.ingestBatch(spark, Seq(i -> v).toDF("id", "emb"),
          s"$base/state", s"$base/sink", dim, bits, seed, threshold,
          compactAfterFiles = 2)
    }
    def partFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.startsWith("part-"))
    }
    // bound under the r17 TIERED contract: compaction keeps the count
    // structurally bounded (≤ ~2 × occupied (dir, band) groups + the
    // batch's fresh appends) rather than pinned at maxFiles — the price
    // of bounded write amplification (SketchState.compactIfNeeded doc);
    // what matters is that the count does not GROW with the batch count
    assert(partFiles(s"$base/state/vecs") <= 7)
    assert(partFiles(s"$base/sink") <= 7)
    assert(sink(base).toSet === batchDecisions) // output unaffected
  }
}
