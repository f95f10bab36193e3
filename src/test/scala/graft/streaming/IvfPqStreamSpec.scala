package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Quantize}
import graft.sources.Tables

/** Streaming IVF-PQ index: encoding is a pure per-row function of the
  * vector and the FIXED codebooks, so the accumulated index must equal
  * the batch operator's codes under any arrival split — no ordering
  * caveat (unlike the dedup streams, there is no cross-row decision). */
class IvfPqStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val m = 8
  private val dim = 64

  private def setup() = {
    val embs = Tables.embeddings(spark, sf)
    val coarse = Quantize.seedCodebook(embs, col("vec_id"),
      col("embedding"), 30L to 37L)
    val rb = Quantize.residualSeedCodebook(embs, col("vec_id"),
      col("embedding"), 10L to 25L, coarse)
    (embs, coarse, rb)
  }

  test("accumulated topK equals the batch operator under an uneven split") {
    val (embs, coarse, rb) = setup()
    val dir = CacheHygiene.tempDir("ivfpq_spec")
    // deliberately uneven, id-NON-monotone arrival: odds before evens
    for (parity <- Seq(1, 0)) {
      IvfPqStream.ingestBatch(spark,
        embs.filter(col("vec_id") % 2 === parity), dir,
        col("vec_id"), col("embedding"), coarse, rb, m, dim)
    }
    val queries = embs.filter($"vec_id" < 5)
    val streamed = IvfPqStream.topK(spark, dir, queries, "vec_id",
        "embedding", coarse, rb, m, dim, nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val listC = Quantize.ivfListCol(col("embedding"), coarse)
    val batchCodes = Quantize.pqEncode(embs, col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse),
        rb, m, dim, keep = Seq(listC.as("list_id")))
      .drop("distortion")
    val batch = Quantize.ivfPqResidualTopK(batchCodes, queries, "vec_id",
        "embedding", coarse, rb, m, dim, nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("delta fold + compaction bound the index file count across many " +
      "tiny batches; every row survives exactly once") {
    val (embs, coarse, rb) = setup()
    val dir = CacheHygiene.tempDir("ivfpq_compact")
    val ceiling = 16
    var lastFiles = 0
    // 10 batches of 50 vectors, each touching up to 8 list partitions —
    // appends land in the flat _delta segment; the excess-triggered fold
    // (ceiling/4 = 4 delta files) clusters them into list_id partitions,
    // band compaction keeps the folded layout merged
    (0 until 10).foreach { b =>
      val r = IvfPqStream.ingestBatch(spark,
        embs.filter(col("vec_id") >= b * 50 && col("vec_id") < (b + 1) * 50),
        dir, col("vec_id"), col("embedding"), coarse, rb, m, dim,
        compactAfterFiles = ceiling)
      lastFiles = r.stateFiles
    }
    // the excess-compaction law: steady state stays within ~2× the
    // trigger (folded bulk) plus the bounded un-folded delta tail
    assert(lastFiles <= 2 * ceiling,
      s"index files not bounded: $lastFiles after 10 batches")
    // folds actually fired: the partitioned serving layout exists (the
    // DPP-pruned bulk is the scale story — an implementation that never
    // folds would pass the count checks with a flat delta alone)
    val listDirs = new java.io.File(s"$dir/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("list_id="))
    assert(listDirs > 0, "no list_id partitions — the delta never folded")
    // content survives fold + compaction: every corpus row indexed once
    // (read through the stream's own reader: folded bulk ∪ delta tail)
    val indexed = IvfPqStream.indexCodes(spark, dir)
    assert(indexed.count() === embs.count())
    assert(indexed.select("id").distinct().count() === embs.count())
  }
}
