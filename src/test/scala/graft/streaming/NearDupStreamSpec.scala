package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, NearDup}

/** Incremental MinHash-LSH: batch equivalence across arbitrary arrival
  * splits, exactly-once pair emission, state accumulation, and the
  * file-source streaming wrapper. */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  // three near-dup families + singletons; pair members are spread across
  // different (id % 3) arrival batches to force the cross-generation path
  private lazy val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog tonight",
    2L -> "the quick brown fox jumps over the lazy dog tonight ok",
    4L -> "completely unrelated text about spark physical plans here",
    5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    6L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa x",
    8L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa y",
    9L -> "some other singleton document with enough words to shingle"
  ).toDF("id", "text")

  private val params = (3, 8, 2, 0.6) // n, bands, rowsPerBand, threshold

  private def batchPairs = {
    val (n, b, r, t) = params
    NearDup.minhashLshPairs(docs, col("id"), col("text"), n, b, r, t)
      .as[(Long, Long, Double)].collect().toSet
  }

  test("any arrival split accumulates exactly the batch operator's pairs") {
    val (n, b, r, t) = params
    // both verify-side corpus-access shapes must be batch-equivalent:
    // MaxValue pins the full-corpus shingle scan, 0 pins the candidate-id
    // broadcast semi-join (the corpus ≫ batch shape)
    for (ratio <- Seq(Long.MaxValue, 0L);
         splits <- Seq(Seq(0L), Seq(0L, 1L), Seq(0L, 1L, 2L))) {
      val base = CacheHygiene.tempDir("ndstream")
      val results = splits.map { s =>
        NearDupStream.ingestBatch(spark,
          docs.filter(col("id") % splits.length === s),
          s"$base/state", s"$base/sink", n, b, r, t,
          semiJoinCorpusRatio = ratio)
      }
      assert(results.map(_.newDocs).sum === 7)
      val sunk = spark.read.parquet(s"$base/sink")
        .as[(Long, Long, Double)].collect()
      // exactly-once: no pair appears twice across batches
      assert(sunk.length === sunk.toSet.size, "duplicate pair emitted")
      assert(sunk.toSet === batchPairs,
        s"${splits.length}-batch split (ratio=$ratio) diverged from batch")
    }
  }

  test("state accumulates: a later batch pairs with every earlier generation") {
    val (n, b, r, t) = params
    val base = CacheHygiene.tempDir("ndgen")
    // families arrive one member per batch: the third 'alpha' member must
    // pair with BOTH earlier generations via the index, not the self-join
    val r1 = NearDupStream.ingestBatch(spark, docs.filter(col("id") === 5),
      s"$base/state", s"$base/sink", n, b, r, t)
    val r2 = NearDupStream.ingestBatch(spark, docs.filter(col("id") === 6),
      s"$base/state", s"$base/sink", n, b, r, t)
    val r3 = NearDupStream.ingestBatch(spark, docs.filter(col("id") === 8),
      s"$base/state", s"$base/sink", n, b, r, t)
    assert(r1.verifiedPairs === 0)
    assert(r2.verifiedPairs === 1) // (5,6)
    assert(r3.verifiedPairs === 2) // (5,8), (6,8)
    val pairs = spark.read.parquet(s"$base/sink")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((5L, 6L), (5L, 8L), (6L, 8L)))
  }

  test("compaction: many tiny batches stay under the file ceiling with " +
      "identical pair output") {
    val (n, b, r, t) = params
    def partFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.startsWith("part-"))
    }
    def run(compactAfter: Int): (String, Int, Int) = {
      val base = CacheHygiene.tempDir(s"ndcompact$compactAfter")
      // one doc per batch — 7 ingests, each appending its own part files
      docs.orderBy("id").as[(Long, String)].collect().foreach { case (id, _) =>
        NearDupStream.ingestBatch(spark, docs.filter(col("id") === id),
          s"$base/state", s"$base/sink", n, b, r, t,
          compactAfterFiles = compactAfter)
      }
      (base, partFiles(s"$base/state/bands"), partFiles(s"$base/state/docs"))
    }
    // compaction OFF (ceiling never reached): files accumulate per batch
    val (offBase, offBands, offDocs) = run(Int.MaxValue)
    // compaction ON with a ceiling of 2: every ingest that pushes a state
    // dir past 2 part files triggers a rewrite, so the count stays bounded
    // near ceil(bytes/maxPartitionBytes) = 1 regardless of batch count
    val (onBase, onBands, onDocs) = run(2)
    assert(offBands > 2 && offDocs > 2,
      s"fixture too small to exercise compaction: $offBands/$offDocs files")
    assert(onBands <= 2 && onDocs <= 2,
      s"compaction did not bound state files: bands=$onBands docs=$onDocs")
    // the compacted stream's sink is EXACTLY the uncompacted (and batch
    // operator's) pair set — compaction is layout-only
    val sunkOn = spark.read.parquet(s"$onBase/sink")
      .as[(Long, Long, Double)].collect()
    assert(sunkOn.length === sunkOn.toSet.size, "duplicate pair emitted")
    assert(sunkOn.toSet === batchPairs, "compacted run diverged from batch")
    assert(spark.read.parquet(s"$offBase/sink")
      .as[(Long, Long, Double)].collect().toSet === batchPairs)
    // and the compacted state dirs are still a correct index: one more
    // ingest of a fresh near-dup finds its earlier-generation partner
    val extra = Seq(10L -> "the quick brown fox jumps over the lazy dog tonight yes")
      .toDF("id", "text")
    val r4 = NearDupStream.ingestBatch(spark, extra,
      s"$onBase/state", s"$onBase/sink", n, b, r, t, compactAfterFiles = 2)
    assert(r4.verifiedPairs >= 1,
      "post-compaction index lost earlier generations")
  }

  test("sink compaction: every-batch pair emissions stay under the file " +
      "ceiling with identical pair output") {
    val (n, b, r, t) = params
    // 8 identical one-doc batches: every batch after the first emits its
    // pairs against ALL prior docs, so the sink gets >= 7 append
    // file-sets without compaction; ceiling 2 must keep it bounded
    val base = CacheHygiene.tempDir("ndsink")
    (1L to 8L).foreach { id =>
      NearDupStream.ingestBatch(spark,
        Seq(id -> "the quick brown fox jumps over the lazy dog again")
          .toDF("id", "text"),
        s"$base/state", s"$base/sink", n, b, r, t, compactAfterFiles = 2)
    }
    val sinkFiles = new java.io.File(s"$base/sink").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(sinkFiles <= 3,
      s"sink compaction should bound part files, got $sinkFiles")
    // compaction is layout-only: all C(8,2) identical-doc pairs, once each
    val pairs = spark.read.parquet(s"$base/sink")
      .as[(Long, Long, Double)].collect()
    assert(pairs.length === 28, "pair set changed under sink compaction")
    assert(pairs.map(p => (p._1, p._2)).toSet ===
      (for (a <- 1L to 8L; bb <- (a + 1) to 8L) yield (a, bb)).toSet)
    assert(pairs.forall(_._3 === 1.0))
  }

  test("file-source streaming wrapper: dropped files become increments") {
    val (n, b, r, t) = params
    val base = CacheHygiene.tempDir("ndq")
    val incoming = s"$base/incoming"
    new java.io.File(incoming).mkdirs()
    val q = NearDupStream.start(spark, incoming, s"$base/state",
      s"$base/sink", s"$base/ckpt", n, b, r, t, intervalSeconds = 1)
    try {
      // drop the corpus as two files; the second completes the families
      docs.filter(col("id") <= 5).write.mode("append").parquet(incoming)
      val deadline = System.currentTimeMillis() + 180000
      // explicit schema: while a batch is mid-append the sink dir exists
      // with no committed part files yet — inference would throw
      // UNABLE_TO_INFER_SCHEMA on that transient state, an explicit
      // schema just reads it as empty
      val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      def sunkPairs(): Set[(Long, Long, Double)] =
        if (new java.io.File(s"$base/sink").exists)
          spark.read.schema(sinkSchema).parquet(s"$base/sink")
            .as[(Long, Long, Double)].collect().toSet
        else Set.empty
      docs.filter(col("id") > 5).write.mode("append").parquet(incoming)
      while (sunkPairs() != batchPairs &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(sunkPairs() === batchPairs,
        "stream did not converge to the batch pair set")
    } finally q.stop()
  }
}
