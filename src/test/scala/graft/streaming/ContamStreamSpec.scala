package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Contamination}

/** Incremental decontamination: batch equivalence for any arrival split
  * of EITHER side (docs and benchmark grams each count a hit exactly
  * once, when the later side arrives), idempotent benchmark
  * re-registration, and crash-safe state accumulation. */
class ContamStreamSpec extends SparkSpec {
  import spark.implicits._

  // corpus docs: one fully contaminated (copy of bench 100), one half
  // (shares a 4-token run with bench 101), two clean, one empty
  private lazy val corpus = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta completely different tail here now",
    3L -> "nothing in common with any benchmark document at all",
    4L -> "spark physical plans and adaptive query execution notes",
    5L -> ""
  ).toDF("id", "text")

  private lazy val bench = Seq(
    100L -> "alpha beta gamma delta epsilon zeta eta theta",
    101L -> "unrelated benchmark prose that matches nothing in corpus"
  ).toDF("id", "text")

  /** The gram index's `nb=` dirs: the layout's bucket moduli. */
  private def moduli(state: String): Seq[Int] =
    new java.io.File(s"$state/grams").list().toSeq
      .filter(_.startsWith("nb=")).map(_.stripPrefix("nb=").toInt)

  /** The bucket numbers of the `b=` dirs under modulus `nb`. */
  private def buckets(state: String, nb: Int): Seq[Int] =
    new java.io.File(s"$state/grams/nb=$nb").list().toSeq
      .filter(_.startsWith("b=")).map(_.stripPrefix("b=").toInt)

  private def oneShot = Contamination.overlapVsBenchmark(
      corpus, bench, col("id"), col("text"), n = 3)
    .as[(Long, Long, Long, Boolean)].collect().toSet

  test("any arrival split of docs AND benchmark equals the batch operator") {
    for (nSplits <- Seq(1, 2, 3)) {
      val state = CacheHygiene.tempDir("contamstream")
      (0 until nSplits).foreach { b =>
        ContamStream.ingestBatch(spark,
          newDocs = corpus.filter(col("id") % nSplits === b),
          newBench = bench.filter(col("id") % nSplits === b),
          stateDir = state, n = 3)
      }
      val got = ContamStream.contamination(spark, state)
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(got === oneShot, s"$nSplits-way split diverged from batch")
    }
  }

  test("gram index is hive-bucketed and the bucket-pruned probe is " +
    "exact at any nBuckets (incl. 1 = no pruning possible)") {
    for (nb <- Seq(1, 7, 64)) {
      val state = CacheHygiene.tempDir("contamstream")
      // docs first, benchmark second — forces the bucket-pruned
      // old-docs probe to produce EVERY hit
      ContamStream.ingestBatch(spark, corpus, bench.limit(0), state,
        n = 3, nBuckets = nb)
      ContamStream.ingestBatch(spark, corpus.limit(0), bench, state,
        n = 3, nBuckets = nb)
      val got = ContamStream.contamination(spark, state)
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(got === oneShot, s"nBuckets=$nb diverged from batch")
      assert(moduli(state) === Seq(nb), s"expected one nb=$nb level")
      val bs = buckets(state, nb)
      assert(bs.nonEmpty && bs.forall(v => v >= 0 && v < nb),
        s"expected b=<0..${nb - 1}> partition dirs, got $bs")
    }
  }

  test("a crash between compaction swaps' delete and rename on `docstats` " +
    "and `hits` is adopted by the next ingest instead of orphaned") {
    val state = CacheHygiene.tempDir("contamstream")
    // batch 0 holds doc 2 and bench 100, so it already appends both a
    // docstats row and a hit row
    ContamStream.ingestBatch(spark, corpus.filter(col("id") % 2 === 0),
      bench.filter(col("id") % 2 === 0), state, n = 3)
    // the crash point for each dir: live dir deleted, its complete
    // replacement (with `_SUCCESS`) still under the swap name
    Seq("docstats", "hits").foreach { name =>
      Files.move(java.nio.file.Paths.get(s"$state/$name"),
        java.nio.file.Paths.get(s"$state/$name.__swap"))
      assert(new java.io.File(s"$state/$name.__swap/_SUCCESS").exists)
    }
    ContamStream.ingestBatch(spark, corpus.filter(col("id") % 2 === 1),
      bench.filter(col("id") % 2 === 1), state, n = 3)
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot, "batch 0's docstats or hits were dropped")
  }

  test("benchmark-after-docs: hits land when the gram side arrives late") {
    val state = CacheHygiene.tempDir("contamstream")
    // all docs first, benchmark only in the second batch
    ContamStream.ingestBatch(spark, corpus, bench.limit(0), state, n = 3)
    val preBench = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(preBench.forall(_._3 === 0L), "overlap before any benchmark")
    ContamStream.ingestBatch(spark, corpus.limit(0), bench, state, n = 3)
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot)
  }

  test("re-registering the same benchmark suite changes nothing") {
    val state = CacheHygiene.tempDir("contamstream")
    ContamStream.ingestBatch(spark, corpus, bench, state, n = 3)
    val r = ContamStream.ingestBatch(spark, corpus.limit(0), bench, state,
      n = 3)
    assert(r.newBenchGrams === 0L && r.newHits === 0L,
      "duplicate benchmark registration must be a no-op")
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot)
  }

  test("empty-doc rows produce no stats row (the batch operator's grain)") {
    val state = CacheHygiene.tempDir("contamstream")
    ContamStream.ingestBatch(spark, corpus, bench, state, n = 3)
    val ids = ContamStream.contamination(spark, state)
      .select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 3L, 4L)) // doc 5 is empty: no shingles
  }

  test("adaptive layout: starts at 1 bucket, grows via rebucket, and the " +
    "grown probe is still exact") {
    val state = CacheHygiene.tempDir("contamstream")
    // docs only, two batches, 1-byte bucket target: the first batch
    // seeds at modulus 1, the post-append rebucket grows the layout, the
    // second batch appends INTO the grown layout
    ContamStream.ingestBatch(spark, corpus.filter(col("id") <= 3),
      bench.limit(0), state, n = 3, bucketTargetBytes = 1L, maxBuckets = 8)
    assert(moduli(state) === Seq(8),
      s"1-byte target must grow to the 8-bucket cap, got ${moduli(state)}")
    ContamStream.ingestBatch(spark, corpus.filter(col("id") > 3),
      bench.limit(0), state, n = 3, bucketTargetBytes = 1L, maxBuckets = 8)
    assert(moduli(state) === Seq(8))
    val bs = buckets(state, 8)
    assert(bs.nonEmpty && bs.forall(v => v >= 0 && v < 8),
      s"grown layout must be b=<0..7>, got $bs")
    // benchmark arrives LAST: every hit comes from the bucket-pruned
    // old-docs probe against the grown layout
    ContamStream.ingestBatch(spark, corpus.limit(0), bench, state,
      n = 3, bucketTargetBytes = 1L, maxBuckets = 8)
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot, "post-rebucket pruned probe diverged")
  }

  test("modulus marker survives the stream's state maintenance; a pinned " +
    "caller that disagrees with the layout is rejected") {
    val state = CacheHygiene.tempDir("contamstream")
    // force growth AND per-batch compaction in the same stream
    (0 until 3).foreach { b =>
      ContamStream.ingestBatch(spark,
        newDocs = corpus.filter(col("id") % 3 === b),
        newBench = bench.filter(col("id") % 3 === b),
        stateDir = state, n = 3, compactAfterFiles = 1,
        bucketTargetBytes = 1L, maxBuckets = 8)
    }
    assert(moduli(state) === Seq(8),
      s"compaction must keep the nb=8 level, got ${moduli(state)}")
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot)
    val e = intercept[IllegalArgumentException] {
      ContamStream.ingestBatch(spark, corpus.limit(0), bench, state,
        n = 3, nBuckets = 64)
    }
    assert(e.getMessage.contains("nBuckets=8"),
      s"pinned-modulus mismatch must name the live layout: ${e.getMessage}")
  }

  test("a crash between a rebucket swap's delete and rename is adopted: " +
    "the next poll probes with the grown modulus") {
    val state = CacheHygiene.tempDir("contamstream")
    // docs only; the 1-byte target rebuckets the index to nb=8 by swap
    ContamStream.ingestBatch(spark, corpus, bench.limit(0), state, n = 3,
      bucketTargetBytes = 1L, maxBuckets = 8)
    assert(moduli(state) === Seq(8))
    // the crash point: live grams deleted, the complete rebucketed
    // layout (with `_SUCCESS`) still under the swap name
    Files.move(java.nio.file.Paths.get(s"$state/grams"),
      java.nio.file.Paths.get(s"$state/grams.__swap"))
    assert(new java.io.File(s"$state/grams.__swap/_SUCCESS").exists)
    // benchmark arrives LAST: every hit comes from the bucket-pruned
    // old-docs probe, which finds them only at the adopted modulus
    ContamStream.ingestBatch(spark, corpus.limit(0), bench, state, n = 3,
      bucketTargetBytes = 1L, maxBuckets = 8)
    assert(moduli(state) === Seq(8), "the rebucket swap was not adopted")
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot, "the adopted layout's probe diverged")
  }

  test("compaction keeps results identical") {
    val state = CacheHygiene.tempDir("contamstream")
    (0 until 3).foreach { b =>
      ContamStream.ingestBatch(spark,
        newDocs = corpus.filter(col("id") % 3 === b),
        newBench = bench.filter(col("id") % 3 === b),
        stateDir = state, n = 3, compactAfterFiles = 1)
    }
    val got = ContamStream.contamination(spark, state)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got === oneShot)
  }
}
