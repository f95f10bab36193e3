package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, DupClusters}

/** Alias-log union-find: labeling equals connectedComponents under
  * arbitrary pair arrival splits, replay idempotence, write-time path
  * compression, and the compression+compaction swap. */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._

  // two multi-pair components (mins 1 and 10), one two-node component
  // (min 20), singletons 30/31. Pair order is adversarial: later pairs
  // re-merge former roots to force chains.
  private val pairs = Seq(
    (2L, 3L),   // {2,3} root 2
    (4L, 5L),   // {4,5} root 4
    (3L, 4L),   // merge → root 2
    (1L, 5L),   // merge → root 1 (former roots 2, 4 now chained)
    (11L, 12L), // {11,12} root 11
    (10L, 12L), // merge → root 10
    (20L, 21L)
  )
  private val vertices =
    (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L, 30L, 31L))
      .toDF("id")

  private def expected: Map[Long, Long] =
    DupClusters.connectedComponents(vertices,
        pairs.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  private def streamed(splits: Seq[Seq[(Long, Long)]],
                       compactAfterFiles: Int = 64): Map[Long, Long] = {
    val base = CacheHygiene.tempDir("clstream")
    splits.foreach { s =>
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), base,
        compactAfterFiles = compactAfterFiles)
    }
    ClusterStream.clusters(spark, vertices, base)
      .as[(Long, Long)].collect().toMap
  }

  test("labeling equals connectedComponents for any arrival split, " +
    "including orders that chain former roots") {
    val want = expected
    assert(want(5L) === 1L && want(12L) === 10L && want(30L) === 30L)
    for (nSplits <- Seq(1, 2, 3, 7)) {
      val splits = (0 until nSplits).map(b =>
        pairs.zipWithIndex.collect {
          case (p, i) if i % nSplits == b => p
        })
      assert(streamed(splits) === want, s"$nSplits-poll split diverged")
    }
    // reversed arrival order too (merges discover minima late)
    assert(streamed(pairs.reverse.map(Seq(_))) === want,
      "reversed arrival diverged")
  }

  test("replay idempotence: re-ingesting any poll's pairs appends " +
    "nothing and leaves labels unchanged") {
    val base = CacheHygiene.tempDir("clstream_rp")
    val r1 = ClusterStream.ingestPairs(spark, pairs.toDF("id_a", "id_b"),
      base)
    assert(r1.merges > 0)
    val labels1 = ClusterStream.clusters(spark, vertices, base)
      .as[(Long, Long)].collect().toMap
    // at-least-once redelivery of the SAME pairs: all endpoints resolve
    // to an already-shared root, so zero new aliases
    val r2 = ClusterStream.ingestPairs(spark, pairs.toDF("id_a", "id_b"),
      base)
    assert(r2.merges === 0L, "replayed pairs must be a no-op")
    val labels2 = ClusterStream.clusters(spark, vertices, base)
      .as[(Long, Long)].collect().toMap
    assert(labels2 === labels1)
    assert(labels1 === expected)
  }

  test("write-time path compression: each poll's aliases point straight " +
    "at the poll's final root") {
    val base = CacheHygiene.tempDir("clstream_pc")
    // one poll containing a 4-way chain merge: without write-time
    // compression 4→3→2→1 would land as stepwise aliases
    ClusterStream.ingestPairs(spark,
      Seq((3L, 4L), (2L, 3L), (1L, 2L)).toDF("id_a", "id_b"), base)
    val al = spark.read.parquet(s"$base/aliases")
      .as[(Long, Long)].collect().toMap
    assert(al === Map(2L -> 1L, 3L -> 1L, 4L -> 1L),
      "poll-local aliases must be fully compressed")
  }

  test("compression swap: forced compaction flattens cross-poll chains " +
    "to depth 1 and labels are unchanged") {
    val want = expected
    // compactAfterFiles = 0 forces the compression swap after EVERY
    // poll; one pair per poll maximizes cross-poll chain growth
    val got = streamed(pairs.map(Seq(_)), compactAfterFiles = 0)
    assert(got === want)
    // and a fresh state ingested the same way has a depth-1 forest:
    // every parent is terminal (never appears as a node)
    val base = CacheHygiene.tempDir("clstream_cp")
    pairs.foreach(p => ClusterStream.ingestPairs(spark,
      Seq(p).toDF("id_a", "id_b"), base, compactAfterFiles = 0))
    val al = spark.read.parquet(s"$base/aliases")
      .as[(Long, Long)].collect()
    val nodes = al.map(_._1).toSet
    assert(al.forall { case (_, p) => !nodes.contains(p) },
      "compressed forest must have depth 1")
    assert(al.map(_._1).length === al.map(_._1).distinct.length,
      "a node may carry at most one alias row")
  }

  test("local and distributed chase regimes append IDENTICAL alias logs " +
    "and labels (the size gate changes cost, never state)") {
    val want = expected
    val splits = pairs.map(Seq(_)) // one pair per poll: deepest chains
    val baseL = CacheHygiene.tempDir("clstream_l")
    val baseD = CacheHygiene.tempDir("clstream_d")
    splits.foreach { s =>
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), baseL)
      // localMaxAliasBytes = 0: every poll past the first takes the
      // join-per-hop path; resolveForest's gate is likewise bypassed
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), baseD,
        localMaxAliasBytes = 0L)
    }
    def log(b: String) = spark.read.parquet(s"$b/aliases")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(log(baseL) === log(baseD),
      "the two regimes must write byte-identical forests")
    val gotD = ClusterStream.clusters(spark, vertices, baseD)
      .as[(Long, Long)].collect().toMap
    assert(gotD === want)
    // distributed read path too: pointer-doubling resolution of the
    // same log equals the driver-side chase
    val resolved = ClusterStream.resolveForest(spark,
        spark.read.parquet(s"$baseD/aliases"), localMaxAliases = 0L)
      .as[(Long, Long)].collect().toMap
    val local = ClusterStream.resolveForest(spark,
        spark.read.parquet(s"$baseL/aliases"))
      .as[(Long, Long)].collect().toMap
    assert(resolved === local, "read regimes diverged on the same forest")
  }

  test("over-ceiling batches redirect through the distributed big-regime " +
    "path and append IDENTICAL alias logs and labels") {
    val want = expected
    val splits = Seq(pairs.take(3), pairs.slice(3, 5), pairs.drop(5))
    val baseL = CacheHygiene.tempDir("clstream_gl")
    val baseB = CacheHygiene.tempDir("clstream_gb")
    val baseM = CacheHygiene.tempDir("clstream_gm")
    splits.zipWithIndex.foreach { case (s, i) =>
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), baseL)
      // maxLocalPairs = 0: EVERY non-empty batch is "oversized" and must
      // take ingestPairsDistributed — including polls whose endpoints
      // chase an existing forest
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), baseB,
        maxLocalPairs = 0L)
      // mixed regimes on ONE state dir: alternate gate decisions — the
      // paths must be interchangeable poll to poll, not just run to run
      ClusterStream.ingestPairs(spark, s.toDF("id_a", "id_b"), baseM,
        maxLocalPairs = if (i % 2 == 0) 0L else 2000000L)
    }
    def log(b: String) = spark.read.parquet(s"$b/aliases")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(log(baseB) === log(baseL),
      "the oversized-batch path must write a byte-identical forest")
    assert(log(baseM) === log(baseL),
      "alternating gate decisions must write a byte-identical forest")
    for (b <- Seq(baseB, baseM)) {
      val got = ClusterStream.clusters(spark, vertices, b)
        .as[(Long, Long)].collect().toMap
      assert(got === want)
    }
    // replay through the distributed path is a no-op too
    val r = ClusterStream.ingestPairs(spark,
      splits.last.toDF("id_a", "id_b"), baseB, maxLocalPairs = 0L)
    assert(r.merges === 0L, "replayed oversized batch must append nothing")
  }

  test("empty polls and unknown-singleton vertices label themselves") {
    val base = CacheHygiene.tempDir("clstream_e")
    val r = ClusterStream.ingestPairs(spark,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), base)
    assert(r === ClusterStream.BatchResult(0, 0))
    // no state dir at all → identity labeling
    val got = ClusterStream.clusters(spark, vertices, base)
      .as[(Long, Long)].collect().toMap
    assert(got === vertices.as[Long].collect().map(v => v -> v).toMap)
  }
}
