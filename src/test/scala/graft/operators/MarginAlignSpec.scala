package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Margin alignment: mutual-NN detection, margin ordering, determinism. */
class MarginAlignSpec extends SparkSpec {
  import spark.implicits._

  // A-side: two orthogonal anchors. B-side: a close match for each
  // anchor plus a "hub" diagonal vector similar to everything.
  private def a = Seq(
    (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
  ).toDF("vec_id", "embedding")
  private def b = Seq(
    (11L, Array(0.99f, 0.14f)), (12L, Array(0.14f, 0.99f)),
    (13L, Array(0.7f, 0.7f))
  ).toDF("vec_id", "embedding")

  test("aligned pairs are mutual NN with margin above 1") {
    val out = Similarity.marginAlign(a, b, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 11L)
    assert(out(2L).getLong(1) === 12L)
    assert(out.values.forall(_.getBoolean(4)), "both pairs mutual")
    assert(out.values.forall(_.getDouble(3) > 1.0),
      "true matches beat their neighborhood average")
  }

  test("one row per a-side query; deterministic under repartitioning") {
    val x = Similarity.marginAlign(a.repartition(3), b.repartition(2),
      "vec_id", "embedding", 2).collect().map(_.toSeq).toSet
    val y = Similarity.marginAlign(a, b, "vec_id", "embedding", 2)
      .collect().map(_.toSeq).toSet
    assert(x === y)
    assert(x.size === 2)
  }

  // Seeded fixture large enough that every (query-shard, corpus-shard)
  // block is non-trivially populated under asymmetric shard counts, with
  // one ZERO-NORM vector per side (cosine undefined -> null, sorts last
  // under the desc total order in both execution paths).
  private def bigSide(seed: Int, n: Int, idBase: Long) = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val v =
        if (i == 7) Array.fill(8)(0.0f) // zero norm
        else Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
      (idBase + i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("shardedTopK == bruteForceTopK row-for-row, asymmetric shards, " +
      "zero-norm vectors included") {
    val qs = bigSide(seed = 1, n = 29, idBase = 0L)
    val cs = bigSide(seed = 2, n = 41, idBase = 1000L)
    val brute = Similarity.bruteForceTopK(cs, qs, "vec_id", "embedding", 5)
      .collect().map(_.toSeq).toSet
    val sharded = Similarity
      .shardedTopK(cs, qs, "vec_id", "embedding", 5, 3, 7)
      .collect().map(_.toSeq).toSet
    assert(sharded === brute,
      "sharding is an execution choice, not a semantics choice")
    // degenerate 1x1 sharding is a single block — also identical
    val oneBlock = Similarity
      .shardedTopK(cs, qs, "vec_id", "embedding", 5, 1, 1)
      .collect().map(_.toSeq).toSet
    assert(oneBlock === brute)
  }

  test("marginAlign(shards = 4) == marginAlign(shards = 1) row-for-row") {
    // overlapping id spaces on purpose: the self-pair exclusion must
    // behave identically in both regimes too
    val x = bigSide(seed = 3, n = 23, idBase = 0L)
    val y = bigSide(seed = 4, n = 31, idBase = 100L)
    val one = Similarity.marginAlign(x, y, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    val four = Similarity
      .marginAlign(x, y, "vec_id", "embedding", 3, shards = 4)
      .collect().map(_.toSeq).toSet
    assert(four === one,
      "both top-k regimes must share one oracle by construction")
    assert(one.size === 23)
  }
}
