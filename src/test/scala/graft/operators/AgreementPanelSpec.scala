package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fleiss' kappa (Classify.fleissKappa), the dedup-threshold operating
  * curve (NearDup.thresholdCurve), and the source-affinity map
  * (Datasheet.sourceAffinity): hand-computed fixtures and contracts. */
class AgreementPanelSpec extends SparkSpec {
  import spark.implicits._

  test("fleissKappa matches the hand computation; unanimity gives " +
    "null kappa; null votes are excluded") {
    // votes per item (3 raters): 3, 0, 2, 1 → s_keep=6, s_pairs=16,
    // p̄=16/24=2/3, p1=0.5, pe=0.5, κ=(2/3−1/2)/(1/2)=1/3
    val df = Seq(
      (true, true, true), (false, false, false),
      (true, true, false), (true, false, false)
    ).toDF("a", "b", "c")
    val got = Classify.fleissKappa(df,
      Seq(col("a"), col("b"), col("c"))).collect().map(_.toSeq).toSet
    assert(got === Set(Seq(4L, 3L, 0.5, 0.666667, 0.5, 0.333333)))
    // all raters keep everything → pe = 1 → null kappa
    val unan = Seq((true, true, true), (true, true, true)).toDF("a", "b", "c")
    val g2 = Classify.fleissKappa(unan,
      Seq(col("a"), col("b"), col("c"))).collect().head
    assert(g2.get(5) == null && g2.getLong(0) === 2L)
    // a null vote drops the row (abstention is not a reject)
    val withNull = Seq(
      (Some(true), true, true), (None, false, false),
      (Some(true), true, false), (Some(true), false, false),
      (Some(false), false, false)
    ).toDF("a", "b", "c")
    val g3 = Classify.fleissKappa(withNull,
      Seq(col("a"), col("b"), col("c"))).collect().head
    assert(g3.getLong(0) === 4L)
  }

  test("thresholdCurve: hand counts, zero-pair thresholds emit rows, " +
    "below-build thresholds are rejected") {
    val pairs = Seq(
      (1L, 2L, 0.82), (1L, 3L, 0.9), (4L, 5L, 0.95)
    ).toDF("id_a", "id_b", "jaccard")
    val got = NearDup.thresholdCurve(pairs, col("id_a"), col("id_b"),
      col("jaccard"), Seq(0.8, 0.9, 0.95, 0.99), builtAt = 0.8)
      .collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq(0.8, 3L, 5L), Seq(0.9, 2L, 4L),
      Seq(0.95, 1L, 2L), Seq(0.99, 0L, 0L)))
    val err = intercept[IllegalArgumentException] {
      NearDup.thresholdCurve(pairs, col("id_a"), col("id_b"),
        col("jaccard"), Seq(0.5), builtAt = 0.8)
    }
    assert(err.getMessage.contains("undercount"))
  }

  test("categoricalBalance: hand chi-square incl. a missing category " +
    "paying its full expected mass") {
    // s1 (en3, fr1), s2 (en1, fr3), s3 (de2); N=10
    // s1/s2: 1.225 + 0.225 + 0.8 = 2.25;  s3: 0.8 + 0.8 + 6.4 = 8.0
    val df = (Seq.fill(3)(("s1", "en")) ++ Seq(("s1", "fr")) ++
      Seq(("s2", "en")) ++ Seq.fill(3)(("s2", "fr")) ++
      Seq.fill(2)(("s3", "de")) ++ Seq(("s3", null))
    ).toDF("src", "lang")
    val got = Datasheet.categoricalBalance(df, col("src"), col("lang"))
      .collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq("s1", 4L, 3L, 2.25), Seq("s2", 4L, 3L, 2.25),
      Seq("s3", 2L, 3L, 8.0)))
  }

  test("dup cluster sizeHistogram: hand counts") {
    val labeled = Seq(
      (1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L), (6L, 4L)
    ).toDF("doc_id", "cluster_rep")
    val got = DupClusters.sizeHistogram(labeled)
      .collect().map(_.toSeq).toSet
    assert(got === Set(Seq(1L, 1L, 1L), Seq(2L, 1L, 2L), Seq(3L, 1L, 3L)))
  }

  test("AffinityStream: accumulated state equals one-shot under any " +
    "split; read equals the batch operator") {
    val embs = Seq(
      (0L, 1, Seq(1.0f, 0.0f)), (1L, 1, Seq(1.0f, 0.5f)),
      (2L, 2, Seq(0.0f, 2.0f)), (3L, 2, Seq(0.5f, 1.0f)),
      (4L, 3, Seq(2.0f, 0.0f)), (5L, 3, Seq(1.0f, -1.0f))
    ).toDF("vec_id", "label", "embedding")
    val oneShot = Datasheet.sourceAffinity(embs, col("embedding"),
      col("label"), dims = 2).collect().map(_.toSeq).toSet
    Seq(Seq(Seq(0L, 1L, 2L, 3L, 4L, 5L)),
        Seq(Seq(0L), Seq(1L, 2L, 3L), Seq(4L, 5L)),
        Seq(Seq(5L, 4L), Seq(3L, 2L), Seq(1L, 0L))).foreach { split =>
      val state = CacheHygiene.tempDir("aff_spec")
      split.foreach { ids =>
        graft.streaming.AffinityStream.ingestBatch(spark,
          embs.filter(col("vec_id").isin(ids.map(lit): _*)),
          col("embedding"), col("label"), dims = 2, state)
      }
      val streamed = graft.streaming.AffinityStream
        .readAffinity(spark, dims = 2, state)
        .collect().map(_.toSeq).toSet
      assert(streamed === oneShot, s"split $split")
    }
  }

  test("sourceAffinity: orthogonal/parallel/zero-norm centroids") {
    val embs = Seq(
      (1, Seq(1.0f, 0.0f)), (1, Seq(1.0f, 0.0f)), // centroid (1, 0)
      (2, Seq(0.0f, 2.0f)), (2, Seq(0.0f, 0.0f)), // centroid (0, 1)
      (3, Seq(2.0f, 0.0f)),                       // centroid (2, 0)
      (4, Seq(0.0f, 0.0f))                        // zero-norm centroid
    ).toDF("label", "embedding")
    val got = Datasheet.sourceAffinity(embs, col("embedding"),
      col("label"), dims = 2).collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq(1, 2, 0.0), Seq(1, 3, 1.0), Seq(1, 4, null),
      Seq(2, 3, 0.0), Seq(2, 4, null), Seq(3, 4, null)))
  }
}
