package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextExprs
import graft.sources.Tables

/** Near-dup operator invariants. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with nothing shared here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "")).toDF("id", "text")

  test("hammingBandQa measures the band cut: spread pairs missed, recall honest") {
    import spark.implicits._
    // pair (0, 5): 4 differing bits, one in EACH 16-bit band → no band
    // collision, missed by the banded plan though hamming 4 <= 6.
    // pair (10, 15): 4 differing bits all in band 0 → caught via bands
    // 1-3. Ids all % 5 == 0 so the sample sees every pair.
    val spread = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)
    val packed = 15L // bits 0-3
    val sigs = Seq((0L, 0L), (5L, spread), (10L, 1L << 60),
      (15L, (1L << 60) | packed)).toDF("id", "sig")
    val qa = NearDup.hammingBandQa(sigs, maxHamming = 6, sampleMod = 5)
      .as[(Long, Long, Long, Double)].collect().head
    // truth (h ≤ 6): (0,5) h=4, (0,10) h=1, (0,15) h=5, (5,10) h=5,
    // (10,15) h=4 — 5 pairs; (5,15) h=7 is out. The spread signature
    // never shares a band with anything (its bands are 1,1,1,1), so
    // BOTH its true pairs are missed; the others collide on zero bands
    assert(qa._1 === 4L)
    assert(qa._2 === 5L)
    assert(qa._3 === 3L)
    assert(qa._4 === 0.6)
  }

  test("simhashSignatures equals the scalar simhash expression") {
    val scalar = docs.filter(length(trim(col("text"))) > 0)
      .select(col("id"), NearDup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val agg = NearDup.simhashSignatures(docs, col("id"), col("text"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(agg === scalar)
    assert(agg.length === 4) // empty doc has no signature
  }

  test("simhash band pairs find near-identical docs, not distinct ones") {
    val pairs = NearDup.hammingBandPairs(
        NearDup.simhashSignatures(docs, col("id"), col("text")),
        maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → hamming 0
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhashLshPairs finds the exact duplicate with jaccard 1.0") {
    val pairs = NearDup.minhashLshPairs(docs, col("id"), col("text"),
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
  }

  test("shingleJaccardPairs: overlapping docs scored, singleton shingles count") {
    val pairs = NearDup.shingleJaccardPairs(docs, col("id"), col("text"),
      n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
    // 1 vs 2: 7 shingles each, 6 shared → 6/8 = 0.75
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 0.75 })
  }

  test("containmentPairs: subset docs score 1.0 toward their superset, directed") {
    // doc 11 is a verbatim excerpt of doc 10; doc 12 unrelated
    val cd = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "one two three four five six seven")
    ).toDF("id", "text")
    val got = NearDup.containmentPairs(cd, col("id"), col("text"),
        n = 3, threshold = 0.9)
      .select("id_sub", "id_sup", "containment")
      .as[(Long, Long, Double)].collect().toSet
    // every 3-shingle of 11 appears in 10 -> containment(11 in 10) = 1.0;
    // the reverse direction is 3/6 = 0.5 and is below threshold
    assert(got === Set((11L, 10L, 1.0)))
    val both = NearDup.containmentPairs(cd, col("id"), col("text"),
        n = 3, threshold = 0.4)
      .select("id_sub", "id_sup", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(both.contains((11L, 10L, 1.0)))
    assert(both.contains((10L, 11L, 0.5)))
    assert(!both.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("winnowing: a shared run of >= w+k-1 tokens forces a shared fingerprint") {
    // k=3, w=4: guarantee threshold is 6 tokens. The two docs share the
    // 6-token run "one two three four five six" inside different contexts.
    val wd = Seq(
      (1L, "aa bb one two three four five six cc dd"),
      (2L, "xx one two three four five six yy zz qq"),
      (3L, "totally unrelated words here with nothing common at all")
    ).toDF("id", "text")
    val pairs = NearDup.winnowingPairs(wd, col("id"), col("text"),
        k = 3, w = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed match missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing: fingerprint density subsamples the gram stream") {
    val text = (1 to 200).map(i => s"t${i % 97}").mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text")
    val Seq(nFp) = df.select(size(NearDup.winnowFingerprints(col("text"),
        k = 3, w = 4)).as("n")).as[Int].collect().toSeq
    val nGrams = 200 - 3 + 1
    assert(nFp > 0 && nFp < nGrams / 2,
      s"expected ~2/(w+1) density, got $nFp of $nGrams grams")
    // short doc: fewer than k tokens -> no fingerprints
    val Seq(none) = Seq((2L, "a b")).toDF("id", "text")
      .select(size(NearDup.winnowFingerprints(col("text"), 3, 4)).as("n"))
      .as[Int].collect().toSeq
    assert(none === 0)
  }

  test("winnowing: identical docs share every fingerprint (sim 1.0)") {
    val wd = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("id", "text")
    val got = NearDup.winnowingPairs(wd, col("id"), col("text"),
        k = 3, w = 4, minShared = 1)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 1.0)))
  }

  test("winnowing kernel is element-identical to the HOF reference " +
    "formulation (order included)") {
    // r18: winnowFingerprints runs as one codegen'd kernel; the pre-r18
    // HOF chain is reconstructed here as the independent reference.
    def reference(text: org.apache.spark.sql.Column, k: Int, w: Int) = {
      val grams = when(size(TextExprs.tokens(text)) < k,
          array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(TextExprs.tokens(text)) - k),
          i => array_join(slice(TextExprs.tokens(text), i + 1, lit(k)), " ")))
      val gh = transform(grams, g =>
        graft.functions.HashKernels.polyHash(g, 31L, 1000000007L))
      when(size(gh) === 0, array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), greatest(size(gh) - (w - 1), lit(1))),
          j => array_min(slice(gh, j, lit(w))))))
    }
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(Seq(
        (9001L, ""), // empty → no tokens
        (9002L, "a b"), // fewer than k tokens
        (9003L, "one two three four"), // nGrams < w (clamped window)
        (9004L, "x x x x x x x x"), // all-equal gram hashes (ties)
        (9005L, "héllo wörld ünïcode ☃ tokens 𝄞clef 𝄞clef more data here")
      ).toDF("id", "text"))
    Seq((3, 4), (2, 7), (1, 1)).foreach { case (k, w) =>
      val both = docs.select(
          NearDup.winnowFingerprints(col("text"), k, w).as("kern"),
          reference(col("text"), k, w).as("ref"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"kernel/HOF diverged at k=$k w=$w")
      }
    }
  }
}
