package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, SketchState, Vocab}

/** Streaming OOV: exact batch equivalence (the (grp, token) count state
  * is additive), arrival-split invariance, and the rate read matching
  * the one-shot operator. */
class OovStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "s1", "a b c a b"), (2L, "s1", "a b rare1"),
    (3L, "s2", "a a b b c"), (4L, "s2", "rare2 rare2 b"),
    (5L, "s1", "c c c a")
  ).toDF("doc_id", "source", "text")

  private def tmp() =
    CacheHygiene.tempDir("oov_spec")

  test("accumulated count state equals one-shot counts under ANY split") {
    val oneShot = Vocab.oovCounts(docs, col("source"), col("text"))
      .collect().map(_.toSeq).toSet
    Seq(Seq(Seq(1L, 2L, 3L, 4L, 5L)),
        Seq(Seq(1L), Seq(2L, 3L), Seq(4L, 5L)),
        Seq(Seq(5L, 4L), Seq(3L, 2L), Seq(1L)))
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          OovStream.ingestBatch(spark,
            docs.filter(col("doc_id").isin(ids.map(lit): _*)),
            col("source"), col("text"), state)
        }
        val acc = SketchState.read(spark, s"$state/grp_token_counts")
          .collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("readRates equals the one-shot oovRateByGroup exactly") {
    val oneShot = Vocab.oovRateByGroup(docs, col("source"), col("text"),
      minCount = 3L).collect().map(_.toSeq).toSet
    val state = tmp()
    (0 until 3).foreach { b =>
      OovStream.ingestBatch(spark, docs.filter(col("doc_id") % 3 === b),
        col("source"), col("text"), state)
    }
    val streamed = OovStream.readRates(spark, state, minCount = 3L)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    // the corpus-wide threshold crosses groups: 'c' has count 3 in s1
    // alone only because s2 contributes — sanity-pin one rate
    val s2 = OovStream.readRates(spark, state, minCount = 3L)
      .filter(col("grp") === "s2").as[(String, Long, Long, Double)]
      .collect().head
    // s2 tokens: a a b b c rare2 rare2 b → 8; OOV under minCount=3:
    // rare2 (2 occurrences < 3) ×2 → c has tot 5, a tot 5, b tot 6
    assert(s2 === (("s2", 8L, 2L, 0.25)))
    // the SAME state serves the corpus-health read: readZipf equals the
    // one-shot fit exactly
    val zipfOneShot = Vocab.zipfSlopeByGroup(docs, col("source"),
      col("text")).collect().map(_.toSeq).toSet
    val zipfStreamed = OovStream.readZipf(spark, state)
      .collect().map(_.toSeq).toSet
    assert(zipfStreamed === zipfOneShot)
    // ...and the concentration panel — third monitor, same statistic
    val concOneShot = Vocab.concentrationByGroup(docs, col("source"),
      col("text")).collect().map(_.toSeq).toSet
    val concStreamed = OovStream.readConcentration(spark, state)
      .collect().map(_.toSeq).toSet
    assert(concStreamed === concOneShot)
  }
}
