package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CacheHygiene, Datasheet, SketchState}

/** Streaming robust outliers: exact batch equivalence (value counts
  * are additive), arrival-split invariance, and the panel read
  * matching the one-shot operator bit for bit. */
class OutlierStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (((1 to 9).map(i => (i.toLong, "A", i)) :+
    (10L, "A", 100)) ++ (11L to 14L).map(i => (i, "B", 7)) :+
    (15L, "B", 8)).toDF("doc_id", "src_col", "v")

  private def tmp() =
    CacheHygiene.tempDir("outlier_spec")

  test("accumulated count state equals one-shot counts under ANY split") {
    val oneShot = Datasheet.valueCounts(docs, col("v"), col("src_col"))
      .collect().map(_.toSeq).toSet
    Seq(Seq(Seq(1L to 15L: _*)),
        Seq(Seq(1L, 10L), Seq(2L, 3L, 11L), (4L to 9L) :+ 12L,
          Seq(13L, 14L, 15L)),
        Seq((15L to 8L by -1L), (7L to 1L by -1L)).map(_.toSeq))
      .foreach { split =>
        val state = tmp()
        split.foreach { ids =>
          OutlierStream.ingestBatch(spark,
            docs.filter(col("doc_id").isin(ids.map(lit): _*)),
            col("v"), col("src_col"), state)
        }
        val acc = SketchState.read(spark, s"$state/value_counts")
          .collect().map(_.toSeq).toSet
        assert(acc === oneShot, s"split $split")
      }
  }

  test("readPanel equals one-shot robustOutliers; both match hand values") {
    val oneShot = Datasheet.robustOutliers(docs, col("v"), col("src_col"),
      z = 3.0).collect().map(_.toSeq).toSet
    val state = tmp()
    (0 until 4).foreach { b =>
      OutlierStream.ingestBatch(spark, docs.filter(col("doc_id") % 4 === b),
        col("v"), col("src_col"), state)
    }
    val streamed = OutlierStream.readPanel(spark, state, z = 3.0)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    // hand values (same fixture as DatasheetSpec): A med 5.5 mad 2.5
    // → one flag; B constant-but-one → epsilon band flags the deviant
    val m = streamed.map(r => r.head -> r).toMap
    assert(m("A") === Seq("A", 10L, 5.5, 2.5, 1L, 0.1))
    assert(m("B") === Seq("B", 5L, 7.0, 0.0, 1L, 0.2))
  }
}
