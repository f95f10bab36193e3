package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Grouped OLS (Trend.olsByGroup): hand-checked closed form, exact-fit
  * and degenerate-group contracts. */
class TrendSpec extends SparkSpec {
  import spark.implicits._

  test("hand-checked fit: slope/intercept/r2 from the sufficient stats") {
    // (1,2),(2,3),(3,5): num=9, denx=6, deny=14 → slope 1.5,
    // intercept 1/3, r2 81/84
    val df = Seq(("g", 1L, 2L), ("g", 2L, 3L), ("g", 3L, 5L))
      .toDF("src", "x", "y")
    val got = Trend.olsByGroup(df, col("src"), col("x"), col("y"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().head
    assert(got === (("g", 3L, 2.0, 3.333333, 1.5, 0.333333, 0.964286)))
  }

  test("exact line fits with r2 = 1; groups are independent") {
    val df = Seq(("a", 0L, 1L), ("a", 1L, 3L), ("a", 2L, 5L),
      ("b", 1L, 7L), ("b", 2L, 7L), ("b", 5L, 7L))
      .toDF("src", "x", "y")
    val got = Trend.olsByGroup(df, col("src"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.get(4), r.get(5), r.get(6))).toMap
    assert(got("a") === ((2.0, 1.0, 1.0)))
    // constant y: perfect flat fit, but R² is 0/0 → null by contract
    assert(got("b") === ((0.0, 7.0, null)))
  }

  test("constant x has no line: slope/intercept/r2 null, means still real") {
    val df = Seq(("c", 4L, 1L), ("c", 4L, 9L)).toDF("src", "x", "y")
    val got = Trend.olsByGroup(df, col("src"), col("x"), col("y"))
      .collect().head
    assert(got.get(2) === 4.0 && got.get(3) === 5.0)
    assert(got.get(4) == null && got.get(5) == null && got.get(6) == null)
  }

  test("null-feature rows are excluded from the fit, not zero-filled") {
    val df = Seq(("d", Some(1L), Some(2L)), ("d", None, Some(99L)),
      ("d", Some(3L), Some(6L)), ("d", Some(7L), None))
      .toDF("src", "x", "y")
    val got = Trend.olsByGroup(df, col("src"), col("x"), col("y"))
      .collect().head
    assert(got.getLong(1) === 2L) // only the two complete rows
    assert(got.get(4) === 2.0 && got.get(5) === 0.0 && got.get(6) === 1.0)
  }

  test("grouped jackknife: hand leave-one-out ratios, influence, and " +
    "the snapped-sequence summary replay") {
    val df = Seq(
      ("g1", 10L), ("g1", 20L), ("g2", 30L), ("g3", 50L), ("g3", 50L)
    ).toDF("src", "v")
    // N=160, D=5, theta=32; loo: g1 130/3, g2 130/4, g3 60/3
    val panel = Trend.jackknifePanel(df, col("src"), col("v"), lit(1L))
      .collect().map(_.toSeq).toSet
    assert(panel === Set(
      Seq("g1", 43.333333, -22.666667),
      Seq("g2", 32.5, -1.0),
      Seq("g3", 20.0, 24.0)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val loos = Seq(130.0 / 3.0, 130.0 / 4.0, 60.0 / 3.0)
    val t9 = loos.map(x => math.round(x * 1e9))
    val s9 = t9.sum
    val mean = s9.toDouble / 1e9 / 3.0
    val ss = t9.map { t =>
      math.round((t.toDouble / 1e9 - mean) * (t.toDouble / 1e9 - mean)
        * 1e12)
    }.sum
    val se = math.sqrt((3.0 - 1.0) / 3.0 * (ss.toDouble / 1e12))
    val got = Trend.jackknifeSummary(df, col("src"), col("v"), lit(1L))
      .collect().head
    assert(got.toSeq === Seq(3L, 32.0, r6(mean), r6(se),
      r6(32.0 - 1.96 * se), r6(32.0 + 1.96 * se)))
  }

  test("JackknifeStream: accumulated sums equal one-shot under any " +
    "split; read equals the batch summary") {
    val df = Seq(
      ("g1", 10L), ("g1", 20L), ("g2", 30L), ("g3", 50L), ("g3", 50L)
    ).toDF("src", "v").withColumn("id", monotonically_increasing_id())
    val oneShot = Trend.jackknifeSummary(df, col("src"), col("v"),
      lit(1L)).collect().map(_.toSeq).toSet
    val state = CacheHygiene.tempDir("jack_spec")
    Seq(Seq("g1"), Seq("g2", "g3"), Seq[String]()).foreach { srcs =>
      graft.streaming.JackknifeStream.ingestBatch(spark,
        df.filter(col("src").isin(srcs.map(lit): _*)),
        col("src"), col("v"), lit(1L), state)
    }
    val streamed = graft.streaming.JackknifeStream
      .readSummary(spark, state).collect().map(_.toSeq).toSet
    assert(streamed === oneShot && oneShot.nonEmpty)
  }
}
