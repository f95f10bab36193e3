package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exact heavy hitters: the Misra-Gries candidate pass must never lose a
  * true heavy hitter (no false negatives), the recount must kill every
  * false positive, and the thresholded output must equal the plain
  * GROUP BY / HAVING answer for ANY partitioning. */
class FrequentSpec extends SparkSpec {
  import spark.implicits._

  /** Exact reference: items with freq >= ceil(share * n). */
  private def exact(items: Seq[String], share: Double): Map[String, Long] = {
    val t = math.ceil(share * items.size).toLong
    items.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= t).toMap
  }

  test("equals GROUP BY/HAVING on a skewed vocabulary") {
    // zipfish: item i appears ~ 2000/i times, heavy head + long tail
    val items = (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"w$i"))
    val df = items.toDF("item")
    val got = Frequent.heavyHitters(df, col("item"), minShare = 0.02,
      counters = 128)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact(items, 0.02))
  }

  test("partitioning-independent: candidates vary, output never does") {
    val items = (1 to 100).flatMap(i => Seq.fill(500 / i)(s"t$i"))
    val df = items.toDF("item")
    val a = Frequent.heavyHitters(df.repartition(1), col("item"), 0.05, 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val b = Frequent.heavyHitters(df.repartition(17), col("item"), 0.05, 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(a.nonEmpty && a === b)
  }

  test("adversarial tail floods the sketch but no heavy hitter is lost") {
    // one heavy item just over threshold drowned in unique noise: MG's
    // decrement-all must still surface it in some partition
    val heavy = Seq.fill(300)("HH")
    val noise = (1 to 9700).map(i => s"u$i")
    val items = new scala.util.Random(11).shuffle(heavy ++ noise)
    val got = Frequent.heavyHitters(items.toDF("item"), col("item"),
      minShare = 0.03, counters = 64).collect()
    assert(got.map(_.getString(0)).toSet === Set("HH"))
    assert(got.head.getLong(1) === 300L)
    assert(got.head.getLong(2) === 10000L)
  }

  test("minShare below the MG guarantee is rejected") {
    val df = Seq("a", "b").toDF("item")
    intercept[IllegalArgumentException] {
      Frequent.heavyHitters(df, col("item"), minShare = 0.001, counters = 64)
    }
  }

  test("20 seeded random multisets: always equals the exact threshold set") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 20) {
      // random skew profile each trial: alphabet size, zipf tilt, size
      val alpha = rng.nextInt(40) + 5
      val items = Seq.fill(rng.nextInt(3000) + 500) {
        s"k${(math.pow(rng.nextDouble(), 2.5) * alpha).toInt}"
      }
      val share = Seq(0.02, 0.05, 0.1)(rng.nextInt(3))
      val parts = rng.nextInt(15) + 1
      val got = Frequent.heavyHitters(items.toDF("item").repartition(parts),
        col("item"), share, counters = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === exact(items, share),
        s"trial $trial: alpha=$alpha share=$share parts=$parts")
    }
  }

  test("empty input yields an empty result, not a failure") {
    val empty = Seq.empty[String].toDF("item")
    assert(Frequent.heavyHitters(empty, col("item"), 0.5, 16).count() === 0L)
  }

  test("null keys are ignored, not counted") {
    val df = Seq(Some("a"), Some("a"), None, Some("b")).toDF("item")
    val got = Frequent.heavyHitters(df, col("item"), 0.5, 16).collect()
    assert(got.map(_.getString(0)).toSet === Set("a"))
    // n_total counts only non-null keys
    assert(got.head.getLong(2) === 3L)
  }

  // ------------------------------------------------ incremental (q75)

  test("incremental MG over any arrival split equals the batch operator") {
    val items = (1 to 150).flatMap(i => Seq.fill(1000 / i)(s"w$i"))
    val df = items.toDF("item").withColumn("b", pmod(hash(col("item")), lit(4)))
    val batch = Frequent.heavyHitters(df, col("item"), 0.02, 128)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // split 1: round-robin by hash; split 2: sorted runs (adversarial —
    // each batch has a totally different item distribution)
    for ((splits, label) <- Seq(
      (0 until 4).map(b => df.filter(col("b") === b)) -> "hash split",
      Seq(df.filter(col("item") <= "w2"), df.filter(col("item") > "w2")) ->
        "sorted-run split")) {
      val state = CacheHygiene.tempDir("mgspec") + "/s"
      splits.foreach(s => Frequent.mgIngestBatch(s, col("item"), 128, state))
      val inc = Frequent.heavyHittersFromState(state, df, col("item"),
        0.02, 128)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(inc === batch, label)
    }
  }

  test("per-window heavy hitters equal per-window GROUP BY/HAVING") {
    // 4 windows of 1000s; each window has its own heavy key plus noise —
    // a key hot in window 0 must NOT leak into window 1's output
    val rng = new scala.util.Random(31)
    val rows = (0 until 4).flatMap { wi =>
      val hot = Seq.fill(80)((wi * 1000L + rng.nextInt(1000), s"hot$wi"))
      val noise = Seq.fill(400)(
        (wi * 1000L + rng.nextInt(1000), s"u${rng.nextInt(300)}"))
      hot ++ noise
    }
    val df = rows.toDF("sec", "item")
      .select(col("sec").cast("timestamp").as("ts"), col("item"))
    val got = Frequent.heavyHittersByWindow(df, col("ts"), col("item"),
      windowSeconds = 1000L, minShare = 0.05, counters = 64)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // exact reference
    val byWindow = rows.groupBy(_._1 / 1000L * 1000L)
    val expected = byWindow.flatMap { case (w, rs) =>
      val t = math.ceil(0.05 * rs.size).toLong
      rs.groupBy(_._2).collect {
        case (k, occ) if occ.size >= t =>
          (w, k) -> (occ.size.toLong, rs.size.toLong)
      }
    }
    assert(got === expected)
    // windows don't leak
    assert(got.keySet.count(_._2.startsWith("hot")) === 4)
  }

  test("per-window pass is partitioning-independent") {
    val rows = (0 until 2000).map(i =>
      ((i % 3) * 500L + i % 499, s"k${i % 40}"))
    val df = rows.toDF("sec", "item")
      .select(col("sec").cast("timestamp").as("ts"), col("item"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Frequent.heavyHittersByWindow(d, col("ts"), col("item"), 500L,
        0.04, 32).collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(run(df.repartition(1)) === run(df.repartition(17)))
  }

  test("incremental state stays bounded at counters+1 rows") {
    val state = CacheHygiene.tempDir("mgspec2") + "/s"
    // 3 batches of mostly-unique noise: the state must never exceed
    // counters candidates no matter how much distinct vocabulary flows by
    val batches = (0 until 3).map { b =>
      ((1 to 5000).map(i => s"u${b}_$i") ++ Seq.fill(400)("HH")).toDF("item")
    }
    batches.foreach(b => Frequent.mgIngestBatch(b, col("item"), 32, state))
    val rows = spark.read.parquet(state).collect()
    assert(rows.length <= 33, s"state grew to ${rows.length} rows")
    val corpus = batches.reduce(_ union _)
    val hh = Frequent.heavyHittersFromState(state, corpus, col("item"),
      0.05, 32).collect()
    assert(hh.map(_.getString(0)).toSet === Set("HH"))
    assert(hh.head.getLong(1) === 1200L)
    assert(hh.head.getLong(2) === 16200L)
  }

  test("per-window pass fails fast past the window ceiling, not OOM") {
    val many = spark.range(64).select(
      timestamp_seconds(lit(1714521600L) + col("id") * 3600L).as("ts"),
      lit("k").as("item")).coalesce(1)
    val e = intercept[Exception] {
      Frequent.heavyHittersByWindow(many, col("ts"), col("item"),
        windowSeconds = 3600L, minShare = 0.01, counters = 256,
        maxWindowsPerTask = 16).collect()
    }
    assert(e.toString.contains("sketch-by-key") ||
      String.valueOf(e.getCause).contains("sketch-by-key"), s"got $e")
  }

  test("topNgramsPerGroup: counts exact, membership is count-thresholded") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x y z x y z x y q"),   // "x y z" x2, "y z x" x2 ...
      ("a", "x y z"),
      ("b", "p q r")
    ).toDF("src", "text")
    val out = Frequent.topNgramsPerGroup(docs, col("text"), col("src"),
      n = 3, k = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val aTop = out.filter(_._1 == "a")
    assert(aTop.contains(("a", "x y z", 3L)), s"got ${aTop.toSeq}")
    // k=1 with ties: every gram at the top count survives
    assert(aTop.forall(_._3 == 3L))
    val bTop = out.filter(_._1 == "b")
    assert(bTop.length == 1 && bTop.head._3 == 1L)
  }

  test("topNgramsPerGroup fail-fasts a degenerate count plateau") {
    import spark.implicits._
    // every bigram in group "d" is distinct → min_cnt = 1 and the
    // ties-inclusive winner set is ALL grams; with a tiny ceiling the
    // in-plan guard must raise instead of broadcasting the corpus
    val docs = (1 to 50).map(i => ("d", s"u$i v$i w$i")).toDF("src", "text")
    val e = intercept[Exception] {
      Frequent.topNgramsPerGroup(docs, col("text"), col("src"),
        n = 2, k = 1, maxWinnersPerGroup = 8).collect()
    }
    assert((e.toString + String.valueOf(e.getCause))
      .contains("maxWinnersPerGroup"), s"got $e")
    // same data passes with an adequate ceiling (100 distinct bigrams)
    val ok = Frequent.topNgramsPerGroup(docs, col("text"), col("src"),
      n = 2, k = 1, maxWinnersPerGroup = 200).collect()
    assert(ok.length === 100)
  }

  test("topNgramsPerGroup deterministic under repartitioning") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (s"s${i % 2}", s"w${i % 7} w${i % 5} w${i % 3} end"))
      .toDF("src", "text")
    val a = Frequent.topNgramsPerGroup(docs, col("text"), col("src"), 2, 3)
      .collect().map(_.toSeq).toSet
    val b = Frequent.topNgramsPerGroup(docs.repartition(9), col("text"),
      col("src"), 2, 3).collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
