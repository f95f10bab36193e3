package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout: the Morton key must interleave exactly, and the
  * measurable point — the REASON the operator exists — is that a
  * z-range-partitioned layout gives every file a narrow min/max span in
  * BOTH columns, where a one-column sort leaves the other column's span
  * at full width (no file-skipping for predicates on it). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly (2-bit hand-checked grid)") {
    // ranges [0,3] at 2 bits quantize to identity; expected Morton codes:
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (2L, 0L, 4L), (3L, 3L, 15L), (2L, 3L, 14L))
    val df = cases.map { case (x, y, _) => (x, y) }.toDF("x", "y")
    val got = df.select(col("x"), col("y"),
      Layout.zValue(col("x"), col("y"), 0L, 3L, 0L, 3L, bits = 2).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === cases.toSet)
  }

  test("zValue is monotone across quadrants") {
    // every point in the low-low quadrant sorts before every point in the
    // high-high quadrant — the property range-partitioning relies on
    val n = 64L
    val pts = spark.range(n * n).select(
      (col("id") % n).as("x"), shiftright(col("id"), 6).as("y"))
    val z = pts.select(col("x"), col("y"),
      Layout.zValue(col("x"), col("y"), 0L, n - 1, 0L, n - 1, 16).as("z"))
    val maxLow = z.filter(col("x") < n / 2 && col("y") < n / 2)
      .agg(max("z")).collect()(0).getLong(0)
    val minHigh = z.filter(col("x") >= n / 2 && col("y") >= n / 2)
      .agg(min("z")).collect()(0).getLong(0)
    assert(maxLow < minHigh)
  }

  test("z layout narrows per-file spans in BOTH columns; x-sort does not") {
    val n = 100000L
    // decorrelated columns: every (x, y) combination occurs
    val df = spark.range(n).select(
      (col("id") % 317).as("x"), ((col("id") * 7919) % 311).as("y"))
    val zDir = CacheHygiene.tempDir("zorder")
    val xDir = CacheHygiene.tempDir("xsort")
    Layout.writeZOrdered(df, zDir, "x", "y", 0L, 316L, 0L, 310L,
      files = 16, bits = 8)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)

    def spans(dir: String): (Double, Double) = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
        .agg(avg("xs"), avg("ys")).collect()(0)
      (perFile.getDouble(0), perFile.getDouble(1))
    }
    val (zx, zy) = spans(zDir)
    val (sx, sy) = spans(xDir)
    // x-sort: x-span tiny, y-span ≈ full range (no pruning on y)
    assert(sx < 317 * 0.2, s"x-sorted x-span $sx")
    assert(sy > 311 * 0.9, s"x-sorted y-span should be ~full, was $sy")
    // z-layout: BOTH spans well under half the range (16 files ≈ 4×4 grid
    // of squares → span ≈ range/4 per column; assert a loose /2)
    assert(zx < 317 * 0.5, s"z x-span $zx")
    assert(zy < 311 * 0.5, s"z y-span $zy")
  }
}
