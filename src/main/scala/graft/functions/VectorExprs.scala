package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar expressions over `array<float>` / `array<double>`
  * embedding columns (SURVEY.md §2.10 similarity search). Integral element
  * types (`array<int>` etc.) are accepted too — the kernel widens each
  * element to double, exactly what the former `cast('array<double>')`
  * fallback produced, so pre-kernel external callers keep working.
  *
  * The arithmetic contract is the plain left-to-right fold
  * `aggregate(zip_with(a, b, x·y), 0.0, +)` in double — reproducible and
  * oracle-comparable. `dot`/`l2sq` are evaluated by the codegen'd
  * `VecKernels.combine` kernel (bit-identical to that fold — higher-order
  * functions run interpreted and boxed every element; see
  * VecKernelsSpec for the pinned parity).
  */
object VectorExprs {

  def dot(a: Column, b: Column): Column = VecKernels.dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(norm2(a))

  /** Cosine similarity = dot / (|a|·|b|). Zero vectors → null (guarded). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val den = norm(a) * norm(b)
    when(den === 0.0, lit(null).cast("double")).otherwise(d / den)
  }

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column = VecKernels.l2sq(a, b)

  /** Sign bit of the projection onto a fixed hyperplane — one bit of a
    * random-hyperplane LSH signature. `plane` must be a literal array. */
  def hyperplaneBit(v: Column, plane: Seq[Double]): Column = {
    val p = array(plane.map(lit): _*)
    (dot(v, p) >= 0.0).cast("int")
  }

  /** The deterministic random-hyperplane set behind `lshBucket`. Exposed so
    * the exact plane coefficients can be rendered as literals into oracle
    * SQL — the bucketing is then fully reproducible by another engine. */
  def lshPlanes(dim: Int, bits: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** k-bit random-hyperplane LSH bucket id for cosine similarity.
    * Planes are generated from a deterministic seed at plan time (driver
    * side), so the bucketing is stable across runs and executors. At scale
    * this is the shuffle key that turns an O(n²) all-pairs similarity into
    * per-bucket local joins. */
  def lshBucket(v: Column, dim: Int, bits: Int, seed: Long): Column =
    lshPlanes(dim, bits, seed).zipWithIndex.map { case (plane, i) =>
      hyperplaneBit(v, plane) * (1 << i)
    }.reduce(_ + _)

  /** All bucket ids within Hamming distance `maxHamming` of `bucket` — the
    * multi-probe set. The XOR masks are plan-time literals; the result is a
    * small array column to `explode` on the (broadcast) query side. */
  def probeBuckets(bucket: Column, bits: Int, maxHamming: Int): Column = {
    val masks = (0 until (1 << bits))
      .filter(m => Integer.bitCount(m) <= maxHamming)
    array(masks.map(m => bucket.bitwiseXOR(lit(m))): _*)
  }
}
