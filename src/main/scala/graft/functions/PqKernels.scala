package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd product-quantization kernels for LARGE codebooks.
  *
  * A plan-literal formulation unrolls k×m distance expressions into the
  * generated code; at 64 codes/subspace the projection method overflows
  * janino's 64 KB limit and the whole stage falls out of codegen
  * (measured in SCALE.md § "Round-10 probe: IVF-PQ / IVFADC").
  * Production PQ runs 256 codes/subspace, so the codebook must NOT live
  * in the source text.
  * Here it rides the plan as a REFERENCE OBJECT (a [[Kernel]] constant,
  * `ctx.addReferenceObj` — a field on the generated class, like any
  * broadcast scalar): the generated code is a fixed-size kernel call
  * regardless of k, and the argmin/table loops run as tight JVM loops
  * over a flat double[].
  *
  * Arithmetic is EXACTLY the literal path's: per-subspace squared-L2
  * accumulated left-to-right in double (float widened exactly), argmin
  * and probe ranking tie-broken to the SMALLEST code/list id — results
  * are bit-identical to `Quantize`'s literal formulation (spec-pinned by
  * QuantizeSpec's literal≡kernel tests and the q95 oracle).
  *
  * Null semantics: null array → null result; any null ELEMENT → null
  * result (the literal path's zip_with would null the affected subspace
  * and poison the same row — embeddings are non-null by contract either
  * way, and the whole-row null is the stricter, documented behavior). */
object PqKernels {

  /** `v` widened to a double[] (exact for float), or null when it does
    * not hold exactly `dim` non-null elements. */
  private def widen(v: ArrayData, kind: Int, dim: Int): Array[Double] = {
    if (v.numElements() != dim) return null
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      out(i) = Kernel.elem(v, i, kind)
      i += 1
    }
    out
  }

  /** Squared L2 between x[from, from+len) and the same span of code c's
    * centroid, accumulated left to right. `cb` is row-major: code c's
    * full-dim centroid occupies cb[c*dim .. c*dim+dim). */
  private def dist(x: Array[Double], cb: Array[Double], c: Int, from: Int,
                   len: Int): Double = {
    val base = c * x.length
    var acc = 0.0
    var i = from
    while (i < from + len) {
      val d = x(i) - cb(base + i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Per-subspace argmin codes + summed distortion. */
  def encode(v: ArrayData, kind: Int, cb: Array[Double], m: Int,
             sub: Int): InternalRow = {
    val x = widen(v, kind, m * sub)
    if (x == null) return null
    val k = cb.length / x.length
    val codes = new Array[Int](m)
    var distortion = 0.0
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < k) {
        val d = dist(x, cb, c, j * sub, sub)
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      distortion += best
      j += 1
    }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(codes), distortion))
  }

  /** The m ADC lookup tables for one query vector: table j holds the
    * query's per-code subspace-j squared-L2 distances, indexed by code. */
  def adcTables(v: ArrayData, kind: Int, cb: Array[Double], m: Int,
                sub: Int): ArrayData = {
    val x = widen(v, kind, m * sub)
    if (x == null) return null
    val k = cb.length / x.length
    val tables = new Array[Any](m)
    var j = 0
    while (j < m) {
      val t = new Array[Double](k)
      var c = 0
      while (c < k) { t(c) = dist(x, cb, c, j * sub, sub); c += 1 }
      tables(j) = UnsafeArrayData.fromPrimitiveArray(t)
      j += 1
    }
    new GenericArrayData(tables)
  }

  /** The nProbe nearest full-dim centroids, ascending (dist, id) —
    * identical ordering to the literal array_sort-of-structs probe. */
  def nearestLists(v: ArrayData, kind: Int, cb: Array[Double], dim: Int,
                   nProbe: Int): ArrayData = {
    val x = widen(v, kind, dim)
    if (x == null) return null
    nearest(x, cb, nProbe)
  }

  private def nearest(x: Array[Double], cb: Array[Double],
                      nProbe: Int): ArrayData = {
    val k = cb.length / x.length
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) { dists(c) = dist(x, cb, c, 0, x.length); c += 1 }
    val n = math.min(nProbe, k)
    // selection of n smallest by (dist, id): n·k scan, n and k are both
    // index-side constants (nProbe ≤ nLists ≪ corpus)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < n) {
      var best = Double.PositiveInfinity
      var bestC = -1
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && dists(c2) < best) { best = dists(c2); bestC = c2 }
        c2 += 1
      }
      taken(bestC) = true
      out(r) = bestC
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** v minus its nearest centroid (the IVF residual), one pass. */
  def residual(v: ArrayData, kind: Int, cb: Array[Double],
               dim: Int): ArrayData = {
    val x = widen(v, kind, dim)
    if (x == null) return null
    val c = nearest(x, cb, 1).getInt(0)
    var i = 0
    while (i < dim) { x(i) -= cb(c * dim + i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(x)
  }

  /** Flatten a (code → centroid) codebook into the kernels' row-major
    * layout, requiring contiguous codes 0..k-1 (what `seedCodebook`
    * mints). */
  def flatten(cb: Seq[(Int, Seq[Double])]): Array[Double] = {
    val sorted = cb.sortBy(_._1)
    require(sorted.map(_._1) == sorted.indices.toSeq,
      s"codebook codes must be contiguous 0..${cb.size - 1}")
    sorted.flatMap(_._2).toArray
  }

  /** The kernels read array<double> or array<float> vectors. */
  private val Vectors: Seq[DataType] = Kernel.NumericArrays.take(2)

  def encodeCol(vec: Column, cb: Seq[(Int, Seq[Double])], m: Int,
                sub: Int): Column =
    Kernel.call("pq_encode_k", this, "encode", StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("distortion", DoubleType, nullable = false))),
      Seq(vec -> Vectors), flatten(cb), m, sub)

  def adcTablesCol(vec: Column, cb: Seq[(Int, Seq[Double])], m: Int,
                   sub: Int): Column =
    Kernel.call("pq_adc_tables_k", this, "adcTables",
      ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false),
      Seq(vec -> Vectors), flatten(cb), m, sub)

  def nearestListsCol(vec: Column, cb: Seq[(Int, Seq[Double])], dim: Int,
                      nProbe: Int): Column =
    Kernel.call("ivf_nearest_lists_k", this, "nearestLists",
      ArrayType(IntegerType, containsNull = false),
      Seq(vec -> Vectors), flatten(cb), dim, nProbe)

  def residualCol(vec: Column, cb: Seq[(Int, Seq[Double])],
                  dim: Int): Column =
    Kernel.call("ivf_residual_k", this, "residual",
      ArrayType(DoubleType, containsNull = false),
      Seq(vec -> Vectors), flatten(cb), dim)
}
