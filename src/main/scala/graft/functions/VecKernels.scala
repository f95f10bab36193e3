package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Native codegen'd dense-vector kernels — the inner loop of every
  * similarity operator (brute-force/IVF top-k scoring, embedding
  * near-dup, LSH plane projections, k-means assignment).
  *
  * Semantics are EXACTLY the relational fold the oracles replay:
  * `aggregate(zip_with(cast(a), cast(b), x·y), 0.0, +)` — element-wise
  * product (or squared difference) accumulated left-to-right in double.
  * float→double widening is exact and the loop preserves the fold's
  * addition order, so results are bit-identical to the higher-order
  * form (pinned by VecKernelsSpec and the oracle gate). Like poly_hash,
  * the HOF pipeline ran interpreted (HOFs never enter whole-stage
  * codegen) and boxed every element; this kernel walks the two
  * ArrayData buffers once per row inside codegen.
  *
  * Null semantics mirror the HOF form: null array, mismatched lengths
  * (zip_with pads with null), or any null element → null result. */
object VecKernels {

  /** mode 0: Σ a·b (dot); mode 1: Σ (a−b)² (squared L2). Boxed return
    * carries the null case; one box per ROW, vs one per element before.
    * The kinds select the element reader ([[Kernel.elem]]) — integer
    * arrays are widened to double per element, exactly what the
    * pre-kernel `cast('array<double>')` fallback did, so external callers
    * with numeric (non-float) embeddings keep working. */
  def combine(a: ArrayData, aKind: Int, b: ArrayData, bKind: Int,
      mode: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = Kernel.elem(a, i, aKind)
      val y = Kernel.elem(b, i, bKind)
      acc += (if (mode == 0) x * y else (x - y) * (x - y))
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  private def vec(name: String, a: Column, b: Column, mode: Int): Column =
    Kernel.call(name, this, "combine", DoubleType,
      Seq(a -> Kernel.NumericArrays, b -> Kernel.NumericArrays), mode)

  def dot(a: Column, b: Column): Column = vec("vec_dot", a, b, 0)

  def l2sq(a: Column, b: Column): Column = vec("vec_l2sq", a, b, 1)
}
