package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftext.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd product-quantization kernels for LARGE codebooks.
  *
  * `Quantize`'s plan-literal formulation unrolls k×m distance expressions
  * into the generated code; at 64 codes/subspace the projection method
  * overflows janino's 64 KB limit and the whole stage falls out of
  * codegen (measured in SCALE.md § "Round-10 probe: IVF-PQ / IVFADC").
  * Production PQ runs 256 codes/subspace, so the codebook must NOT live
  * in the source text.
  * Here it rides the plan as a REFERENCE OBJECT (`ctx.addReferenceObj` —
  * a field on the generated class, like any broadcast scalar): the
  * generated code is a fixed-size kernel call regardless of k, and the
  * argmin/table loops run as tight JVM loops over a flat double[].
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

  private def elemKind(dt: DataType): Option[Int] = dt match {
    case ArrayType(DoubleType, _) => Some(0)
    case ArrayType(FloatType, _) => Some(1)
    case _ => None
  }

  private def elem(a: ArrayData, i: Int, kind: Int): Double =
    if (kind == 0) a.getDouble(i) else a.getFloat(i).toDouble

  /** Per-subspace argmin codes + summed distortion. `cb` is row-major:
    * code c's full-dim centroid occupies cb[c*dim .. c*dim+dim). */
  def encode(v: ArrayData, kind: Int, cb: Array[Double], m: Int,
             sub: Int): InternalRow = {
    val dim = m * sub
    val k = cb.length / dim
    if (v.numElements() != dim) return null
    val codes = new Array[Int](m)
    var distortion = 0.0
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < k) {
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val idx = j * sub + i
          if (v.isNullAt(idx)) return null
          val d = elem(v, idx, kind) - cb(c * dim + idx)
          acc += d * d
          i += 1
        }
        if (acc < best) { best = acc; bestC = c }
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
    val dim = m * sub
    val k = cb.length / dim
    if (v.numElements() != dim) return null
    val tables = new Array[Any](m)
    var j = 0
    while (j < m) {
      val t = new Array[Double](k)
      var c = 0
      while (c < k) {
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val idx = j * sub + i
          if (v.isNullAt(idx)) return null
          val d = elem(v, idx, kind) - cb(c * dim + idx)
          acc += d * d
          i += 1
        }
        t(c) = acc
        c += 1
      }
      tables(j) = UnsafeArrayData.fromPrimitiveArray(t)
      j += 1
    }
    new GenericArrayData(tables)
  }

  /** The nProbe nearest full-dim centroids, ascending (dist, id) —
    * identical ordering to the literal array_sort-of-structs probe. */
  def nearestLists(v: ArrayData, kind: Int, cb: Array[Double], dim: Int,
                   nProbe: Int): ArrayData = {
    val k = cb.length / dim
    if (v.numElements() != dim) return null
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return null
        val d = elem(v, i, kind) - cb(c * dim + i)
        acc += d * d
        i += 1
      }
      dists(c) = acc
      c += 1
    }
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
    val lists = nearestLists(v, kind, cb, dim, 1)
    if (lists == null) return null
    val c = lists.getInt(0)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      out(i) = elem(v, i, kind) - cb(c * dim + i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Base for the four kernel expressions: one array child, a flat
    * codebook reference, mode-specific kernel dispatch. `cb` is a Seq so
    * case-class equality (plan canonicalization, CSE) is structural. */
  sealed abstract class PqKernelExpr extends UnaryExpression {
    def cb: Seq[Double]
    @transient protected lazy val cbArr: Array[Double] = cb.toArray
    protected lazy val kind: Int = elemKind(child.dataType).get
    override def checkInputDataTypes(): TypeCheckResult =
      elemKind(child.dataType) match {
        case Some(_) => TypeCheckResult.TypeCheckSuccess
        case None => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<float|double>, got ${child.dataType}")
      }
    override def nullable: Boolean = true
    /** kernel call rendered into generated code; `$a` is the child. */
    protected def kernelCall(cbRef: String, a: String): String
    protected def kernelEval(a: ArrayData): Any
    override protected def nullSafeEval(a: Any): Any =
      kernelEval(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[]")
      nullSafeCodeGen(ctx, ev, a => {
        val r = ctx.freshName("pqR")
        val t = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .javaType(dataType)
        s"""
           |$t $r = ($t) ${kernelCall(cbRef, a)};
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r; }
         """.stripMargin
      })
    }
  }

  case class PqEncodeExpr(child: Expression, cb: Seq[Double], m: Int,
                          sub: Int) extends PqKernelExpr {
    override def dataType: DataType = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("distortion", DoubleType, nullable = false)))
    override def prettyName: String = "pq_encode_k"
    override protected def kernelCall(cbRef: String, a: String): String =
      s"graft.functions.PqKernels.encode($a, $kind, $cbRef, $m, $sub)"
    override protected def kernelEval(a: ArrayData): Any =
      encode(a, kind, cbArr, m, sub)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class AdcTablesExpr(child: Expression, cb: Seq[Double], m: Int,
                           sub: Int) extends PqKernelExpr {
    override def dataType: DataType =
      ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false)
    override def prettyName: String = "pq_adc_tables_k"
    override protected def kernelCall(cbRef: String, a: String): String =
      s"graft.functions.PqKernels.adcTables($a, $kind, $cbRef, $m, $sub)"
    override protected def kernelEval(a: ArrayData): Any =
      adcTables(a, kind, cbArr, m, sub)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class NearestListsExpr(child: Expression, cb: Seq[Double], dim: Int,
                              nProbe: Int) extends PqKernelExpr {
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "ivf_nearest_lists_k"
    override protected def kernelCall(cbRef: String, a: String): String =
      s"graft.functions.PqKernels.nearestLists($a, $kind, $cbRef, $dim, $nProbe)"
    override protected def kernelEval(a: ArrayData): Any =
      nearestLists(a, kind, cbArr, dim, nProbe)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class ResidualExpr(child: Expression, cb: Seq[Double], dim: Int)
      extends PqKernelExpr {
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "ivf_residual_k"
    override protected def kernelCall(cbRef: String, a: String): String =
      s"graft.functions.PqKernels.residual($a, $kind, $cbRef, $dim)"
    override protected def kernelEval(a: ArrayData): Any =
      residual(a, kind, cbArr, dim)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Flatten a (code → centroid) codebook into the kernels' row-major
    * layout, requiring contiguous codes 0..k-1 (what `seedCodebook`
    * mints — the same requirement the literal matrix path has). */
  def flatten(cb: Seq[(Int, Seq[Double])]): Seq[Double] = {
    val sorted = cb.sortBy(_._1)
    require(sorted.map(_._1) == sorted.indices.toSeq,
      s"codebook codes must be contiguous 0..${cb.size - 1}")
    sorted.flatMap(_._2)
  }

  def encodeCol(vec: Column, cb: Seq[(Int, Seq[Double])], m: Int,
                sub: Int): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(vec),
      flatten(cb), m, sub))

  def adcTablesCol(vec: Column, cb: Seq[(Int, Seq[Double])], m: Int,
                   sub: Int): Column =
    ColumnBridge.column(AdcTablesExpr(ColumnBridge.expression(vec),
      flatten(cb), m, sub))

  def nearestListsCol(vec: Column, cb: Seq[(Int, Seq[Double])], dim: Int,
                      nProbe: Int): Column =
    ColumnBridge.column(NearestListsExpr(ColumnBridge.expression(vec),
      flatten(cb), dim, nProbe))

  def residualCol(vec: Column, cb: Seq[(Int, Seq[Double])],
                  dim: Int): Column =
    ColumnBridge.column(ResidualExpr(ColumnBridge.expression(vec),
      flatten(cb), dim))
}
