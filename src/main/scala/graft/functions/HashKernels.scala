package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftext.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd portable polynomial hash — the hot kernel under every
  * sketch and deterministic-sampling operator (KMV, count-min, quantile,
  * hash/mixture sampling, simhash signatures).
  *
  * Semantics are EXACTLY the relational fold the oracles replay:
  * `h ← (h·mult + ascii(c)) mod p` over the characters of
  * `split(text, "")` — i.e. per Unicode code point, contributing the
  * code point value for BMP characters and (mirroring `ascii()`'s
  * charAt(0)) the high-surrogate unit for supplementary ones. The
  * SQL-expressible recurrence is the portability contract; this kernel
  * is only a faster evaluator for it. The previous formulation — a
  * `transform(split(...))` + `aggregate` higher-order pipeline — ran
  * interpreted (HOFs never enter whole-stage codegen) and allocated a
  * per-character string array per row; this expression participates in
  * whole-stage codegen via `doGenCode` (static-call kernel, the same
  * shape as TextKernels.BoundedLevenshtein) and walks the string once.
  * Measured in SCALE.md § "Round-6 extension operators": the 100M-token
  * count-min counter build drops from 26 s (interpreted, C2-warm) to
  * ~3 s.
  *
  * Equality with the HOF form is pinned two ways: a randomized unit spec
  * (ASCII + multibyte) and the 86-query DuckDB oracle gate, which
  * hash-compares every sketch output at three scale factors.
  */
object HashKernels {

  /** The fold kernel. Empty input → 0 (the fold's initial accumulator —
    * identical to the HOF form, whose `split("", "") = [""]` contributes
    * `ascii("") = 0` through one fold step: (0·m + 0) mod p = 0). */
  def polyHash(s: UTF8String, mult: Long, mod: Long): Long = {
    val str = s.toString
    val n = str.length
    var h = 0L
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val w = Character.charCount(cp)
      // ascii(c) of a split-element is charAt(0): the code point for BMP
      // chars, the high surrogate for supplementary ones
      val v = if (w == 1) cp else str.charAt(i).toInt
      h = (h * mult + v) % mod
      i += w
    }
    h
  }

  case class PolyHash(child: Expression, mult: Long, mod: Long)
      extends UnaryExpression {
    require(mod > 0 && mult > 0 && mult < mod,
      s"poly_hash needs 0 < mult < mod, got mult=$mult mod=$mod")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects a string input, got $other")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "poly_hash"

    override protected def nullSafeEval(input: Any): Any =
      polyHash(input.asInstanceOf[UTF8String], mult, mod)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashKernels.polyHash($c, ${mult}L, ${mod}L)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API: `h ← (h·mult + char) mod p` over `text`'s characters. */
  def polyHash(text: Column, mult: Long, mod: Long): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(text), mult, mod))

  /** Cut positions of a token array: indices `i` with
    * `polyHash(ts[i]) mod divisor == remainder` — the boundary scan of
    * content-defined chunking as ONE kernel call per row. A
    * `filter(sequence(...), i -> polyHash(element_at(ts, i+1)) ...)`
    * HOF computes the identical positions but runs interpreted per
    * ELEMENT (HOFs never enter whole-stage codegen); this walks the
    * array once in compiled code (measured on the q176 bench: 7.3 s →
    * sub-second at sf0.1). Null elements are never cuts. */
  def cdcCutsKernel(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                    mult: Long, mod: Long, divisor: Int,
                    remainder: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          polyHash(arr.getUTF8String(i), mult, mod) % divisor == remainder)
        buf += i
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf.result())
  }

  case class CdcCuts(child: Expression, mult: Long, mod: Long,
                     divisor: Int, remainder: Int)
      extends UnaryExpression {
    require(mod > 0 && mult > 0 && mult < mod,
      s"cdc_cuts needs 0 < mult < mod, got mult=$mult mod=$mod")
    require(divisor >= 2 && remainder >= 0 && remainder < divisor,
      s"cdc_cuts needs 0 <= remainder < divisor, divisor >= 2; " +
        s"got divisor=$divisor remainder=$remainder")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cdc_cuts expects array<string>, got $other")
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def prettyName: String = "cdc_cuts"

    override protected def nullSafeEval(input: Any): Any =
      cdcCutsKernel(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        mult, mod, divisor, remainder)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashKernels.cdcCutsKernel($c, ${mult}L, ${mod}L, " +
          s"$divisor, $remainder)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API: [[CdcCuts]] over a token-array column. */
  def cdcCuts(tokens: Column, mult: Long, mod: Long, divisor: Int,
              remainder: Int): Column =
    ColumnBridge.column(CdcCuts(ColumnBridge.expression(tokens),
      mult, mod, divisor, remainder))

  /** Winnowing fingerprints of a token array as ONE kernel call (r18):
    * the HOF formulation (slideGrams → per-gram [[polyHash]] → per-window
    * `array_min(slice(...))` → `array_distinct`) runs interpreted per
    * ELEMENT and rebuilds each k-gram string character-by-character, so
    * a w-window pass costs O(grams·w) interpreted steps on top of
    * O(grams·k·len) string building. This kernel computes the SAME
    * values in one compiled pass:
    *
    *  - per-token (hash, mult^codepoints) pairs, O(total chars);
    *  - gram hash by the concat-combine identity
    *    H(a·b) = (H(a)·mult^|b| + H(b)) mod p, folding a separator step
    *    (`h·mult + 32`) between adjacent non-null tokens — EXACTLY the
    *    fold [[polyHash]] runs over `array_join(slice(ts,i+1,k), " ")`
    *    (array_join skips null elements, so null tokens contribute
    *    neither chars nor a separator), O(grams·k) long ops;
    *  - sliding window minima over max(grams−w+1, 1) windows via a
    *    monotonic deque, O(grams);
    *  - distinct preserving FIRST-OCCURRENCE order (array_distinct's
    *    order), so the output array is element-identical, not just
    *    set-identical.
    *
    * size(ts) < k → empty array (slideGrams' clamp); null array → null.
    * Parity with the HOF form is pinned in NearDupSpec. */
  def winnowKernel(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                   k: Int, w: Int, mult: Long, mod: Long)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n < k)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[Long])
    // per-token hash and mult^steps (steps = code points, the fold's
    // per-char count); null tokens marked with pow = -1
    val th = new Array[Long](n)
    val tp = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { th(i) = 0L; tp(i) = -1L }
      else {
        val str = arr.getUTF8String(i).toString
        var h = 0L
        var pw = 1L
        var j = 0
        while (j < str.length) {
          val cp = str.codePointAt(j)
          val cw = Character.charCount(cp)
          val v = if (cw == 1) cp else str.charAt(j).toInt
          h = (h * mult + v) % mod
          pw = (pw * mult) % mod
          j += cw
        }
        th(i) = h; tp(i) = pw
      }
      i += 1
    }
    val nGrams = n - k + 1
    val gh = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      var h = 0L
      var first = true
      var j = g
      while (j < g + k) {
        if (tp(j) >= 0L) { // non-null token
          if (!first) h = (h * mult + 32L) % mod // the " " separator char
          h = (h * tp(j) + th(j)) % mod
          first = false
        }
        j += 1
      }
      gh(g) = h
      g += 1
    }
    val nWin = math.max(nGrams - w + 1, 1)
    val out = new Array[Long](nWin)
    if (nGrams < w) {
      // slideGrams' clamp: a single window covering every gram
      var m = gh(0)
      var t = 1
      while (t < nGrams) { if (gh(t) < m) m = gh(t); t += 1 }
      out(0) = m
    } else {
      // monotonic deque of indices with strictly increasing values; a
      // new equal-or-smaller value evicts the tail (min is identical
      // either way)
      val dq = new Array[Int](nGrams)
      var lo = 0
      var hi = 0 // exclusive
      var p = 0
      while (p < nGrams) {
        while (hi > lo && gh(dq(hi - 1)) >= gh(p)) hi -= 1
        dq(hi) = p; hi += 1
        val winStart = p - w + 1
        if (winStart >= 0) {
          while (dq(lo) < winStart) lo += 1
          out(winStart) = gh(dq(lo))
        }
        p += 1
      }
    }
    // distinct, first-occurrence order
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var q = 0
    while (q < nWin) { seen.add(out(q)); q += 1 }
    val res = new Array[Long](seen.size)
    val it = seen.iterator()
    var r = 0
    while (it.hasNext) { res(r) = it.next(); r += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(res)
  }

  case class WinnowFingerprints(child: Expression, k: Int, w: Int,
                                mult: Long, mod: Long)
      extends UnaryExpression {
    require(k >= 1 && w >= 1, s"winnow needs k,w >= 1, got k=$k w=$w")
    // the combine step multiplies two residues < mod (h*tp + th), so mod
    // must stay below sqrt(Long.MaxValue) or the product silently wraps
    require(mod > 0 && mult > 0 && mult < mod && mod <= 3037000499L,
      s"winnow needs 0 < mult < mod <= 3037000499, got mult=$mult mod=$mod")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints expects array<string>, got $other")
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_fingerprints"

    override protected def nullSafeEval(input: Any): Any =
      winnowKernel(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        k, w, mult, mod)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashKernels.winnowKernel($c, $k, $w, " +
          s"${mult}L, ${mod}L)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API: [[WinnowFingerprints]] over a token-array column. */
  def winnowFingerprints(tokens: Column, k: Int, w: Int, mult: Long,
                         mod: Long): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(tokens),
      k, w, mult, mod))
}
