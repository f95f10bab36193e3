package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
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
  * per-character string array per row; this kernel is called from inside
  * whole-stage codegen (a [[Kernel]] node) and walks the string once.
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
  def polyHash(s: UTF8String, mult: Long, mod: Long): Long =
    polyHash(s.toString, mult, mod)

  private def polyHash(str: String, mult: Long, mod: Long): Long = {
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

  /** Column API: `h ← (h·mult + char) mod p` over `text`'s characters. */
  def polyHash(text: Column, mult: Long, mod: Long): Column = {
    require(mod > 0 && mult > 0 && mult < mod,
      s"poly_hash needs 0 < mult < mod, got mult=$mult mod=$mod")
    Kernel.call("poly_hash", this, "polyHash", LongType,
      Seq(text -> Seq(StringType)), mult, mod)
  }

  /** Cut positions of a token array: indices `i` with
    * `polyHash(ts[i]) mod divisor == remainder` — the boundary scan of
    * content-defined chunking as ONE kernel call per row. A
    * `filter(sequence(...), i -> polyHash(element_at(ts, i+1)) ...)`
    * HOF computes the identical positions but runs interpreted per
    * ELEMENT (HOFs never enter whole-stage codegen); this walks the
    * array once in compiled code (measured on the q176 bench: 7.3 s →
    * sub-second at sf0.1). Null elements are never cuts. */
  def cdcCutsKernel(arr: ArrayData, mult: Long, mod: Long, divisor: Int,
                    remainder: Int): ArrayData = {
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          polyHash(arr.getUTF8String(i), mult, mod) % divisor == remainder)
        buf += i
      i += 1
    }
    ArrayData.toArrayData(buf.result())
  }

  /** Column API: `cdc_cuts`, [[cdcCutsKernel]] over a token-array column. */
  def cdcCuts(tokens: Column, mult: Long, mod: Long, divisor: Int,
              remainder: Int): Column = {
    require(mod > 0 && mult > 0 && mult < mod,
      s"cdc_cuts needs 0 < mult < mod, got mult=$mult mod=$mod")
    require(divisor >= 2 && remainder >= 0 && remainder < divisor,
      s"cdc_cuts needs 0 <= remainder < divisor, divisor >= 2; " +
        s"got divisor=$divisor remainder=$remainder")
    Kernel.call("cdc_cuts", this, "cdcCutsKernel",
      ArrayType(IntegerType, containsNull = false),
      Seq(tokens -> Seq(ArrayType(StringType))), mult, mod, divisor, remainder)
  }

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
  def winnowKernel(arr: ArrayData, k: Int, w: Int, mult: Long,
                   mod: Long): ArrayData = {
    val n = arr.numElements()
    if (n < k) return ArrayData.toArrayData(Array.empty[Long])
    // per-token hash and mult^steps (steps = code points, the fold's
    // per-char count); null tokens marked with pow = -1
    val th = new Array[Long](n)
    val tp = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) tp(i) = -1L
      else {
        val str = arr.getUTF8String(i).toString
        th(i) = polyHash(str, mult, mod)
        var pw = 1L
        var steps = str.codePointCount(0, str.length)
        while (steps > 0) { pw = (pw * mult) % mod; steps -= 1 }
        tp(i) = pw
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
    // slideGrams' clamp: fewer grams than w make one window of them all
    val win = math.min(w, nGrams)
    val out = new Array[Long](nGrams - win + 1)
    // monotonic deque of indices with strictly increasing values; a new
    // equal-or-smaller value evicts the tail (min is identical either way)
    val dq = new Array[Int](nGrams)
    var lo = 0
    var hi = 0 // exclusive
    var p = 0
    while (p < nGrams) {
      while (hi > lo && gh(dq(hi - 1)) >= gh(p)) hi -= 1
      dq(hi) = p; hi += 1
      val winStart = p - win + 1
      if (winStart >= 0) {
        while (dq(lo) < winStart) lo += 1
        out(winStart) = gh(dq(lo))
      }
      p += 1
    }
    ArrayData.toArrayData(out.distinct) // first-occurrence order
  }

  /** Column API: `winnow_fingerprints`, [[winnowKernel]] over a
    * token-array column. */
  def winnowFingerprints(tokens: Column, k: Int, w: Int, mult: Long,
                         mod: Long): Column = {
    require(k >= 1 && w >= 1, s"winnow needs k,w >= 1, got k=$k w=$w")
    // the combine step multiplies two residues < mod (h*tp + th), so mod
    // must stay below sqrt(Long.MaxValue) or the product silently wraps
    require(mod > 0 && mult > 0 && mult < mod && mod <= 3037000499L,
      s"winnow needs 0 < mult < mod <= 3037000499, got mult=$mult mod=$mod")
    Kernel.call("winnow_fingerprints", this, "winnowKernel",
      ArrayType(LongType, containsNull = false),
      Seq(tokens -> Seq(ArrayType(StringType))), k, w, mult, mod)
  }
}
