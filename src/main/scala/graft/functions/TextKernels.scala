package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd text kernels for the near-dup hot path.
  *
  * `boundedLevenshtein(a, b, k)` is the banded (Ukkonen) edit distance:
  * exact distance when ≤ k, −1 otherwise. The full DP computes |a|·|b|
  * cells; the band computes at most (2k+1)·min(|a|,|b|) and exits the
  * moment a whole band row exceeds k — for a verify stage that mostly
  * REJECTS candidate pairs (the common case in blocker→verify dedup),
  * rejection costs O(k²) instead of O(n²). Every kernel here is called
  * from inside whole-stage codegen through [[Kernel]] (a static call,
  * the same shape Spark's own string expressions use) — no boxing, no
  * fallback.
  */
object TextKernels {

  /** Banded Levenshtein over code points. Returns the exact distance if
    * it is ≤ k, else −1. Matches `levenshtein()` semantics in the ≤ k
    * regime (unit-tested against the full DP on random inputs). */
  def boundedLevenshtein(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return -1
    val s = a.toString.codePoints.toArray
    val t = b.toString.codePoints.toArray
    // rows iterate the LONGER string; one band row over the shorter
    val (sh, lo) = if (s.length <= t.length) (t, s) else (s, t)
    val m = sh.length
    val n = lo.length
    if (m - n > k) return -1
    if (n == 0) return m // m ≤ k guaranteed by the length test above
    val inf = k + 1 // any value > k behaves identically; capping avoids overflow
    val row = new Array[Int](n + 1) // D[i-1][*] within the previous band
    var j = 0
    while (j <= n) { row(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= m) {
      val from = math.max(1, i - k)
      val to = math.min(n, i + k)
      val prevBandHi = math.min(n, i - 1 + k)
      var diag = if (from - 1 <= prevBandHi) row(from - 1) else inf // D[i-1][from-1]
      var left = if (from == 1 && i <= k) i else inf // D[i][from-1]
      // store the left edge: the NEXT row's diag may read row(from-1)
      row(from - 1) = left
      var best = inf
      j = from
      while (j <= to) {
        val up = if (j <= prevBandHi) row(j) else inf // D[i-1][j]
        val cost = if (sh(i - 1) == lo(j - 1)) 0 else 1
        var v = diag + cost
        if (up + 1 < v) v = up + 1
        if (left + 1 < v) v = left + 1
        if (v > inf) v = inf
        row(j) = v
        diag = up
        left = v
        if (v < best) best = v
        j += 1
      }
      if (best >= inf) return -1 // whole band exceeded k: early exit
      i += 1
    }
    if (row(n) <= k) row(n) else -1
  }

  /** Column API: exact distance if ≤ `bound`, −1 otherwise. */
  def boundedLevenshtein(a: Column, b: Column, bound: Int): Column =
    Kernel.call("bounded_levenshtein", this, "boundedLevenshtein",
      IntegerType, Seq(a -> Strings, b -> Strings,
        lit(bound) -> Seq(IntegerType)))

  /** Unicode NFC normalization (canonical composition): "é" as e+combining
    * acute and "é" precomposed become the SAME string — the prerequisite
    * for exact dedup / fingerprinting over text from mixed encoders.
    * Pure-ASCII strings (the overwhelming common case) are screened on
    * the UTF8String BYTES — truly zero-copy: ASCII is closed under NFC,
    * so no `toString` materialization is ever paid for them. Non-ASCII
    * already-NFC strings pay one String copy for the quick-check
    * (`isNormalized`) and pass the original through; only denormalized
    * input pays the full normalize. */
  def nfc(s: UTF8String): UTF8String = {
    if (s.isFullAscii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Column API: Unicode NFC canonical composition. */
  def nfcNormalize(text: Column): Column =
    Kernel.call("nfc_normalize", this, "nfc", StringType,
      Seq(text -> Strings))

  /** Number of letter CODE POINTS in the string — the exact value of
    * `length(regexp_replace(text, "[^\\p{L}]", ""))` computed in ONE
    * allocation-free pass instead of a regex scan that materializes a
    * letters-only copy just to take its length (the alphaRatio hot
    * path — every quality scan pays it per row). Parity notes, pinned
    * by TextKernelsSpec: Java's `\p{L}` is the general categories
    * Lu|Ll|Lt|Lm|Lo — exactly `Character.isLetter` over code points —
    * and Spark's `length()` counts code points (UTF8String.numChars),
    * so an astral letter (surrogate pair) contributes 1, same as it
    * does through the regex replace (and same as DuckDB's code-point
    * `length`); a lone surrogate is not a letter either way.
    * Full-ASCII strings (the common case) are screened on the
    * UTF8String bytes — no `toString` copy at all. */
  def letterUnits(s: UTF8String): Int = {
    if (s.isFullAscii) {
      var i = 0
      var n = 0
      val len = s.numBytes
      while (i < len) {
        val b = s.getByte(i)
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) n += 1
        i += 1
      }
      n
    } else {
      val str = s.toString
      var i = 0
      var n = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        if (Character.isLetter(cp)) n += 1
        i += Character.charCount(cp)
      }
      n
    }
  }

  /** Column API: letter-code-unit count (see [[letterUnits]]). */
  def letterUnits(text: Column): Column =
    Kernel.call("letter_units", this, "letterUnits", IntegerType,
      Seq(text -> Strings))

  /** Word n-grams of a token array as ONE kernel call (r18) — the hot
    * map-side pass under every shingle/gram operator (contamination,
    * curation, near-dup postings, novelty, n-gram analytics). The HOF
    * formulation (`transform(sequence(...), i -> array_join(slice(ts,
    * i+1, n), " "))` ± `array_distinct`) runs interpreted per ELEMENT
    * and allocates a slice array + join per gram; this walks the token
    * array once in compiled code, joining each window with
    * `UTF8String.concatWs` (byte-level copies, null elements skipped —
    * array_join's exact semantics).
    *
    * Two modes, matching the two existing formulations exactly:
    *  - SLIDE ([[Diversity.slideGrams]]'s contract): full n-windows
    *    only; fewer than n tokens → empty array; no distinct.
    *  - SHINGLE ([[TextExprs.wordShingles]]'s contract): positions
    *    0..max(k−n, 0) with the final windows TRUNCATED at the array
    *    end (a k<n doc yields its whole text as one shingle), then
    *    distinct preserving first-occurrence order (array_distinct's
    *    order); an empty token array → empty set.
    *
    * Parity with the HOF forms is pinned in TextExprsSpec. */
  def wordGramsKernel(ts: ArrayData, n: Int, shingle: Boolean): ArrayData = {
    val k = ts.numElements()
    val empty = if (shingle) k == 0 else k < n
    if (empty)
      return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](k)
    var i = 0
    while (i < k) {
      toks(i) = if (ts.isNullAt(i)) null else ts.getUTF8String(i)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    // SLIDE has k >= n here, so only SHINGLE's last windows are truncated
    val out = new Array[Any](math.max(k - n, 0) + 1)
    var g = 0
    while (g < out.length) {
      val win = java.util.Arrays.copyOfRange(toks, g, math.min(g + n, k))
      out(g) = UTF8String.concatWs(sep, win: _*)
      g += 1
    }
    new GenericArrayData(if (shingle) out.distinct else out)
  }

  private def wordGrams(tokens: Column, n: Int, shingle: Boolean): Column = {
    require(n >= 1, s"word_grams needs n >= 1, got $n")
    Kernel.call(if (shingle) "word_shingles_k" else "word_grams_k", this,
      "wordGramsKernel", ArrayType(StringType, containsNull = false),
      Seq(tokens -> Seq(ArrayType(StringType))), n, shingle)
  }

  /** Column API: SLIDE-mode [[wordGramsKernel]] (full windows, no
    * distinct). */
  def slideGrams(tokens: Column, n: Int): Column =
    wordGrams(tokens, n, shingle = false)

  /** Column API: SHINGLE-mode [[wordGramsKernel]] (clamped windows,
    * distinct). */
  def wordShingles(tokens: Column, n: Int): Column =
    wordGrams(tokens, n, shingle = true)

  /** Shannon entropy (nats) of the string's CODE-POINT distribution,
    * replicating TextExprs.charEntropy's interpreted HOF formulation
    * BIT-IDENTICALLY (r19, guide §4.1 — the last interpreted hot-path
    * expression): the HOF folds `acc − p·ln(p)` over the SORTED distinct
    * single-character strings, and UTF-8 byte order equals code-point
    * order, so sorting the code-point array and run-length iterating it
    * visits the same terms in the same float summation order — with the
    * same per-term ops (int count → double, one division, Math.log, one
    * multiply, one subtract). Cost O(len·log len) per row (sort +
    * run-length) instead of the HOF's O(distinct × len) filter rescans,
    * and it runs inside whole-stage codegen instead of interpreted
    * HigherOrderFunction eval. Parity pinned by TextExprsSpec against
    * the original formulation, supplementary-plane input included. */
  def charEntropyNats(s: UTF8String): Double = {
    val str = s.toString
    val cps = str.codePoints().toArray
    if (cps.length == 0) return 0.0 // callers guard empties; defensive
    java.util.Arrays.sort(cps)
    val n = cps.length.toDouble
    var ent = 0.0
    var i = 0
    while (i < cps.length) {
      var j = i
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val p = (j - i).toDouble / n
      // StrictMath, not Math: Catalyst's log evals through StrictMath.log
      // (UnaryLogExpression), and the HotSpot Math.log intrinsic can be a
      // ULP off — parity is asserted in doubleToLongBits
      ent = ent - p * java.lang.StrictMath.log(p)
      i = j
    }
    ent
  }

  /** Column API: un-rounded code-point entropy in nats (callers own the
    * empty-string guard and the oracle-grain rounding — see
    * TextExprs.charEntropy). */
  def charEntropyNats(text: Column): Column =
    Kernel.call("char_entropy", this, "charEntropyNats", DoubleType,
      Seq(text -> Strings))

  private val Strings = Seq(StringType)
}
