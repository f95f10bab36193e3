package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar expressions for the LLM-data-pipeline operator set
  * (SURVEY.md §2.10). Everything here is composed from built-in higher-order
  * functions so the hot path stays inside whole-stage codegen — no UDFs.
  *
  * These generalize the reference's TITLE/DESCRIPTION string handling
  * (OmmCancellationHandler.java:142–143) to corpus scale.
  */
object TextExprs {

  /** Canonical text normalization — the curation stage that runs BEFORE
    * exact dedup / fingerprinting so byte-different renderings of the
    * same text collapse: Unicode NFC composition (codegen'd kernel,
    * zero-copy for already-normal text), lowercase, control chars →
    * space, whitespace runs collapsed, ends trimmed. Every step is a
    * deterministic builtin (or the NFC kernel) with an exact cross-engine
    * replay — fully oracle-expressible, all map-side. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(TextKernels.nfcNormalize(text)),
        "\\p{Cntrl}", " "),
      "\\s+", " "))

  /** Whitespace tokenization. Empty input → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** A `let` for Column expressions: binds `v` ONCE as a lambda variable
    * and evaluates `body` against the binding. Higher-order functions run
    * interpreted with no common-subexpression elimination into lambda
    * bodies, so any expensive expression referenced per-element of a
    * `transform` (a tokenize, a regex normalize) would otherwise be
    * recomputed on every element — O(n) evaluations of an O(n) expression.
    * Measured on the shingle path: ~2× end-to-end on q18 at sf0.1. */
  private def bind(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Word n-gram shingles, e.g. n=3 → "a b c" strings. Docs shorter than n
    * tokens yield a single shingle of all their tokens (never empty — keeps
    * short docs joinable in near-dup pipelines). */
  // Empty doc → empty shingle set (not [""]): otherwise every empty doc
  // becomes a mutual near-dup candidate of every other empty doc. r18:
  // one codegen'd kernel call (TextKernels.wordShingles)
  // replacing the interpreted transform/array_join/array_distinct HOF
  // chain — element-identical incl. first-occurrence distinct order,
  // pinned against the HOF reference in TextExprsSpec.
  def wordShingles(text: Column, n: Int): Column =
    TextKernels.wordShingles(tokens(text), n)

  /** Character n-grams of the whitespace-normalized text. */
  def charShingles(text: Column, n: Int): Column =
    bind(regexp_replace(trim(text), "\\s+", " ")) { norm =>
      array_distinct(transform(
        sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
        i => norm.substr(i, lit(n))))
    }

  /** Ratio of punctuation chars to total chars (quality-score feature). */
  def punctRatio(text: Column): Column = {
    val total = greatest(length(text), lit(1)).cast("double")
    length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / total
  }

  /** Ratio of alphabetic chars to total chars. The letter count is the
    * codegen'd one-pass [[TextKernels.letterUnits]] kernel — value-
    * identical to `length(regexp_replace(text, "[^\\p{L}]", ""))`
    * (pinned by TextKernelsSpec) without the regex scan + letters-only
    * string allocation that made this the quality panel's constant. */
  def alphaRatio(text: Column): Column = {
    val total = greatest(length(text), lit(1)).cast("double")
    TextKernels.letterUnits(text).cast("double") / total
  }

  /** Mean token length ×100, kept integral for oracle-exact comparison:
    * (sum of token chars) and token count are both exact ints. */
  def meanTokenLenX100(text: Column): Column = {
    val ts = tokens(text)
    val chars = aggregate(ts, lit(0L), (acc, t) => acc + length(t))
    call_function("div", chars * 100L, greatest(size(ts).cast("long"), lit(1L)))
  }

  /** Shannon entropy (nats) of the document's CHARACTER distribution —
    * the classic gibberish/low-information gate: keyboard mash, base64
    * blobs and repeated-char padding sit far from prose entropy (~2.9–3.3
    * nats for English), so a band filter on this catches junk that
    * token-level ratios miss. Computed map-side per row with no shuffle:
    * one HOF fold over the SORTED distinct-character array (sorted so the
    * float summation order is engine-replayable), each term counting its
    * character's occurrences with a `filter` scan. Cost is O(distinct ×
    * len) per doc — distinct chars are alphabet-bounded (≲ 100 for text),
    * so this is ~100× a plain scan in the worst case and far less in
    * practice; the relational alternative (explode chars → two-level agg)
    * trades that constant for a corpus-cardinality shuffle, the wrong side
    * of the trade at 100 TB. Empty docs → 0.0. `round(…, 4)` absorbs the
    * residual cross-engine float-order risk (q72 discipline). */
  def charEntropy(text: Column): Column =
    // r19: the sorted-distinct HOF fold (O(distinct × len) interpreted
    // `aggregate`/`filter` rescans) became the codegen'd
    // [[TextKernels.charEntropyNats]] kernel — bit-identical term order
    // and float ops (TextExprsSpec pins parity against the original
    // formulation); the empty guard and the oracle-grain round(…, 4)
    // stay out here so cross-engine semantics are unchanged.
    when(length(text) === 0, lit(0.0))
      .otherwise(round(TextKernels.charEntropyNats(text), 4))

  /** Deterministic 64-bit document fingerprint: polynomial rolling hash over
    * the characters (h ← (h·31 + code) mod 1e9+7). Same recurrence is
    * expressible in ANSI SQL (list_reduce), giving an oracle-checkable
    * fingerprint — unlike xxhash64 which is engine-specific. Evaluated by
    * the codegen'd `HashKernels.polyHash` (bit-identical to the HOF fold
    * it replaces — pinned by HashKernelsSpec and the oracle gate). */
  def polyFingerprint(text: Column): Column =
    HashKernels.polyHash(text, 31L, 1000000007L)

  /** GPT-2-style pre-tokenizer as a pure regex (the "BPE-ish" token count:
    * contractions, letter runs, digit runs, punctuation runs, each with an
    * optional leading space — the shape BPE vocabularies segment on). The
    * merge step needs a vocabulary; counting pre-tokens is the standard
    * vocabulary-free token estimate. */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0)) // whole-match group

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "this", "are")

  /** Composite document quality score in [0,1]: letters dominate, some
    * stopword mass (fluent prose), enough length. Fixed op order so the
    * same arithmetic is expressible in an oracle.
    *
    * TOKENIZE ONCE: the length and stopword features both derive from
    * one let-bound lowered token array (lowercasing never creates or
    * removes whitespace, so the token COUNT of `lower(text)` equals
    * that of `text` — value-identical to the spelled-out formula the
    * oracle replays, at one regex split instead of two), and the
    * letter feature is the one-pass [[TextKernels.letterUnits]] kernel
    * instead of a regex replace. Same numbers, ~one scan. */
  def qualityScore(text: Column): Column =
    bind(tokens(lower(text))) { ts => qualityScoreFromLowerTokens(text, ts) }

  /** [[qualityScore]] for callers that ALREADY hold the document's
    * token array (the datasheet panel tokenizes once for volume +
    * distinct counts — re-splitting inside the quality feature would
    * triple the split work). `lowerTs` must be the whitespace tokens of
    * `lower(text)` — equivalently `transform(tokens(text), lower)`. */
  def qualityScoreFromLowerTokens(text: Column, lowerTs: Column): Column = {
    val n = size(lowerTs)
    val lenScore = least(n.cast("double") / 100.0, lit(1.0))
    val hits = size(array_intersect(lowerTs,
      array(defaultStopwords.map(lit): _*)))
    val stopScore = least(
      hits.cast("double") / greatest(n, lit(1)).cast("double") * 5.0,
      lit(1.0))
    alphaRatio(text) * 0.4 + stopScore * 0.3 + lenScore * 0.3
  }

  /** Gopher-style quality-rule flags (Rae et al. 2021, Appendix A,
    * adapted to this engine's exact feature set): per-document boolean
    * rules plus their conjunction, every threshold evaluated in INTEGER
    * arithmetic (counts and cross-multiplication, no float division), so
    * any engine replays the decisions bit-exactly. Rules:
    *  - r_len:      minTokens ≤ n_tok ≤ maxTokens
    *  - r_wordlen:  mean token length in [3, 10] chars (×100 integral)
    *  - r_alpha:    ≥ 80% of tokens contain a letter (10·hits ≥ 8·n)
    *  - r_stop:     ≥ 2 distinct default stopwords present
    *  - r_distinct: ≥ 20% distinct tokens (5·distinct ≥ n — the cheap
    *    repetition gate; `repetitionStats` has the full n-gram version)
    *
    * One `tokens` evaluation per row (let-bound), everything map-side. */
  def gopherFlags(text: Column, minTokens: Int = 50,
                  maxTokens: Int = 100000): Column =
    bind(tokens(text)) { ts =>
      val n = size(ts).cast("long")
      val chars = aggregate(ts, lit(0L), (acc, t) => acc + length(t))
      val meanX100 = call_function("div", chars * 100L,
        greatest(n, lit(1L)))
      val alphaTok = size(filter(ts, t => t.rlike("\\p{L}"))).cast("long")
      val stopHits = size(array_intersect(
        array_distinct(transform(ts, t => lower(t))),
        array(defaultStopwords.map(lit): _*)))
      val rLen = n >= minTokens && n <= maxTokens
      val rWordLen = meanX100 >= 300L && meanX100 <= 1000L
      val rAlpha = alphaTok * 10L >= n * 8L
      val rStop = stopHits >= 2
      val rDistinct = size(array_distinct(ts)).cast("long") * 5L >= n
      struct(n.as("n_tok"), rLen.as("r_len"), rWordLen.as("r_wordlen"),
        rAlpha.as("r_alpha"), rStop.as("r_stop"),
        rDistinct.as("r_distinct"),
        (rLen && rWordLen && rAlpha && rStop && rDistinct).as("keep"))
    }

  /** Cheap n-gram-free language-ID heuristic: count stopword hits per
    * language and take the argmax. Returns the language code column. */
  def langIdGuess(text: Column): Column = {
    val ts = distinctTokens(lower(text))
    def hits(words: Seq[String]): Column =
      size(array_intersect(ts, array(words.map(lit): _*)))
    val scored = Seq(
      "en" -> hits(Seq("the", "a", "of", "and", "to", "in", "is", "it")),
      "es" -> hits(Seq("el", "la", "de", "y", "en", "que", "los", "un")),
      "fr" -> hits(Seq("le", "la", "de", "et", "un", "les", "des", "est")),
      "de" -> hits(Seq("der", "die", "das", "und", "ist", "ein", "nicht", "zu")),
      "zh" -> hits(Seq("的", "是", "了", "在", "我", "有", "和", "不")))
    // argmax by score with language-code tiebreak (deterministic)
    val structs = scored.map { case (lang, score) =>
      struct(score.as("score"), lit(lang).as("lang"))
    }
    // greatest picks max by struct ordering: score first, then lang desc? —
    // struct comparison is lexicographic on fields, so (score, lang): ties
    // resolve by lang string ordering; deterministic either way.
    greatest(structs: _*).getField("lang")
  }

  /** PII scrubbing patterns, applied IN THIS ORDER (each replacement token
    * is digit-free, so earlier classes never feed later ones). Patterns
    * stay inside the Java∩RE2 common subset — ASCII classes, bounded
    * repetition, \b word boundaries; no lookaround, no backrefs — so an
    * RE2-based engine (or the DuckDB oracle) applies them identically. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"),
    ("phone", "\\+?\\d[\\d\\s()-]{6,}\\d", "[PHONE]"),
    ("number", "\\d+", "[NUM]"))

  /** Redacted text: every pattern class replaced by its token, in order.
    * Chained codegen'd regexp_replace — no UDFs. */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, re, tok)) =>
      regexp_replace(c, re, java.util.regex.Matcher.quoteReplacement(tok))
    }

  /** Per-class redaction counts as one struct column (fields = class
    * names). Each class counts matches on the text AFTER all earlier
    * classes were replaced — the same value its replacement pass sees. */
  def piiCounts(text: Column): Column = {
    val (_, fields) = piiPatterns.foldLeft((text, Seq.empty[Column])) {
      case ((c, acc), (name, re, tok)) =>
        val counted = regexp_count(c, lit(re)).cast("long").as(s"n_$name")
        (regexp_replace(c, re,
          java.util.regex.Matcher.quoteReplacement(tok)), acc :+ counted)
    }
    struct(fields: _*)
  }
}
